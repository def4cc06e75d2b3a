"""The benchmark's own test. From the repository root:

    python -m pytest perfbench/test_perfbench.py -q

The smoke runs (tiny inputs, --smoke) must emit every metric that
BENCHMARK.json names, with its unit, for every workload, traced and
untraced; and a deliberately wrong result must trip each workload's
correctness gate.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from common import Ctx  # noqa: E402
from spans import Tracer  # noqa: E402


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


WORKLOADS = [w["name"] for w in _benchmark()["workloads"]]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_emits_every_metric(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in _benchmark()[kind]}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == want
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_run_outside_a_checkout_fails_without_a_result(tmp_path):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""


def _ctx(tmp_path) -> Ctx:
    return Ctx(str(tmp_path), seed=1, smoke=True, tracer=Tracer("test", enabled=False))


def test_llm_gate_trips_on_a_wrong_result(tmp_path):
    import duckdb

    from llm_curation import LlmCuration
    from tts_etl_pipeline_spark import registry

    ctx = _ctx(tmp_path)
    wl = LlmCuration(ctx)
    wl.synthesize()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{wl.sf_dir}/documents.parquet')"
    )
    right = con.execute(registry.all_oracles()["d1_exact_dedup"]).fetchdf()
    wrong = right.copy()
    col = wrong.columns[-1]
    wrong.loc[0, col] = wrong.loc[0, col] + 1
    wl.results["d1_exact_dedup"] = [right, wrong]
    wl.check(None)
    assert ctx.failed == 1


def test_audio_gate_trips_on_a_wrong_result(tmp_path):
    from audio_ingest import AudioIngest

    ctx = _ctx(tmp_path)
    wl = AudioIngest(ctx)
    wl.shard_names = {"c01_clean_three_bursts.wav"}
    good = pd.DataFrame(
        {"original_name": ["c00_clean_three_bursts.wav", "c01_clean_three_bursts.wav"],
         "wav_path": ["a.wav", "b.wav"]}
    )
    wl.snapshots, wl.counts = [good, good.copy()], [(1, 1), (1, 1)]
    wl.check(None)
    assert ctx.failed == 0
    bad = pd.concat([good, pd.DataFrame({"original_name": ["c00_silent.wav"], "wav_path": ["c.wav"]})])
    wl.snapshots, wl.counts = [good, bad.reset_index(drop=True)], [(1, 1), (2, 1)]
    wl.check(None)
    assert ctx.failed >= 1


def test_etl_gate_trips_on_a_wrong_result(tmp_path):
    import pyarrow.parquet as pq

    import synth
    from etl_commits import EtlCommits

    ctx = _ctx(tmp_path)
    wl = EtlCommits(ctx)
    base = str(tmp_path / "base.parquet")
    pq.write_table(synth.orders(np.arange(100), 1), base)
    wl.log = [("base", base), ("delete", 10, 19), ("read", 0, 49, 40)]
    head = pq.read_table(base).to_pandas()
    head = head[(head.o_orderkey < 10) | (head.o_orderkey > 19)].reset_index(drop=True)
    wl.verify(head)
    assert ctx.failed == 0
    wl.log[-1] = ("read", 0, 49, 41)  # one deleted row still visible
    wl.verify(head.iloc[1:])  # and one live row lost
    assert ctx.failed == 2
