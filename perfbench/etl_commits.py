"""etl_commits: repeated CDC rounds against a versioned orders table.

Set-up seeds the table through the program's API: synthetic orders,
range-clustered on o_orderkey, committed with o_orderkey stats. A pass is
one CDC round, then compact + vacuum. The round commits a CDC batch
(append of new keys, merge_upsert of an updated key range, delete_where_dv
of a narrow range), makes one pruned narrow read and one full read
aggregate.
Batch contents and key ranges come from the seed.

Afterwards the whole sequence is replayed in DuckDB: each read must see
the replay's rows at that point, and the final head snapshot must equal
the replay's table.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

import synth
from common import Collected

KEY = "o_orderkey"
BASE_ROWS = {"full": 20_000, "smoke": 2_000}
APPEND_ROWS = 200
UPSERT_ROWS = 300
DELETE_KEYS = 20
READ_KEYS = 50
CLUSTER_FILES = 8
MAX_ROUNDS = 40  # batches synthesized up front; a run uses about five
CALLS = (
    "write_version",
    "merge_upsert",
    "delete_where_dv",
    "read_version_pruned",
    "read_version",
    "compact",
    "vacuum",
)
LAYERS = {f"versioned.{c}_s": "s" for c in CALLS} | {
    "versioned.bytes_written_per_user_byte": "ratio",
    "versioned.bytes_stored_per_live_byte": "ratio",
    "versioned.head_files": "count",
    "versioned.files_skipped_ratio": "ratio",
    "cdc.batch_p50_s": "s",
    "cdc.read_p50_s": "s",
}


class EtlCommits:
    PASSES = 3  # median of three timed passes

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.inputs = os.path.join(ctx.work, "cdc")
        self.base = os.path.join(self.inputs, "base.parquet")
        self.log: list[tuple] = []  # every operation applied, in order, for the replay
        self.next_round = 0
        self.path = ""
        self.pruned = [0, 0]  # files skipped, files total over timed pruned reads
        self.written_bytes = 0
        self.user_bytes = 0
        self._seen: set[str] = set()

    def sizes(self) -> dict:
        return {
            "base_rows": BASE_ROWS["smoke" if self.ctx.smoke else "full"],
            "append_rows": APPEND_ROWS,
            "upsert_rows": UPSERT_ROWS,
            "delete_keys": DELETE_KEYS,
            "read_keys": READ_KEYS,
        }

    def synthesize(self) -> None:
        rows = BASE_ROWS["smoke" if self.ctx.smoke else "full"]
        os.makedirs(self.inputs, exist_ok=True)
        rng = np.random.default_rng(self.ctx.seed)
        pq.write_table(synth.orders(np.arange(rows), int(rng.integers(1 << 30))), self.base)
        self.rounds = []
        top = rows
        for r in range(MAX_ROUNDS):
            app = os.path.join(self.inputs, f"append{r}.parquet")
            ups = os.path.join(self.inputs, f"upsert{r}.parquet")
            pq.write_table(synth.orders(np.arange(top, top + APPEND_ROWS), int(rng.integers(1 << 30))), app)
            top += APPEND_ROWS
            lo = int(rng.integers(0, top - UPSERT_ROWS))
            pq.write_table(synth.orders(np.arange(lo, lo + UPSERT_ROWS), int(rng.integers(1 << 30))), ups)
            d = int(rng.integers(0, top - DELETE_KEYS))
            q = int(rng.integers(0, top - READ_KEYS))
            self.rounds.append((app, ups, (d, d + DELETE_KEYS - 1), (q, q + READ_KEYS - 1)))

    def setup(self, spark) -> None:
        """Seed the table."""
        from tts_etl_pipeline_spark.sources import versioned as V

        self.V = V
        self.path = os.path.join(self.ctx.work, "orders")
        with self.ctx.tracer.span("versioned.write_version"):
            V.write_version(
                spark.read.parquet(self.base).repartitionByRange(CLUSTER_FILES, KEY),
                self.path,
                collect_stats=(KEY,),
            )
        self.log = [("base", self.base)]

    def warmup(self, spark) -> None:
        # two passes: after one, the JIT is still compiling and the next
        # passes keep getting faster, more so when the host is busy
        self.run_pass(spark)
        self.run_pass(spark)

    def run_pass(self, spark) -> None:
        """One CDC round, then compact + vacuum."""
        self._round(spark)
        V, span = self.V, self.ctx.tracer.span
        with self.ctx.op("maintenance"):
            with span("versioned.compact"):
                V.compact(spark, self.path, target_files=CLUSTER_FILES, collect_stats=(KEY,))
            with span("versioned.vacuum"):
                V.vacuum(self.path, grace_seconds=0)
        self._count_written()

    def _round(self, spark) -> None:
        V, span, path = self.V, self.ctx.tracer.span, self.path
        app, ups, (dlo, dhi), (qlo, qhi) = self.rounds[self.next_round]
        self.next_round += 1
        with self.ctx.op("batch"):
            with span("versioned.write_version"):
                V.write_version(spark.read.parquet(app), path, collect_stats=(KEY,))
            with span("versioned.merge_upsert"):
                V.merge_upsert(spark, path, spark.read.parquet(ups), KEY)
            with span("versioned.delete_where_dv"):
                V.delete_where_dv(spark, path, KEY, dlo, dhi)
        self.log += [("append", app), ("upsert", ups), ("delete", dlo, dhi)]
        self._count_written(app, ups)
        with self.ctx.op("read"):
            with span("versioned.read_version_pruned"):
                df, skipped, total = V.read_version_pruned(spark, path, KEY, qlo, qhi)
            counted = df.groupBy().count()
            n = counted.collect()[0][0]
        if self.ctx.stats:
            self.ctx.stats.action(counted, "plan")
        if self.ctx.timed:
            self.pruned[0] += skipped
            self.pruned[1] += total
        self.log.append(("read", qlo, qhi, n))
        with self.ctx.op("full_read"):
            with span("versioned.read_version"):
                full = V.read_version(spark, path).selectExpr("count(*)", f"sum({KEY})")
            rows, keysum = full.collect()[0]
        if self.ctx.stats:
            self.ctx.stats.action(full, "plan")
        self.log.append(("full", rows, keysum))

    def _count_written(self, *user_files: str) -> None:
        """Traced runs: bytes of table files that appeared since the last
        call, and bytes of the user's batches behind them."""
        if not (self.ctx.stats and self.ctx.timed):
            return
        t0 = time.perf_counter()
        for root, _, files in os.walk(self.path):
            for f in files:
                p = os.path.join(root, f)
                if p not in self._seen:
                    self._seen.add(p)
                    self.written_bytes += os.path.getsize(p)
        self.user_bytes += sum(os.path.getsize(f) for f in user_files)
        self.ctx.stats.hook_s += time.perf_counter() - t0

    def start_timed(self) -> None:
        """Files already in the table are not written by the timed passes."""
        for root, _, files in os.walk(self.path):
            self._seen.update(os.path.join(root, f) for f in files)

    def check(self, spark) -> None:
        self.verify(self.V.read_version(spark, self.path).toPandas())

    def verify(self, head) -> None:
        """Replay the log in DuckDB; every read and the final `head`
        snapshot must match the replay."""
        from tests.oracle_harness import compare

        con = duckdb.connect()
        for op in self.log:
            kind = op[0]
            if kind == "base":
                con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{op[1]}')")
            elif kind == "append":
                con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{op[1]}')")
            elif kind == "upsert":
                src = f"read_parquet('{op[1]}')"
                con.execute(f"DELETE FROM t WHERE {KEY} IN (SELECT {KEY} FROM {src})")
                con.execute(f"INSERT INTO t SELECT * FROM {src}")
            elif kind == "delete":
                con.execute(f"DELETE FROM t WHERE {KEY} BETWEEN {op[1]} AND {op[2]}")
            elif kind == "read":
                want = con.execute(
                    f"SELECT count(*) FROM t WHERE {KEY} BETWEEN {op[1]} AND {op[2]}"
                ).fetchone()[0]
                if want != op[3]:
                    self.ctx.fail(f"pruned read [{op[1]}, {op[2]}]: {op[3]} rows, replay {want}")
            elif kind == "full":
                want = tuple(con.execute(f"SELECT count(*), sum({KEY}) FROM t").fetchone())
                if want != (op[1], op[2]):
                    self.ctx.fail(f"full read: {op[1:]}, replay {want}")
        for err in compare(Collected(head), con.execute("SELECT * FROM t").fetchdf(), "etl head"):
            self.ctx.fail(err)
        con.close()

    def layer_metrics(self, spark, window, passes: int, totals: dict) -> dict:
        durations = self.ctx.tracer.durations
        detail = self.V.table_detail(self.path)
        stored = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(self.path)
            for f in files
        )
        out = {}
        for call in CALLS:
            d = durations(f"versioned.{call}", window)
            out[f"versioned.{call}_s"] = statistics.median(d) if d else 0.0
        out["versioned.bytes_written_per_user_byte"] = self.written_bytes / max(self.user_bytes, 1)
        out["versioned.bytes_stored_per_live_byte"] = stored / max(detail["size_bytes"], 1)
        out["versioned.head_files"] = detail["num_files"]
        out["versioned.files_skipped_ratio"] = self.pruned[0] / max(self.pruned[1], 1)
        out["cdc.batch_p50_s"] = statistics.median(self.ctx.latency["batch"])
        out["cdc.read_p50_s"] = statistics.median(self.ctx.latency["read"])
        return out
