"""audio_ingest: the paper's pipeline, audio.pipeline.run_pipeline with the
fake ASR model, over a WAV corpus synthesized from the seed.

One pass is a fresh ingest of the corpus into an empty table, then a
re-ingest of the corpus plus one new shard into the same table
(refresh=False), where insert-or-ignore drops every clip already present.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

from common import Collected

# shapes every gate rejects; too_quiet is not one of them: peak
# normalization runs before the RMS gate and lifts it above MIN_RMS, which
# tests/test_audio_pipeline.py::test_e2e_golden pins
REJECTED = ("silent", "clipped", "musicy")
LAYERS = {
    "audio.decode_s": "s",
    "audio.segmentation_s": "s",
    "audio.dsp_s": "s",
    "audio.asr_s": "s",
    "audio.overlap_s": "s",
    "sink.export_s": "s",
    "sink.insert_s": "s",
    "audio.files": "count",
    "audio.segments": "count",
    "audio.gated": "count",
    "audio.clips": "count",
    "audio.asr_yield": "ratio",
    "sink.ignored": "count",
    "audio.reprocessed_share": "ratio",
}


def shapes(seed: int) -> list[tuple[str, np.ndarray]]:
    """The seven fixture shapes of audio/synth.py (FIXTURES.md B.1), with
    the speech and music content drawn from `seed`; lengths are fixed."""
    from tts_etl_pipeline_spark.audio import synth as S

    def s(k: int) -> int:
        return seed * 16 + k

    return [
        (
            "clean_three_bursts",
            np.concatenate(
                [
                    S.speech_like(4000, seed=s(1)),
                    S.silence(500),
                    S.speech_like(5000, seed=s(2)),
                    S.silence(600),
                    S.speech_like(3500, seed=s(3)),
                ]
            ),
        ),
        ("long_monologue", S.speech_like(40_000, seed=s(4))),
        (
            "merge_candidates",
            np.concatenate(
                [S.speech_like(2000, seed=s(5)), S.silence(400), S.speech_like(2500, seed=s(6))]
            ),
        ),
        ("silent", S.silence(8000)),
        ("too_quiet", S.speech_like(5000, seed=s(7), amp=0.004)),
        ("clipped", np.concatenate([S.clipped(4000), S.silence(400), S.clipped(1000)])),
        ("musicy", S.music_like(6000, seed=s(8))),
    ]


class AudioIngest:
    PASSES = 1  # one timed pass: more passes raise the chance of a peak with extra Python workers

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        w = ctx.work
        self.corpus = os.path.join(w, "corpus")  # the first ingest's input
        self.grown = os.path.join(w, "corpus_plus_shard")  # corpus + new shard
        self.out = os.path.join(w, "clips")
        self.table = os.path.join(w, "processed_data")
        self.snapshots: list = []
        self.counts: list[tuple[int, int]] = []
        # traced timed passes: files the fresh ingest and the re-ingest
        # decoded, clips the re-ingest exported that its sink then ignored
        self.measured: list[tuple[int, int, int]] = []

    def sizes(self) -> dict:
        return {"corpus_files": self.n_corpus, "shard_files": self.n_grown - self.n_corpus}

    def synthesize(self) -> None:
        from tts_etl_pipeline_spark.audio.synth import to_wav_bytes

        os.makedirs(self.corpus)
        os.makedirs(self.grown)
        self.shard_names: set[str] = set()
        # copy 0 of the seven shapes is the corpus, copy 1 the new shard (smoke runs too)
        for k, dirs in ((0, (self.corpus, self.grown)), (1, (self.grown,))):
            for shape, samples in shapes(self.ctx.seed * 1000 + k):
                name = f"c{k:02d}_{shape}.wav"
                if k == 1:
                    self.shard_names.add(name)
                data = to_wav_bytes(samples)
                for d in dirs:
                    with open(os.path.join(d, name), "wb") as fh:
                        fh.write(data)
        self.n_corpus = len(os.listdir(self.corpus))
        self.n_grown = len(os.listdir(self.grown))

    def setup(self, spark) -> None:
        from tts_etl_pipeline_spark.audio.pipeline import run_pipeline

        self.run_pipeline = run_pipeline

    def warmup(self, spark) -> None:
        self.run_pass(spark)
        self.after_pass(spark)

    def run_pass(self, spark) -> None:
        stats = self.ctx.stats if self.ctx.timed else None
        since = stats.last_execution() if stats else 0
        with self.ctx.op("ingest.fresh"):
            n1 = self.run_pipeline(spark, self.corpus, self.out, self.table, asr_model="fake")
        if stats:
            fresh_files = stats.files_read(since, "binaryFile")
            since = stats.last_execution()
            t0 = time.perf_counter()
            before = self._clip_mtimes()
            stats.hook_s += time.perf_counter() - t0
        with self.ctx.op("ingest.reingest"):
            n2 = self.run_pipeline(
                spark, self.grown, self.out, self.table, asr_model="fake", refresh=False
            )
        self.counts.append((n1, n2))
        if stats:
            t0 = time.perf_counter()
            exported = sum(1 for p, m in self._clip_mtimes().items() if before.get(p) != m)
            stats.hook_s += time.perf_counter() - t0
            self.measured.append(
                (fresh_files, stats.files_read(since, "binaryFile"), exported - n2)
            )

    def _clip_mtimes(self) -> dict[str, int]:
        """Clip files in the export directory and their modification times:
        a clip the re-ingest exports again gets a new one."""
        with os.scandir(self.out) as it:
            return {e.name: e.stat().st_mtime_ns for e in it}

    def after_pass(self, spark) -> None:
        self.snapshots.append(spark.read.parquet(self.table).toPandas())

    def check(self, spark) -> None:
        from tests.oracle_harness import compare

        first = self.snapshots[0]
        for i, (snap, (n1, n2)) in enumerate(zip(self.snapshots, self.counts)):
            for err in compare(Collected(snap), first, f"audio pass {i} table"):
                self.ctx.fail(err)
            rejected = snap[snap.original_name.str.contains("|".join(REJECTED))]
            if len(rejected):
                self.ctx.fail(f"pass {i}: clips from rejected shapes {sorted(set(rejected.original_name))}")
            from_shard = int(snap.original_name.isin(self.shard_names).sum())
            if n2 == 0 or n2 != from_shard or n1 + n2 != len(snap):
                self.ctx.fail(
                    f"pass {i}: fresh {n1} + re-ingest {n2} clips, table {len(snap)} "
                    f"rows of which {from_shard} from the new shard"
                )

    def layer_metrics(self, spark, window, passes: int, totals: dict) -> dict:
        """Per-stage times from materializing consecutive pipeline prefixes
        over the corpus with the noop sink (outside the timed passes), and
        per-stage row counts."""
        from tts_etl_pipeline_spark.audio import filters
        from tts_etl_pipeline_spark.audio.asr import transcribe
        from tts_etl_pipeline_spark.audio.decode import decode_files, read_wav_dir
        from tts_etl_pipeline_spark.audio.dsp import with_metrics
        from tts_etl_pipeline_spark.audio.overlap import with_overlap_flag
        from tts_etl_pipeline_spark.audio.segmentation import segment
        from tts_etl_pipeline_spark.sources.sink import export_wavs

        probe_out = os.path.join(self.ctx.work, "probe_clips")
        dec = decode_files(read_wav_dir(spark, self.corpus))
        seg = segment(dec)
        gated = with_metrics(seg).filter(filters.audio_quality_gate()).filter(
            filters.asr_length_guard()
        )
        asr = transcribe(gated, model="fake")
        kept = with_overlap_flag(asr.filter(filters.text_quality_gate()))
        exported = export_wavs(kept, probe_out).filter(filters.saved_ok())
        prefix_s = {}
        for stage, df in [
            ("decode", dec),
            ("segmentation", seg),
            ("dsp", gated),
            ("asr", asr),
            ("overlap", kept),
            ("export", exported),
        ]:
            with self.ctx.tracer.span(f"probe.{stage}"):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                prefix_s[stage] = time.perf_counter() - t0
        shutil.rmtree(probe_out, ignore_errors=True)
        n_files, n_segments, n_gated, n_kept = (
            df.count() for df in (dec, seg, gated, kept)
        )
        fresh = self.ctx.latency["ingest.fresh"]
        n1, n2 = self.counts[-1]
        fresh_files, again_files, ignored = self.measured[-1]
        n_shard = self.n_grown - self.n_corpus
        return {
            "audio.decode_s": prefix_s["decode"],
            "audio.segmentation_s": prefix_s["segmentation"] - prefix_s["decode"],
            "audio.dsp_s": prefix_s["dsp"] - prefix_s["segmentation"],
            "audio.asr_s": prefix_s["asr"] - prefix_s["dsp"],
            "audio.overlap_s": prefix_s["overlap"] - prefix_s["asr"],
            "sink.export_s": prefix_s["export"] - prefix_s["overlap"],
            "sink.insert_s": statistics.median(fresh) - prefix_s["export"],
            "audio.files": n_files,
            "audio.segments": n_segments,
            "audio.gated": n_gated,
            "audio.clips": n1 + n2,
            "audio.asr_yield": n_kept / n_gated if n_gated else 0.0,
            "sink.ignored": ignored,
            # files the re-ingest decoded beyond the new shard were decoded before
            "audio.reprocessed_share": (again_files - n_shard) / (fresh_files + again_files),
        }
