"""llm_curation: registered LLM-data queries, run in a closed loop by one
client over fixed synthetic `documents` and `embeddings` tables.

The tables are the same in every run; the seed only permutes the order
of the queries within a pass. Each query's result is collected with
toPandas() inside its timed span and checked afterwards: oracle-backed
queries against their DuckDB oracle with tests/oracle_harness.compare,
rows-only queries against their own first result.
"""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb
import numpy as np

import synth
from common import Collected

# v5 is the graph-ANN kernel (functions/graph_ann.py, its only caller) and
# v1 and v7 the exact and filtered cosine top-k that ROADMAP direction 2
# rewrites; d1, d3 and t7 are dedup and tokenizer shapes that carry most of
# the planning and query-construction work.
QUERIES = [
    "v5_graph_ann_topk",
    "v1_topk_cosine_exact",
    "v7_filtered_ann_topk",
    "d1_exact_dedup",
    "d3_jaccard_neardup_pairs",
    "t7_bpe_token_counts",
]
TABLES = ("documents", "embeddings")
TABLE_SEED = 20240101
SIZES = {"full": (300, 200), "smoke": (60, 40)}  # (documents, embeddings)


class LlmCuration:
    PASSES = 1  # one timed pass: v5 makes a pass long, and the run's time budget holds one

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "sf")
        self.results: dict[str, list] = defaultdict(list)
        self.queries: dict = {}

    def sizes(self) -> dict:
        docs, vecs = SIZES["smoke" if self.ctx.smoke else "full"]
        return {"documents": docs, "embeddings": vecs, "queries": len(QUERIES)}

    def synthesize(self) -> None:
        docs, vecs = SIZES["smoke" if self.ctx.smoke else "full"]
        synth.write_tables(self.sf_dir, docs, vecs, TABLE_SEED)
        order = np.random.default_rng(self.ctx.seed).permutation(len(QUERIES))
        self.order = [QUERIES[i] for i in order]

    def setup(self, spark) -> None:
        from tts_etl_pipeline_spark import registry

        with self.ctx.tracer.span("registry.load"):
            self.queries = registry.all_queries()

    def warmup(self, spark) -> None:
        self.run_pass(spark)

    def run_pass(self, spark) -> None:
        ctx, stats = self.ctx, self.ctx.stats
        for name in self.order:
            with ctx.op(f"query.{name}", grouped=False):
                with ctx.tracer.span("operators.construct"):
                    if stats:
                        with stats.group(f"construct.{name}"):
                            df = self.queries[name](spark, self.sf_dir)
                    else:
                        df = self.queries[name](spark, self.sf_dir)
                with ctx.tracer.span("action"):
                    if stats:
                        with stats.group(f"action.{name}"):
                            pdf = df.toPandas()
                        stats.action(df, "plan")
                    else:
                        pdf = df.toPandas()
            self.results[name].append(pdf)

    def check(self, spark) -> None:
        from tests.oracle_harness import compare
        from tts_etl_pipeline_spark import registry

        oracles = registry.all_oracles()
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name, pdfs in self.results.items():
            if name in oracles:
                expected = con.execute(oracles[name]).fetchdf()
            else:  # rows-only: every run of the query returns the same rows
                expected = pdfs[0]
            for pdf in pdfs:
                for err in compare(Collected(pdf), expected, name):
                    self.ctx.fail(err)
        con.close()

    def layer_metrics(self, spark, window, passes: int, totals: dict) -> dict:
        total = self.ctx.tracer.total
        out = {
            "operators.construct_s": total("operators.construct", window) / passes,
            "operators.eager_jobs": sum(totals.get(f"construct.{q}.jobs", 0) for q in QUERIES) / passes,
        }
        for q in QUERIES:
            jobs = totals.get(f"construct.{q}.jobs", 0) + totals.get(f"action.{q}.jobs", 0)
            out[f"query.{q}_s"] = total(f"query.{q}", window) / passes
            out[f"query.{q}.jobs"] = jobs / passes
        return out
