"""Input synthesis for the benchmark: everything a run reads is generated
here from a seed, inside the checkout, so no run depends on files outside
it.

Shapes follow FIXTURES.md: word-soup documents over a 30-word vocabulary
with ~5% near-duplicates (a copy of an earlier document plus the token
"dup") and a few exact duplicates; unit-norm 64-d embeddings drawn around
ten labelled cluster centres; TPC-H-shaped orders; and WAV corpora built
from the seven audio/synth.py fixture shapes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10
ORDER_STATUS = ["O", "F", "P"]
ORDER_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH = dt.datetime(1992, 1, 1)


def documents(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and rng.random() < 0.01:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[int(k)] for k in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n)
    x = centres[labels] + 0.8 * rng.standard_normal((n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def orders(keys: np.ndarray, seed: int) -> pa.Table:
    """Order rows for the given keys; other columns drawn from `seed`."""
    rng = np.random.default_rng(seed)
    n = len(keys)
    days = rng.integers(0, 365 * 7, n)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
            "o_orderstatus": [ORDER_STATUS[int(k)] for k in rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
            "o_orderdate": pa.array(
                [EPOCH + dt.timedelta(days=int(d)) for d in days], pa.timestamp("us")
            ),
            "o_orderpriority": [ORDER_PRIORITY[int(k)] for k in rng.integers(0, 5, n)],
        }
    )


def write_tables(sf_dir: str, n_docs: int, n_vecs: int, seed: int) -> None:
    """The curation tables, laid out as sources/tables.py reads them."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(documents(n_docs, seed), os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(embeddings(n_vecs, seed + 1), os.path.join(sf_dir, "embeddings.parquet"))
