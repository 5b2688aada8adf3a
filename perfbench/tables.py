"""Seeded stand-ins for the sf-scale tables the heavy ``__spark_entry__``
queries read: ``documents`` (word text with exact and near copies),
``embeddings`` (64-d unit vectors with near copies), ``lineitem`` and
``part`` (a TPC-H-like pair in which part of ``l_partkey`` dangles under the
queries' ``p_size`` filter). Same column names and types as the sf
tables; sizes are a tenth of sf0.01.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge order "
    "part query row scan slow small sort spark stream table the value vector window"
).split()

N_DOCS = 500
N_VECS = 500
N_LINES = 6_000
N_PARTS = 200


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 10 and r < 0.03:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.18:  # near copy: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), size=max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), size=n)))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([("en", "de", "fr", "es", "it")[k] for k in rng.integers(0, 5, N_DOCS)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, N_DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    vecs = rng.normal(size=(N_VECS, 64))
    for i in range(10, N_VECS):
        if rng.random() < 0.15:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(scale=0.05, size=64)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS).astype(np.int32)),
    })


def _lineitem(rng: np.random.Generator) -> pa.Table:
    n = N_LINES
    qty = rng.integers(1, 51, n).astype(np.float64)
    day = rng.integers(0, 2500, n).astype("timedelta64[D]") + np.datetime64("1995-01-02")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1000, n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[k] for k in rng.integers(0, 3, n)]),
        "l_linestatus": pa.array([("O", "F")[k] for k in rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(day.astype("datetime64[us]")),
    })


def _part(rng: np.random.Generator) -> pa.Table:
    n = N_PARTS
    colors, things = ("red", "blue", "small", "green"), ("widget", "bolt", "ring", "gear")
    return pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array([f"{colors[a]} {things[b]}" for a, b in rng.integers(0, 4, (n, 2))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n)]),
        "p_type": pa.array([("ECONOMY", "SMALL", "LARGE", "PROMO")[k] for k in rng.integers(0, 4, n)]),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + np.arange(n) / 10.0, 1)),
    })


def write(out: Path, seed: int) -> None:
    """Write ``<name>.parquet`` for each table under ``out``."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed % 2**32)
    for name, make in (
        ("documents", _documents), ("embeddings", _embeddings),
        ("lineitem", _lineitem), ("part", _part),
    ):
        pq.write_table(make(rng), out / f"{name}.parquet")
