"""Seeded generator for the tables the benchmark's curation and gate
queries read (``documents``, ``orders``), written as parquet with the same
column names, types, sizes and value mix as the sf0.1 test tables that
``__spark_entry__.queries()`` is benchmarked against. Pure Python and
pyarrow; no Spark.

As in those tables, a document is 10 to 100 words drawn from a 30-word
vocabulary; one in twenty is an earlier document with `` dup`` appended,
and about one in a thousand is an exact copy of an earlier one. These
near-duplicate pairs are what the set-similarity join finds.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data query table row column scan filter join hash merge sort"
         " group agg window order line part customer key value batch stream"
         " vector spark fast slow big small").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.145, 0.15, 0.15, 0.145]
NEAR_SHARE = 0.05
EXACT_SHARE = 0.0012
EPOCH = dt.datetime(1995, 1, 1)


def _documents(rng: random.Random, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i and r < EXACT_SHARE:
            text = texts[rng.randrange(i)]
        elif i and r < EXACT_SHARE + NEAR_SHARE:
            text = texts[rng.randrange(i)] + " dup"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        texts.append(text)
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choices(LANGS, LANG_WEIGHTS, k=n), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _orders(rng: random.Random, n: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n // 10) for _ in range(n)], pa.int64()),
        "o_orderstatus": pa.array([rng.choice("OFP") for _ in range(n)], pa.string()),
        "o_totalprice": pa.array([rng.randrange(100_000, 50_000_000) / 100
                                  for _ in range(n)], pa.float64()),
        "o_orderdate": pa.array([EPOCH + dt.timedelta(days=rng.randrange(2404))
                                 for _ in range(n)], pa.timestamp("us")),
        "o_orderpriority": pa.array(
            [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
             for _ in range(n)], pa.string()),
    })


def write_tables(out_dir: str, seed: int, docs: int, orders: int) -> dict[str, str]:
    """Write the tables as ``<out_dir>/<name>.parquet``; returns name -> path."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {"documents": _documents(rng, docs), "orders": _orders(rng, orders)}
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths
