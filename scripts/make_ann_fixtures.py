"""Generate fixtures/ann/{centroids,codebooks}.parquet — the trained
IVF centroids and PQ codebooks for the sf0.01 embeddings table, so the
ANN driver queries (ivf_topk / pq_topk / ivfpq_topk) become fully
deterministic given the committed fixtures and therefore fully
DuckDB-mirrorable: assignment -> probe -> ADC -> re-rank is pure SQL
once the trained parameters are a shared parquet input (the reference's
accuracy-oracle analog: benchmark.py:204-265).

Training is the engine's one trainer per index: deterministic Lloyd
on the ``sample_size`` smallest ids (textops/ann.py train_centroids /
train_pq, no RNG anywhere; null and wrong-length vectors are skipped),
so the fixtures are reproducible by rerunning this script, and
``tests/test_textops.py::TestAnnFixtures`` checks that fresh training
still returns the committed index.

Layout:
- centroids.parquet: (cell: int64, cv: list<double>)   16 cells
- codebooks.parquet: (j: int32, c: int32, cv: list<double>)  8 x 256

Run: python scripts/make_ann_fixtures.py   (~30 s; outputs committed)
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

EMB = "/root/testdata/sf0.01/embeddings.parquet"
OUT_DIR = os.path.join(_REPO, "fixtures", "ann")
N_CELLS = 16
M = 8
BITS = 8


def main():
    from pyspark.sql import SparkSession

    from geodistpy_spark.textops import train_centroids, train_pq

    os.makedirs(OUT_DIR, exist_ok=True)
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false").getOrCreate())
    emb = spark.read.parquet(EMB)
    n = emb.count()
    dim = len(emb.first()["embedding"])

    cents = train_centroids(emb, N_CELLS)
    books = train_pq(emb, m=M, bits=BITS)
    spark.stop()

    pq.write_table(pa.table({
        "cell": pa.array(range(N_CELLS), pa.int64()),
        "cv": pa.array([list(map(float, v)) for v in cents],
                       pa.list_(pa.float64())),
    }), os.path.join(OUT_DIR, "centroids.parquet"))

    m, ksub, dsub = books.shape
    rows_j, rows_c, rows_v = [], [], []
    for j in range(m):
        for c in range(ksub):
            rows_j.append(j)
            rows_c.append(c)
            rows_v.append([float(x) for x in books[j, c]])
    pq.write_table(pa.table({
        "j": pa.array(rows_j, pa.int32()),
        "c": pa.array(rows_c, pa.int32()),
        "cv": pa.array(rows_v, pa.list_(pa.float64())),
    }), os.path.join(OUT_DIR, "codebooks.parquet"))

    meta = {"source": EMB, "n_vectors": n, "dim": dim,
            "n_cells": N_CELLS, "m": m, "bits": BITS, "dsub": dsub,
            "trainer": "textops/ann.py train_centroids/train_pq "
                       "(deterministic sampled Lloyd, no RNG)"}
    with open(os.path.join(OUT_DIR, "META.json"), "w") as fh:
        json.dump(meta, fh, indent=2)
    print(json.dumps(meta, indent=2))


if __name__ == "__main__":
    main()
