"""Production job entry point: training-data curation pipeline over a
flat documents table — exact dedup -> near-dup dedup (MinHash-LSH +
connected components, keep-best) -> quality scoring + language ID ->
benchmark decontamination -> reproducible train/val split. Chunked +
checkpoint-resumable like jobs/radius_pipeline.py: a killed run resumes
from the last committed chunk with identical surviving rows.

Cluster usage (north rule: multi-executor via --py-files)::

    cd repo && zip -r geodistpy_spark.zip geodistpy_spark
    spark-submit --py-files geodistpy_spark.zip \
        jobs/curation_pipeline.py \
        --docs s3://bucket/documents/ \
        --benchmarks s3://bucket/eval_probes/ \
        --out s3://bucket/curated/ --chunks 256

Local smoke::

    PYTHONPATH=. python jobs/curation_pipeline.py \
        --docs /root/testdata/sf0.01/documents.parquet \
        --out /tmp/curation_out --chunks 4

Chunking note: dedup is a GLOBAL operation, so the near-dup graph is
built over the full corpus up front (one bounded relation of surviving
ids — ids only, never text, cross the shuffle) and the chunked,
resumable phase applies the keep-set + per-doc scoring, which is
embarrassingly chunkable.
"""

from __future__ import annotations

import argparse
import sys


def main(argv=None, stop_session: bool = True):
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="flat documents table "
                    "(doc_id, text[, lang])")
    ap.add_argument("--benchmarks", default=None,
                    help="optional eval-probe table (doc_id, text) for "
                    "n-gram decontamination")
    ap.add_argument("--out", required=True, help="output + checkpoint dir")
    ap.add_argument("--chunks", type=int, default=64)
    ap.add_argument("--threshold", type=float, default=0.7,
                    help="near-dup Jaccard threshold")
    ap.add_argument("--val-frac", type=float, default=0.05)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession, functions as F

    spark = SparkSession.builder.appName("curation_pipeline").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    from geodistpy_spark.plans import CheckpointedRun
    from geodistpy_spark.textops import (
        connected_components,
        dedup_exact,
        hash_split,
        language_id,
        near_duplicates_minhash,
        ngram_contamination,
        quality_score,
    )

    docs = spark.read.parquet(args.docs)

    # --- global phase: the survivor id set (ids only cross the wire) ---
    uniq = dedup_exact(docs)
    caches = []
    groups = connected_components(uniq, near_duplicates_minhash(
        uniq, threshold=args.threshold, caches=caches))
    # keep the longest member of each near-dup component (ties -> min id)
    scored = uniq.select("doc_id", F.length("text").alias("__len")) \
        .join(groups, on="doc_id")
    from pyspark.sql import Window
    w = Window.partitionBy("group_id").orderBy(
        F.col("__len").desc(), F.col("doc_id").asc())
    keep = scored.withColumn("__rn", F.row_number().over(w)) \
        .filter(F.col("__rn") == 1).select("doc_id")

    contaminated = None
    if args.benchmarks:
        probes = spark.read.parquet(args.benchmarks).select(
            F.col("doc_id").alias("probe_id"), "text")
        contaminated = ngram_contamination(docs, probes, n=5) \
            .select("doc_id").distinct()

    keep = keep.cache()
    keep.count()
    for c in caches:  # the candidate pairs: keep no longer reads them
        c.unpersist()
    if contaminated is not None:
        contaminated = contaminated.cache()
        contaminated.count()

    # --- chunked, resumable phase: apply keep-set + score + split ------
    def transform(doc_chunk):
        kept = doc_chunk.join(keep, on="doc_id", how="left_semi")
        if contaminated is not None:
            kept = kept.join(contaminated, on="doc_id", how="left_anti")
        qs = quality_score(kept).select(
            "doc_id", F.round("quality", 6).alias("quality"))
        lid = language_id(kept).select("doc_id", "lang_pred")
        sp = hash_split(kept, val_frac=args.val_frac).select("doc_id", "split")
        return (kept.select("doc_id", "text")
                .join(qs, on="doc_id")
                .join(lid, on="doc_id")
                .join(sp, on="doc_id"))

    run = CheckpointedRun(args.out, key_col="doc_id", n_chunks=args.chunks)
    executed = run.run(docs, transform)
    result = run.result(spark)
    n = result.count()
    n_in = docs.count()
    print(f"curation_pipeline complete: {len(executed)} chunks executed "
          f"this run, {n_in} docs in -> {n} curated rows committed at "
          f"{args.out}")
    keep.unpersist()
    if stop_session:  # False when embedded in a host that owns the session
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
