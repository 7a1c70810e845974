"""Production job entry point: spatial radius pipeline over a documents
table, checkpoint-resumable.

Cluster usage (north rule: multi-executor via --py-files)::

    cd repo && zip -r geodistpy_spark.zip geodistpy_spark
    spark-submit --py-files geodistpy_spark.zip \
        jobs/radius_pipeline.py \
        --docs s3://bucket/documents/ \
        --queries s3://bucket/query_points.parquet \
        --radius-m 50000 --out s3://bucket/out/ --chunks 256

Local smoke, with the fixture places as query points::

    python -c "import pyarrow.parquet as pq; pq.write_table(pq.read_table(
        'fixtures/places.parquet', columns=['place_id', 'lat', 'lon']
        ).rename_columns(['query_id', 'q_lat', 'q_lon']), '/tmp/queries.parquet')"
    PYTHONPATH=. python jobs/radius_pipeline.py \
        --docs fixtures/documents_interleaved.parquet \
        --queries /tmp/queries.parquet \
        --radius-m 500000 --out /tmp/radius_out --chunks 4

The job is chunked + checkpointed (plans.pipeline): a killed run resumes
from the last committed chunk with identical output rows; each chunk
commit carries per-file row counts and an input fingerprint, and a
re-run recomputes only uncommitted chunks and those whose input keys
changed.
"""

from __future__ import annotations

import argparse
import sys


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="documents table path")
    ap.add_argument("--queries", required=True,
                    help="query points parquet (query_id, q_lat, q_lon)")
    ap.add_argument("--radius-m", type=float, required=True)
    ap.add_argument("--out", required=True, help="output + checkpoint dir")
    ap.add_argument("--chunks", type=int, default=64)
    ap.add_argument("--res", type=int, default=12)
    ap.add_argument("--salt", type=int, default=0)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession, functions as F

    # on a cluster, master/executors come from spark-submit; get_spark's
    # local defaults only apply when no master is configured
    spark = SparkSession.builder.appName("radius_pipeline").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    from geodistpy_spark.operators import radius_join
    from geodistpy_spark.plans import CheckpointedRun
    from geodistpy_spark.sources.documents import extract_geo_spans

    docs = spark.read.parquet(args.docs)
    queries = spark.read.parquet(args.queries).cache()

    def transform(doc_chunk):
        geo = extract_geo_spans(doc_chunk, res=args.res)
        rj = radius_join(queries, geo, args.radius_m,
                         c_lat="lat", c_lon="lon",
                         salt=args.salt or None)
        return rj.select("query_id", "doc_id", "span_idx",
                         F.round("dist", 3).alias("dist_m"))

    run = CheckpointedRun(args.out, key_col="doc_id", n_chunks=args.chunks)
    executed = run.run(docs, transform)
    result = run.result(spark)
    n = result.count()
    print(f"radius_pipeline complete: {len(executed)} chunks executed this run, "
          f"{n} result rows committed at {args.out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
