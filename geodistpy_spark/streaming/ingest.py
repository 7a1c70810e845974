"""Structured Streaming ingestion for the engine.

The reference has no streaming surface (SURVEY.md §2.3); the engine adds
the natural streaming entry points for a continuously-ingested document
corpus:

- :func:`stream_extract_geo` — streaming documents -> geo-span
  extraction + cell index. Extraction is stateless column math, so it
  runs unchanged under ``readStream`` (same Catalyst plan, incremental
  execution); downstream batch joins consume the materialized sink.
- :func:`stream_windowed_event_counts` — watermarked tumbling-window
  aggregation over an event stream (late data dropped past the
  watermark), the standard stateful-op shape.

Both are exercised in tests with parquet sources + memory sinks via
``processAllAvailable`` (synchronous local smoke; production would point
at object-store directories or Kafka with checkpointLocation set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.documents import SPANS_SCHEMA_DDL, extract_geo_spans


def stream_extract_geo(spark: SparkSession, input_dir: str,
                       res: int = 12, max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming DataFrame: documents dir -> (doc_id, span_idx, lat, lon,
    cell_r{res}). Stateless, so append-mode with no watermark needed."""
    reader = spark.readStream.schema(SPANS_SCHEMA_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(input_dir)
    return extract_geo_spans(docs, res=res)


def stream_dedup_exact(docs: DataFrame, ts_col: str = "ingest_ts",
                       text_col: str = "text",
                       watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup at ingest: drop re-arrivals of identical
    content within the watermark horizon.

    Spark-first: this is the NATIVE ``dropDuplicatesWithinWatermark`` on
    the content hash — bounded state (keys expire once the watermark
    passes), no custom stateful operator needed. The batch analog is
    :func:`geodistpy_spark.textops.dedup_exact`.

    Semantics (Spark's contract, probed in tests): duplicates arriving
    within ``watermark`` of each other are dropped with certainty;
    duplicates farther apart are dropped best-effort (state expiry
    happens at batch boundaries, so a dup in the same microbatch as the
    watermark advance may still be caught).
    """
    return (
        docs.withColumn("__text_hash", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__text_hash"])
        .drop("__text_hash")
    )


def stream_geofence(points: DataFrame, polygons: DataFrame,
                    lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Streaming geofence: every point of a streaming source tagged with
    the static zone(s) containing it — the canonical streaming-geo
    alerting shape (vehicle enters restricted area, event inside a
    service region).

    The point-in-polygon plan is STATELESS on the point side — per-row
    cover-cell explode, an equi-join against the zones' classified
    (res, cell) cover pairs (a static relation, broadcast by Spark when
    small), Arrow ray-cast refine on boundary-cell rows — so it runs
    unchanged under ``readStream`` in append mode with no watermark or
    state store. The zones' active cover resolutions are read once at
    plan time; restart the query to pick up zone edits.
    """
    from ..operators.polygons import point_in_polygon_join

    return point_in_polygon_join(points, polygons, lat_col=lat_col,
                                 lon_col=lon_col, how="inner")


def stream_windowed_event_counts(spark: SparkSession, input_dir: str,
                                 schema: str,
                                 window: str = "5 minutes",
                                 watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window counts per event_type over a stream."""
    events = spark.readStream.schema(schema).parquet(input_dir)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )
