"""Streaming ingestion + resolver + IO contract tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geodistpy_spark.sources.resolver import (
    coordinates_from_df,
    resolve_coordinate_columns,
)


class TestResolver:
    """Column auto-detect precedence mirrors the reference
    (pandas_support.py:101-115; tests/test_pandas_support.py:42-66)."""

    def test_precedence(self, spark):
        df = spark.createDataFrame(
            [(1, 1.0, 2.0, 3.0, 4.0)],
            "id long, lat double, lon double, latitude double, longitude double")
        assert resolve_coordinate_columns(df) == ("lat", "lon")
        df2 = spark.createDataFrame([(1, 3.0, 4.0)], "id long, latitude double, longitude double")
        assert resolve_coordinate_columns(df2) == ("latitude", "longitude")

    def test_explicit_override(self, spark):
        df = spark.createDataFrame([(1, 3.0, 4.0)], "id long, y double, x double")
        assert resolve_coordinate_columns(df, "y", "x") == ("y", "x")
        with pytest.raises(ValueError):
            resolve_coordinate_columns(df)
        with pytest.raises(ValueError):
            resolve_coordinate_columns(df, "y", None)

    def test_coordinates_from_df_keys_and_validation(self, spark):
        df = spark.createDataFrame(
            [(1, "a", 10.0, 20.0), (2, "b", 95.0, 20.0)],
            "id long, name string, LAT double, LON double")
        out = coordinates_from_df(df).toPandas()
        assert list(out.columns) == ["id", "name", "lat", "lon"]
        assert len(out) == 1  # out-of-range row dropped

    def test_struct_geometry_column(self, spark):
        # GeoDataFrame point-geometry analog (pandas_support.py:79-87)
        df = spark.createDataFrame(
            [(1, (48.85, 2.35)), (2, (35.68, 139.65))],
            "id long, geometry struct<lat: double, lon: double>")
        out = coordinates_from_df(df).toPandas().sort_values("id")
        assert list(out.columns) == ["id", "lat", "lon"]
        assert out.lat.tolist() == [48.85, 35.68]
        assert out.lon.tolist() == [2.35, 139.65]

    def test_wkt_geometry_column(self, spark):
        # WKT POINT is (lon lat) — OGC axis order
        df = spark.createDataFrame(
            [(1, "POINT(2.3522 48.8566)"), (2, "POINT(-74.006 40.7128)"),
             (3, "LINESTRING(0 0, 1 1)")],  # non-point -> nulls -> dropped
            "id long, geom string")
        out = coordinates_from_df(df, geom_col="geom").toPandas().sort_values("id")
        assert len(out) == 2
        assert out.lat.tolist() == [48.8566, 40.7128]
        assert out.lon.tolist() == [2.3522, -74.006]

    def test_explicit_latlon_beats_geometry(self, spark):
        df = spark.createDataFrame(
            [(1, 10.0, 20.0, "POINT(99 99)")],
            "id long, lat double, lon double, geometry string")
        out = coordinates_from_df(df).toPandas()
        assert out.lat.iloc[0] == 10.0 and out.lon.iloc[0] == 20.0

    def test_bad_geometry_column_raises(self, spark):
        df = spark.createDataFrame([(1, 5)], "id long, geometry long")
        with pytest.raises(ValueError):
            coordinates_from_df(df, geom_col="geometry")


class TestStreaming:
    def test_stream_extract_geo(self, spark, fixture_paths, tmp_path):
        import shutil

        src = str(tmp_path / "stream_in")
        shutil.copytree(fixture_paths["documents"], src) if False else None
        # parquet streaming source wants a directory
        import os

        os.makedirs(src, exist_ok=True)
        shutil.copy(fixture_paths["documents"], os.path.join(src, "part-0.parquet"))

        from geodistpy_spark.streaming import stream_extract_geo

        geo = stream_extract_geo(spark, src, res=10)
        assert geo.isStreaming
        q = (geo.writeStream.format("memory").queryName("geo_stream")
             .outputMode("append").start())
        try:
            q.processAllAvailable()
            got = spark.sql("SELECT count(*) AS n FROM geo_stream").first()["n"]
        finally:
            q.stop()
        # must equal the batch extraction row count
        from geodistpy_spark.sources.documents import extract_geo_spans

        batch = extract_geo_spans(spark.read.parquet(fixture_paths["documents"])).count()
        assert got == batch

    def test_stream_point_in_radius(self, spark, fixture_paths, tmp_path):
        # the cell-prefiltered radius query is stateless column math +
        # an Arrow UDF, so it runs unchanged under readStream; streaming
        # results must equal the batch run on the same files
        import os
        import shutil

        src = str(tmp_path / "pir_in")
        os.makedirs(src, exist_ok=True)
        shutil.copy(fixture_paths["places"], os.path.join(src, "p0.parquet"))
        from geodistpy_spark.operators import point_in_radius

        batch_df = spark.read.parquet(os.path.join(src, "p0.parquet"))
        schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in batch_df.schema.fields)
        stream = spark.readStream.schema(schema).parquet(src)
        hits = point_in_radius(stream, (48.85, 2.35), 2_000_000.0)
        assert hits.isStreaming
        q = (hits.writeStream.format("memory").queryName("pir_stream")
             .outputMode("append").start())
        try:
            q.processAllAvailable()
            got = spark.sql("SELECT place_id, dist FROM pir_stream").toPandas()
        finally:
            q.stop()
        exp = point_in_radius(batch_df, (48.85, 2.35), 2_000_000.0) \
            .select("place_id", "dist").toPandas()
        assert sorted(got.place_id) == sorted(exp.place_id)
        assert len(got) > 0

    def test_stream_geofence_matches_batch(self, spark, fixture_paths, tmp_path):
        # geofencing = the stateless PIP plan under readStream: the
        # streaming result over the same files must equal the batch join
        import os
        import shutil

        src = str(tmp_path / "gf_in")
        os.makedirs(src, exist_ok=True)
        shutil.copy(fixture_paths["places"], os.path.join(src, "p0.parquet"))
        from geodistpy_spark.operators import point_in_polygon_join
        from geodistpy_spark.streaming import stream_geofence

        polys = spark.read.parquet(fixture_paths["polygons"])
        batch_df = spark.read.parquet(os.path.join(src, "p0.parquet"))
        schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in batch_df.schema.fields)
        stream = spark.readStream.schema(schema).parquet(src)
        hits = stream_geofence(stream, polys)
        assert hits.isStreaming
        q = (hits.writeStream.format("memory").queryName("gf_stream")
             .outputMode("append").start())
        try:
            q.processAllAvailable()
            got = spark.sql("SELECT place_id, poly_id FROM gf_stream").toPandas()
        finally:
            q.stop()
        exp = point_in_polygon_join(batch_df, polys) \
            .select("place_id", "poly_id").toPandas()
        assert set(zip(got.place_id, got.poly_id)) \
            == set(zip(exp.place_id, exp.poly_id))
        assert len(got) > 0

    def test_stream_sessionize_stateful(self, spark, tmp_path):
        # custom stateful operator (applyInPandasWithState): in-batch
        # session splits must close immediately; the trailing open
        # session stays in state (bounded by active keys)
        import datetime as dt
        import os

        src = str(tmp_path / "sess_in")
        os.makedirs(src, exist_ok=True)
        t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
        rows = [
            # user a: 3 events in one session, then a 2h gap, 2 more
            ("a", t0), ("a", t0 + dt.timedelta(minutes=5)),
            ("a", t0 + dt.timedelta(minutes=10)),
            ("a", t0 + dt.timedelta(hours=2)),
            ("a", t0 + dt.timedelta(hours=2, minutes=3)),
            # user b: single burst (stays open -> not emitted)
            ("b", t0), ("b", t0 + dt.timedelta(minutes=1)),
        ]
        spark.createDataFrame(rows, "user_id string, ts timestamp") \
            .coalesce(1).write.parquet(os.path.join(src, "batch0"))
        from geodistpy_spark.streaming import stream_sessionize

        ev = spark.readStream.schema("user_id string, ts timestamp") \
            .parquet(os.path.join(src, "batch0"))
        sess = stream_sessionize(ev, gap="30 minutes", watermark="10 minutes")
        assert sess.isStreaming
        q = (sess.writeStream.format("memory").queryName("sess_stream")
             .outputMode("append").start())
        try:
            q.processAllAvailable()
            out = spark.sql(
                "SELECT * FROM sess_stream ORDER BY user_id, session_start"
            ).toPandas()
        finally:
            q.stop()
        # user a's FIRST session closes in-batch (3 events, 10 min); a's
        # second session is still open (timeout 14:33 > watermark 13:53)
        closed_a = out[out.user_id == "a"]
        assert len(closed_a) == 1
        assert closed_a.n_events.iloc[0] == 3
        assert (closed_a.session_end.iloc[0]
                - closed_a.session_start.iloc[0]).total_seconds() == 600
        # user b's burst closes via EVENT-TIME TIMEOUT: watermark (max ts
        # - 10 min = 13:53) passed b's last event + gap (12:31)
        closed_b = out[out.user_id == "b"]
        assert len(closed_b) == 1
        assert closed_b.n_events.iloc[0] == 2

    def test_sessionize_fn_late_event_keeps_anchor(self):
        # cross-batch out-of-order event (late but above watermark) must
        # not move the session-end anchor BACKWARD — the next gap check
        # would otherwise split against a stale anchor
        import pandas as pd
        from geodistpy_spark.streaming.stateful import _sessionize_fn

        class FakeState:
            def __init__(self, value=None):
                self._v = value
                self.hasTimedOut = False
                self.timeout = None
            @property
            def exists(self):
                return self._v is not None
            @property
            def get(self):
                return self._v
            def update(self, v):
                self._v = v
            def remove(self):
                self._v = None
            def setTimeoutTimestamp(self, t):
                self.timeout = t

        fn = _sessionize_fn(gap_s=1800)
        t = lambda s: pd.to_datetime(s, unit="s")
        # batch 1: events at 1000 and 2000 -> state anchors last=2000
        st = FakeState()
        list(fn(("u",), iter([pd.DataFrame({"ts": [t(1000), t(2000)]})]), st))
        assert st.get == (1000, 2000, 2)
        # batch 2: LATE event at 1500 (before last) must extend, not
        # regress; then 3500 is within gap of 2000 -> same session
        closed = list(fn(("u",), iter([pd.DataFrame({"ts": [t(1500), t(3500)]})]), st))
        assert closed == []
        assert st.get == (1000, 3500, 4)

    def test_stream_dedup_exact_across_batches(self, spark, tmp_path):
        # identical content re-arriving in a later microbatch (within the
        # watermark) must be dropped by the native bounded-state dedup
        import datetime as dt
        import os

        src = str(tmp_path / "dedup_in")
        os.makedirs(src, exist_ok=True)
        t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
        spark.createDataFrame(
            [("d1", "same content", t0), ("d2", "other content", t0)],
            "doc_id string, text string, ingest_ts timestamp") \
            .coalesce(1).write.parquet(os.path.join(src, "b"))
        from geodistpy_spark.streaming import stream_dedup_exact

        stream = spark.readStream.schema(
            "doc_id string, text string, ingest_ts timestamp").parquet(os.path.join(src, "b"))
        out = stream_dedup_exact(stream, watermark="1 hour")
        q = (out.writeStream.format("memory").queryName("dd_stream")
             .outputMode("append").start())
        try:
            q.processAllAvailable()
            # batch 2: one duplicate of d1's text + one new doc
            spark.createDataFrame(
                [("d3", "same content", t0 + dt.timedelta(minutes=5)),
                 ("d4", "fresh content", t0 + dt.timedelta(minutes=5))],
                "doc_id string, text string, ingest_ts timestamp") \
                .coalesce(1).write.mode("append").parquet(os.path.join(src, "b"))
            q.processAllAvailable()
            got = spark.sql("SELECT doc_id FROM dd_stream").toPandas()
        finally:
            q.stop()
        assert sorted(got.doc_id) == ["d1", "d2", "d4"]  # d3 dropped

    def test_stream_windowed_events(self, spark, tmp_path):
        import os
        import shutil

        src = str(tmp_path / "ev_in")
        os.makedirs(src, exist_ok=True)
        shutil.copy("/root/testdata/sf0.001/events.parquet", os.path.join(src, "p0.parquet"))
        schema = ("event_id long, ts timestamp, user_id long, event_type string, "
                  "value double, props string")
        from geodistpy_spark.streaming import stream_windowed_event_counts

        agg = stream_windowed_event_counts(spark, src, schema)
        q = (agg.writeStream.format("memory").queryName("ev_stream")
             .outputMode("complete").start())
        try:
            q.processAllAvailable()
            out = spark.sql("SELECT sum(n) AS total FROM ev_stream").first()["total"]
        finally:
            q.stop()
        assert out == spark.read.parquet(os.path.join(src, "p0.parquet")).count()
