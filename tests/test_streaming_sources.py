"""Coordinate resolver tests, and the batch operators under readStream."""

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

        polys = spark.read.parquet(fixture_paths["polygons"])
        batch_df = spark.read.parquet(os.path.join(src, "p0.parquet"))
        schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in batch_df.schema.fields)
        stream = spark.readStream.schema(schema).parquet(src)
        hits = point_in_polygon_join(stream, polys, how="inner")
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
