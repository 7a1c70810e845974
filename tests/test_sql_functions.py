"""SQL-function surface tests.

Truth strategy: every registered SQL UDF must be BIT-IDENTICAL to the
Column builder it mirrors (functions/expressions.py) on random global
pairs — the SQL body is the same expression, so any drift is a bug.
The Vincenty registration is the same Arrow UDF the DataFrame
operators use, so equality there gates the plumbing, not the kernel.
"""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from geodistpy_spark.functions.expressions import (
    bearing_sphere_deg,
    cell_id_col,
    destination_sphere,
    great_circle_m,
    haversine_m,
    normalize_lon,
    parent_cell_col,
    to_unit,
)
from geodistpy_spark.functions.udfs import vincenty_udf
from geodistpy_spark.sql import SQL_FUNCTION_NAMES, register_sql_functions


@pytest.fixture(scope="module")
def sql_pts(spark):
    register_sql_functions(spark)
    rng = np.random.default_rng(11)
    n = 5000
    pdf = pd.DataFrame({
        "lat1": rng.uniform(-89.9, 89.9, n),
        "lon1": rng.uniform(-180.0, 180.0, n),
        "lat2": rng.uniform(-89.9, 89.9, n),
        "lon2": rng.uniform(-180.0, 180.0, n),
        "b": rng.uniform(0.0, 360.0, n),
        "d": rng.uniform(0.0, 2.0e7, n),
    })
    df = spark.createDataFrame(pdf)
    df.createOrReplaceTempView("sql_pts")
    return df


class TestSqlFunctions:
    def test_registration_returns_all_names(self, spark, sql_pts):
        names = register_sql_functions(spark)  # idempotent re-register
        assert names == SQL_FUNCTION_NAMES
        assert len(names) == 11

    def test_scalar_functions_bit_identical(self, spark, sql_pts):
        got = spark.sql("""
            SELECT geo_haversine_m(lat1, lon1, lat2, lon2) AS hv,
                   geo_greatcircle_m(lat1, lon1, lat2, lon2) AS gc,
                   geo_bearing_deg(lat1, lon1, lat2, lon2) AS brg,
                   geo_normalize_lon(lon1 * 3) AS nl,
                   geo_to_unit(geo_haversine_m(lat1, lon1, lat2, lon2),
                               'nmi') AS nmi,
                   geo_cell_id(lat1, lon1, 9) AS cid,
                   geo_parent_cell(geo_cell_id(lat1, lon1, 9), 9, 5) AS pc
            FROM sql_pts""").toPandas()
        want = sql_pts.select(
            haversine_m("lat1", "lon1", "lat2", "lon2").alias("hv"),
            great_circle_m("lat1", "lon1", "lat2", "lon2").alias("gc"),
            bearing_sphere_deg("lat1", "lon1", "lat2", "lon2").alias("brg"),
            normalize_lon(F.col("lon1") * 3).alias("nl"),
            to_unit(haversine_m("lat1", "lon1", "lat2", "lon2"),
                    "nmi").alias("nmi"),
            cell_id_col("lat1", "lon1", 9).alias("cid"),
            parent_cell_col(cell_id_col("lat1", "lon1", 9), 9, 5).alias("pc"),
        ).toPandas()
        for c in got.columns:
            assert (got[c].values == want[c].values).all(), c

    def test_destination_struct_bit_identical(self, spark, sql_pts):
        got = spark.sql(
            "SELECT geo_destination(lat1, lon1, b, d) AS dest "
            "FROM sql_pts").toPandas()
        want = sql_pts.select(
            destination_sphere("lat1", "lon1", "b", "d").alias("dest")
        ).toPandas()
        for g, w in zip(got["dest"], want["dest"]):
            assert g["lat"] == w["lat"] and g["lon"] == w["lon"]

    def test_vincenty_matches_dataframe_udf(self, spark, sql_pts):
        got = spark.sql(
            "SELECT geo_vincenty_m(lat1, lon1, lat2, lon2) AS v "
            "FROM sql_pts LIMIT 500").toPandas()
        want = sql_pts.limit(500).select(
            vincenty_udf()("lat1", "lon1", "lat2", "lon2").alias("v")
        ).toPandas()
        assert (got["v"].values == want["v"].values).all()

    def test_midpoint_and_ellipsoidal_destination_match_udfs(self, spark,
                                                             sql_pts):
        from geodistpy_spark.functions.udfs import (destination_udf,
                                                    midpoint_udf)
        got = spark.sql(
            "SELECT geo_midpoint(lat1, lon1, lat2, lon2) AS mid, "
            "       geo_destination_vincenty(lat1, lon1, b, d) AS dst "
            "FROM sql_pts LIMIT 300").toPandas()
        want = sql_pts.limit(300).select(
            midpoint_udf()("lat1", "lon1", "lat2", "lon2").alias("mid"),
            destination_udf()("lat1", "lon1", "b", "d").alias("dst"),
        ).toPandas()
        for c in ("mid", "dst"):
            for g, w in zip(got[c], want[c]):
                assert g["lat"] == w["lat"] and g["lon"] == w["lon"]
        # midpoint is equidistant from both endpoints (exact kernel
        # property, checked through the SQL surface end-to-end)
        row = spark.sql("""
            SELECT geo_vincenty_m(lat1, lon1, m.lat, m.lon) AS d1,
                   geo_vincenty_m(lat2, lon2, m.lat, m.lon) AS d2
            FROM (SELECT lat1, lon1, lat2, lon2,
                         geo_midpoint(lat1, lon1, lat2, lon2) AS m
                  FROM sql_pts LIMIT 50)""").toPandas()
        assert (abs(row["d1"] - row["d2"]) < 1e-3).all()

    def test_null_coordinates_propagate_null(self, spark, sql_pts):
        # greatest/least SKIP nulls, so without explicit guards a null
        # coordinate becomes 0 m / cell 0 / lat -90 — all silently
        # wrong. Both API levels must return NULL instead.
        row = spark.sql("""
            SELECT geo_haversine_m(NULL, 0.0d, 1.0d, 1.0d) AS hv,
                   geo_greatcircle_m(NULL, 0.0d, 1.0d, 1.0d) AS gc,
                   geo_bearing_deg(NULL, 0.0d, 1.0d, 1.0d) AS brg,
                   geo_cell_id(NULL, 0.0d, 9) AS cid,
                   geo_cell_id(0.0d, NULL, 9) AS cid2,
                   geo_destination(NULL, 0.0d, 90.0d, 1000.0d) AS dest
        """).collect()[0]
        assert row.hv is None and row.gc is None and row.brg is None
        assert row.cid is None and row.cid2 is None and row.dest is None
        df = spark.createDataFrame(
            [(None, 0.0, 1.0, 1.0)], "lat1 double, lon1 double, "
            "lat2 double, lon2 double")
        got = df.select(
            haversine_m("lat1", "lon1", "lat2", "lon2").alias("hv"),
            cell_id_col("lat1", "lon1", 9).alias("cid"),
            destination_sphere("lat1", "lon1", F.lit(90.0),
                               F.lit(1000.0)).alias("dest"),
        ).collect()[0]
        assert got.hv is None and got.cid is None and got.dest is None

    def test_nan_coordinates_propagate(self, spark, sql_pts):
        # greatest/least rank NaN ABOVE every number, so without the
        # NaN guards a NaN coordinate becomes the ANTIPODAL distance
        # (clamp hits 1.0 -> asin(1)), destination lands on the NORTH
        # pole (clamp hits +1), and floor() collapses NaN to a valid
        # long so cell_id returns a REAL cell — a false equi-join key.
        # Contract: NaN in -> NaN out for doubles (matching the numpy
        # kernels), NULL for the integral cell id and for the
        # destination point (as on the Vincenty-direct path).
        import math
        row = spark.sql("""
            SELECT geo_haversine_m(double('NaN'), 0.0d, 1.0d, 1.0d) AS hv,
                   geo_cell_id(double('NaN'), 0.0d, 9) AS cid,
                   geo_cell_id(0.0d, double('NaN'), 9) AS cid2,
                   geo_destination(double('NaN'), 0.0d, 90.0d, 1000.0d) AS dest
        """).collect()[0]
        assert math.isnan(row.hv)
        assert row.cid is None and row.cid2 is None
        assert row.dest is None
        df = spark.createDataFrame(
            [(float("nan"), 0.0, 1.0, 1.0)], "lat1 double, lon1 double, "
            "lat2 double, lon2 double")
        got = df.select(
            haversine_m("lat1", "lon1", "lat2", "lon2").alias("hv"),
            cell_id_col("lat1", "lon1", 9).alias("cid"),
            cell_id_col("lat2", "lon1", 9).alias("cid_ok"),
            destination_sphere("lat1", "lon1", F.lit(90.0),
                               F.lit(1000.0)).alias("dest"),
        ).collect()[0]
        assert math.isnan(got.hv) and got.cid is None
        assert got.cid_ok is not None
        assert got.dest is None

    def test_infinite_coordinates_yield_null_cell(self, spark, sql_pts):
        # the clamp exists for rounding jitter at the domain edge, but
        # unguarded it bins lat=+Infinity into the TOP row and
        # lon=-Infinity (via pmod -> NaN -> floor -> 0) into column 0
        # — real equi-join keys for garbage input. Distances already
        # collapse ±inf to NaN through the trig; the integral cell id
        # must yield NULL on both API levels.
        import math
        row = spark.sql("""
            SELECT geo_cell_id(double('Infinity'), 0.0d, 8) AS cid_lat,
                   geo_cell_id(10.0d, double('-Infinity'), 8) AS cid_lon,
                   geo_haversine_m(double('Infinity'), 0.0d, 10.0d, 10.0d) AS hv
        """).collect()[0]
        assert row.cid_lat is None and row.cid_lon is None
        assert math.isnan(row.hv)
        got = spark.createDataFrame(
            [(float("inf"), float("-inf"), 10.0)],
            "plat double, nlon double, ok double").select(
            cell_id_col("plat", "ok", 8).alias("cid_lat"),
            cell_id_col("ok", "nlon", 8).alias("cid_lon"),
            cell_id_col("ok", "ok", 8).alias("cid_ok")).collect()[0]
        assert got.cid_lat is None and got.cid_lon is None
        assert got.cid_ok is not None

    def test_parent_res_finer_than_res_rejected(self, spark, sql_pts):
        # JVM shiftright masks negative counts (& 63), so an inverted
        # res pair silently returned garbage (0) instead of failing.
        # Builder (build-time ints): raises like grid.parent_cell; SQL
        # UDF (runtime values): NULL.
        with pytest.raises(ValueError, match="parent_res must be <= res"):
            parent_cell_col(F.lit(100), 4, 6)
        row = spark.sql(
            "SELECT geo_parent_cell(100, 4, 6) AS bad, "
            "       geo_parent_cell(100, 4, 4) AS self_, "
            "       geo_parent_cell(100, 4, 2) AS up"
        ).collect()[0]
        assert row.bad is None
        assert row.self_ == 100
        from geodistpy_spark.grid import parent_cell
        assert row.up == parent_cell(100, 4, 2)

    def test_null_longitude_destination_propagates(self, spark, sql_pts):
        # sp2 never involves lon, so a guard on sp2 alone would return
        # struct(lat=<computed>, lon=NULL) — a fabricated latitude
        row = spark.sql(
            "SELECT geo_destination(10.0d, NULL, 90.0d, 1000.0d) AS dest"
        ).collect()[0]
        assert row.dest is None
        got = spark.createDataFrame(
            [(10.0, None)], "lat double, lon double").select(
            destination_sphere("lat", "lon", F.lit(90.0),
                               F.lit(1000.0)).alias("dest")).collect()[0]
        assert got.dest is None

    def test_to_unit_m_alias_and_null_metric(self, spark, sql_pts):
        row = spark.sql(
            "SELECT geo_to_unit(1852.0d, 'm') AS m, "
            "       geo_to_unit(1852.0d, 'nmi') AS nmi, "
            "       geo_to_unit(1852.0d, CAST(NULL AS STRING)) AS nul"
        ).collect()[0]
        assert row.m == 1852.0 and row.nmi == 1.0 and row.nul is None

    def test_unknown_metric_raises(self, spark, sql_pts):
        with pytest.raises(Exception, match="unknown metric"):
            spark.sql("SELECT geo_to_unit(1.0d, 'furlong')").collect()

    def test_sql_udf_inlines_into_codegen(self, spark, sql_pts):
        # a SQL UDF over literals must constant-fold at plan time —
        # proof Catalyst inlined it (no eval node, no Python worker)
        plan = spark.sql(
            "SELECT geo_haversine_m(0.0d, 0.0d, 0.0d, 1.0d) AS x"
        )._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan
        assert "111" in plan  # folded literal ~111195 m (1 deg at equator)

    def test_custom_prefix_and_ellipsoid(self, spark, sql_pts):
        names = register_sql_functions(spark, prefix="g2_",
                                       ellipsoid="GRS-80")
        assert all(n.startswith("g2_") for n in names)
        row = spark.sql(
            "SELECT g2_vincenty_m(0.0d, 0.0d, 0.0d, 1.0d) AS v,"
            "       g2_haversine_m(0.0d, 0.0d, 0.0d, 1.0d) AS h"
        ).collect()[0]
        assert abs(row.v - 111319.49079322515) < 1e-3  # GRS-80 ~= WGS-84
        assert abs(row.h - 111195.08372419141) < 1e-6
        # a custom (a, f) reaches the great circle, not only the exact
        # kernels: bit-identical to the builder on the same ellipsoid
        mars = (3396190.0, 1.0 / 169.8)
        register_sql_functions(spark, prefix="g3_", ellipsoid=mars)
        pair = "lat1, lon1, lat2, lon2"
        got = spark.sql(
            f"SELECT g3_greatcircle_m({pair}) AS gc, "
            f"       geo_greatcircle_m({pair}) AS wgs FROM sql_pts").toPandas()
        want = sql_pts.select(great_circle_m(
            "lat1", "lon1", "lat2", "lon2", *mars).alias("gc")).toPandas()
        assert (got["gc"].values == want["gc"].values).all()
        assert (got["gc"].values < 0.6 * got["wgs"].values).all()
        row = spark.sql(
            "SELECT g3_greatcircle_m(10.0d, 20.0d, 30.0d, 40.0d) AS gc, "
            "       g3_vincenty_m(10.0d, 20.0d, 30.0d, 40.0d) AS v"
        ).collect()[0]
        assert abs(row.gc - 1_613_115.3) < 0.1 and abs(row.v - 1_613_122.0) < 0.1
