"""Spark operator tests: results must equal brute-force/kernel oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geodistpy_spark import kernels as K
from geodistpy_spark.constants import ELLIPSOIDS, HAV_ROUND_M, hav_bounds, resolve_ellipsoid
from geodistpy_spark.operators import (
    bearing,
    destination,
    geodesic_knn,
    geodist,
    geodist_matrix,
    geodist_to_many,
    greatcircle,
    interpolate,
    knn_join,
    midpoint,
    point_in_polygon_join,
    point_in_radius,
    radius_join,
    zonal_stats,
)


@pytest.fixture(scope="module")
def places_pd(places):
    return places.toPandas()


@pytest.fixture(scope="module")
def pair_df(spark, places_pd):
    a = places_pd.head(300).reset_index(drop=True)
    b = places_pd.tail(300).reset_index(drop=True)
    import pandas as pd

    pdf = pd.DataFrame({
        "id": np.arange(300),
        "lat1": a.lat.values, "lon1": a.lon.values,
        "lat2": b.lat.values, "lon2": b.lon.values,
    })
    return spark.createDataFrame(pdf), pdf


class TestDistances:
    def test_geodist_matches_kernel(self, pair_df):
        df, pdf = pair_df
        out = geodist(df, "lat1", "lon1", "lat2", "lon2").orderBy("id").toPandas()
        exp = K.geodesic_inverse(pdf.lat1.values, pdf.lon1.values,
                                 pdf.lat2.values, pdf.lon2.values)
        assert np.allclose(out.dist.values, exp, atol=1e-6)

    def test_geodist_km(self, pair_df):
        df, pdf = pair_df
        out = geodist(df, "lat1", "lon1", "lat2", "lon2", metric="km").orderBy("id").toPandas()
        exp = K.geodesic_inverse(pdf.lat1.values, pdf.lon1.values,
                                 pdf.lat2.values, pdf.lon2.values) / 1000.0
        assert np.allclose(out.dist.values, exp, atol=1e-9)

    def test_greatcircle_expression_matches_kernel(self, pair_df):
        df, pdf = pair_df
        out = greatcircle(df, "lat1", "lon1", "lat2", "lon2").orderBy("id").toPandas()
        exp = K.great_circle(pdf.lat1.values, pdf.lon1.values,
                             pdf.lat2.values, pdf.lon2.values)
        assert np.allclose(out.dist.values, exp, rtol=1e-12, atol=1e-6)

    def test_geodist_to_many(self, places, places_pd):
        origin = (48.8566, 2.3522)
        out = geodist_to_many(places, origin).orderBy("place_id").toPandas()
        exp = K.geodesic_inverse(np.full(len(places_pd), origin[0]),
                                 np.full(len(places_pd), origin[1]),
                                 places_pd.sort_values("place_id").lat.values,
                                 places_pd.sort_values("place_id").lon.values)
        assert np.allclose(out.dist.values, exp, atol=1e-6)

    def test_matrix_pdist_symmetric_mirror(self, spark, places_pd):
        sub = spark.createDataFrame(places_pd.head(40)[["place_id", "lat", "lon"]])
        m = geodist_matrix(sub, id_col="place_id").toPandas()
        assert len(m) == 40 * 39  # both triangles, no diagonal
        piv = m.pivot(index="id_1", columns="id_2", values="dist")
        mat = piv.values
        assert np.allclose(mat, mat.T, equal_nan=True, atol=1e-9)

    def test_matrix_cdist(self, spark, places_pd):
        a = spark.createDataFrame(places_pd.head(20)[["place_id", "lat", "lon"]])
        b = spark.createDataFrame(places_pd.tail(30)[["place_id", "lat", "lon"]])
        m = geodist_matrix(a, b, id_col="place_id").toPandas()
        assert len(m) == 600
        row = m[(m.id_1 == m.id_1.iloc[0])].iloc[0]
        pa = places_pd[places_pd.place_id == row.id_1].iloc[0]
        pb = places_pd[places_pd.place_id == row.id_2].iloc[0]
        exp = K.geodesic_inverse([pa.lat], [pa.lon], [pb.lat], [pb.lon])[0]
        assert abs(row.dist - exp) < 1e-6

    def test_bearing_destination_roundtrip(self, pair_df):
        df, pdf = pair_df
        out = bearing(df, "lat1", "lon1", "lat2", "lon2")
        out = geodist(out, "lat1", "lon1", "lat2", "lon2", out="d_m")
        out = destination(out, "lat1", "lon1", "bearing_deg", "d_m").orderBy("id").toPandas()
        assert np.allclose(out.dest_lat.values, pdf.lat2.values, atol=1e-6)
        dlon = np.abs(((out.dest_lon.values - pdf.lon2.values + 180) % 360) - 180)
        assert dlon.max() < 1e-6

    def test_midpoint_equidistant(self, spark, places_pd):
        import pandas as pd

        pdf = pd.DataFrame({
            "lat1": places_pd.lat.values[:50], "lon1": places_pd.lon.values[:50],
            "lat2": places_pd.lat.values[50:100], "lon2": places_pd.lon.values[50:100],
        })
        df = spark.createDataFrame(pdf)
        out = midpoint(df, "lat1", "lon1", "lat2", "lon2").toPandas()
        d1 = K.geodesic_inverse(out.lat1.values, out.lon1.values,
                                out.mid_lat.values, out.mid_lon.values)
        d2 = K.geodesic_inverse(out.mid_lat.values, out.mid_lon.values,
                                out.lat2.values, out.lon2.values)
        assert np.allclose(d1, d2, atol=1e-3)

    def test_interpolate_explodes_waypoints(self, spark):
        df = spark.createDataFrame([(0, 10.0, 10.0, 20.0, 20.0)],
                                   "id long, lat1 double, lon1 double, lat2 double, lon2 double")
        out = interpolate(df, "lat1", "lon1", "lat2", "lon2", n_points=4).toPandas()
        assert len(out) == 4
        assert list(out.waypoint_idx) == [0, 1, 2, 3]
        total = K.geodesic_inverse([10.0], [10.0], [20.0], [20.0])[0]
        seg = K.geodesic_inverse([10.0], [10.0], [out.wp_lat[0]], [out.wp_lon[0]])[0]
        assert abs(seg - total / 5) < 1e-3

    def test_exact_udfs_null_nan_coincident_and_empty(self, spark):
        """Every exact Arrow UDF, operator and SQL: a null or NaN
        coordinate gives null out (a null point or ring vertex, never a
        fabricated point or azimuth, on the exact and the spherical
        direct problem alike), a coincident pair gives 0 m and repeated
        waypoints, an empty frame gives no rows."""
        from geodistpy_spark.operators import geodesic_buffer
        from geodistpy_spark.sql import register_sql_functions

        register_sql_functions(spark)
        schema = "id long, lat1 double, lon1 double, lat2 double, lon2 double"
        rows = [(0, None, 10.0, 20.0, 30.0),          # null lat
                (1, 10.0, float("nan"), 30.0, 40.0),  # NaN lon
                (2, 45.0, 7.0, 45.0, 7.0)]            # coincident

        def every_udf(df):
            pair = ("lat1", "lon1", "lat2", "lon2")
            out = bearing(geodist(df, *pair), *pair)
            out = destination(out.withColumn("b", F.lit(90.0)), "lat1", "lon1", "b", 1000.0)
            out = midpoint(interpolate(out, *pair, n_points=2, explode=False), *pair)
            for exact in (True, False):
                out = geodesic_buffer(out, 1000.0, n_vertices=3, exact=exact,
                                      lat_col="lat1", lon_col="lon1",
                                      out=f"ring_{exact}")
            return out.selectExpr(
                "*", "geo_vincenty_m(lat1, lon1, lat2, lon2) AS v",
                "geo_destination_vincenty(lat1, lon1, 90.0d, 1000.0d) AS d",
                "geo_destination(lat1, lon1, 90.0d, 1000.0d) AS ds",
                "geo_midpoint(lat1, lon1, lat2, lon2) AS m")

        r0, r1, r2 = every_udf(spark.createDataFrame(rows, schema)).orderBy("id").collect()
        for r in (r0, r1):
            assert (r.dist, r.bearing_deg, r.v) == (None, None, None)
            assert (r.mid_lat, r.mid_lon, r.m) == (None, None, None)
            assert r.waypoints == [None] * 2
            # a NaN longitude reaches no latitude either: the point is null
            assert (r.dest_lat, r.dest_lon, r.d, r.ds) == (None, None, None, None)
            assert r.ring_True == r.ring_False == [None] * 3
        assert (r2.dist, r2.bearing_deg, r2.v) == (0.0, 0.0, 0.0)
        assert [tuple(w) for w in r2.waypoints] == [(45.0, 7.0)] * 2
        assert (r2.mid_lat, r2.mid_lon) == (45.0, 7.0) == tuple(r2.m)
        assert tuple(r2.d) == (r2.dest_lat, r2.dest_lon)
        assert np.isfinite([r2.dest_lat, r2.dest_lon, *r2.ds,
                            *np.ravel(r2.ring_True), *np.ravel(r2.ring_False)]).all()
        assert every_udf(spark.createDataFrame([], schema)).count() == 0


class TestRadius:
    def test_point_in_radius_exact_vs_brute(self, places, places_pd):
        for center, radius in [((48.85, 2.35), 500_000.0),
                               ((89.95, 10.0), 300_000.0),
                               ((0.0, 179.95), 200_000.0)]:
            got = point_in_radius(places, center, radius).select("place_id").toPandas()
            d = K.geodesic_inverse(np.full(len(places_pd), center[0]),
                                   np.full(len(places_pd), center[1]),
                                   places_pd.lat.values, places_pd.lon.values)
            exp = set(places_pd.place_id.values[d <= radius])
            assert set(got.place_id) == exp

    def test_prefilter_plan_keeps_AL_out_of_predicates(self, spark):
        # regression lock for the StrictMath blowup: ATAN appears only in
        # the Andoyer-Lambert / bearing expressions, so (a) an EXACT-mode
        # plan must contain no ATAN at all (haversine prefilter + Arrow
        # kernel), and (b) a gc-mode plan may carry AL only inside the
        # short-circuited band conjunct and the projection — never as a
        # standalone pushed filter on the candidate scan
        import re

        from geodistpy_spark.operators import knn_join, radius_join

        q = spark.createDataFrame([(0, 40.0, -74.0)],
                                  "query_id long, q_lat double, q_lon double")
        c = spark.createDataFrame([(1, 40.1, -74.1)],
                                  "cid long, lat double, lon double")
        exact_plan = radius_join(q, c, 100_000.0, exact=True) \
            ._jdf.queryExecution().optimizedPlan().toString()
        assert "ATAN" not in exact_plan.upper()
        knn_plan = knn_join(q, c, 1, c_id="cid", exact=True) \
            ._jdf.queryExecution().optimizedPlan().toString()
        # knn's gc mode legitimately projects AL when exact=False
        # only; exact mode must be ATAN-free end to end
        assert "ATAN" not in knn_plan.upper()
        gc_plan = radius_join(q, c, 100_000.0, exact=False) \
            ._jdf.queryExecution().optimizedPlan().toString()
        for line in gc_plan.splitlines():
            s = line.strip()
            # any Filter/Join line carrying AL must also carry the
            # haversine band guard (ASIN) that short-circuits it
            if ("ATAN" in s.upper()) and (s.startswith("Filter")
                                          or s.startswith("+- Filter")
                                          or "Join Inner" in s):
                assert "ASIN" in s.upper(), s[:200]

    def test_boundary_inclusive(self, spark):
        # candidate exactly AT the radius must be returned (distance.py:453)
        center = (10.0, 20.0)
        la, lo, _ = K.vincenty_direct([center[0]], [center[1]], [45.0], [100_000.0])
        df = spark.createDataFrame([(0, float(la[0]), float(lo[0]))], "id long, lat double, lon double")
        d_exact = K.geodesic_inverse([center[0]], [center[1]], la, lo)[0]
        got = point_in_radius(df, center, float(d_exact)).count()
        assert got == 1
        # hav_a <= outer * s is attained by a short meridian arc at the
        # equator: a point due north at exactly r sits on the prefilter's
        # edge and passes only within the float allowance
        for r in (1.0, 1_000.0):
            la, lo, _ = K.vincenty_direct([0.0], [0.0], [0.0], [r])
            d_exact = K.geodesic_inverse([0.0], [0.0], la, lo)[0]
            df = spark.createDataFrame([(0, float(la[0]), float(lo[0]))],
                                       "id long, lat double, lon double")
            assert point_in_radius(df, (0.0, 0.0), float(d_exact)).count() == 1, r
        # radius 0: lon 180 and -180 spell one point, whose haversine is
        # ~1e-9 m, not 0
        df = spark.createDataFrame([(0, 0.0, -180.0)], "id long, lat double, lon double")
        assert point_in_radius(df, (0.0, 180.0), 0.0).count() == 1

    def test_gc_mode_honours_ellipsoid(self, spark):
        # (9, 0) is inside r from (0, 0) by Andoyer-Lambert on Clarke
        # (1880) and outside it on WGS-84: exact=False must use the
        # ellipsoid it is given
        clarke = "Clarke (1880)"
        al_c = K.great_circle([0.0], [0.0], [9.0], [0.0], *resolve_ellipsoid(clarke))[0]
        al_w = K.great_circle([0.0], [0.0], [9.0], [0.0])[0]
        assert al_c < al_w
        r = (al_c + al_w) / 2.0
        cand = spark.createDataFrame([(0, 9.0, 0.0)], "id long, lat double, lon double")
        q = spark.createDataFrame([(1, 0.0, 0.0)], "query_id long, q_lat double, q_lon double")
        assert point_in_radius(cand, (0.0, 0.0), r, ellipsoid=clarke, exact=False).count() == 1
        assert radius_join(q, cand, r, ellipsoid=clarke, exact=False).count() == 1
        got = knn_join(q, cand, 1, ellipsoid=clarke, exact=False).collect()
        assert got[0]["dist"] == pytest.approx(al_c, abs=1e-6)

    def test_radius_join_vs_brute(self, spark, places, places_pd):
        qpd = places_pd.head(30).rename(
            columns={"place_id": "query_id", "lat": "q_lat", "lon": "q_lon"}
        )[["query_id", "q_lat", "q_lon"]]
        # a null and a NaN query coordinate have no cover: no rows
        queries = spark.createDataFrame(qpd).unionByName(spark.createDataFrame(
            [(-1, None, 2.35), (-2, 48.85, float("nan"))],
            "query_id long, q_lat double, q_lon double"))
        radius = 300_000.0
        rj = radius_join(queries, places, radius).select("query_id", "place_id").toPandas()
        got = set(zip(rj.query_id, rj.place_id))
        exp = set()
        for q in qpd.itertuples():
            d = K.geodesic_inverse(np.full(len(places_pd), q.q_lat),
                                   np.full(len(places_pd), q.q_lon),
                                   places_pd.lat.values, places_pd.lon.values)
            exp |= {(q.query_id, p) for p in places_pd.place_id.values[d <= radius]}
        assert got == exp

    def test_radius_join_gc_km_vs_brute(self, spark, places, places_pd):
        # gc mode + non-meter metric: the band decision mixes meter-
        # domain conjuncts with the unit-domain tie-break — result set
        # must still equal brute-force AL in the requested unit
        qpd = places_pd.head(20).rename(
            columns={"place_id": "query_id", "lat": "q_lat", "lon": "q_lon"}
        )[["query_id", "q_lat", "q_lon"]]
        queries = spark.createDataFrame(qpd)
        rj = radius_join(queries, places, 250.0, metric="km", exact=False) \
            .select("query_id", "place_id").toPandas()
        got = set(zip(rj.query_id, rj.place_id))
        exp = set()
        for q in qpd.itertuples():
            d = K.great_circle(np.full(len(places_pd), q.q_lat),
                               np.full(len(places_pd), q.q_lon),
                               places_pd.lat.values, places_pd.lon.values)
            exp |= {(q.query_id, p)
                    for p in places_pd.place_id.values[d / 1000.0 <= 250.0]}
        assert got == exp

    def test_radius_join_salted_same_result(self, spark, places, places_pd):
        qpd = places_pd.head(10).rename(
            columns={"place_id": "query_id", "lat": "q_lat", "lon": "q_lon"}
        )[["query_id", "q_lat", "q_lon"]]
        queries = spark.createDataFrame(qpd)
        plain = radius_join(queries, places, 200_000.0).select("query_id", "place_id").toPandas()
        salted = radius_join(queries, places, 200_000.0, salt=4).select("query_id", "place_id").toPandas()
        assert set(zip(plain.query_id, plain.place_id)) == set(zip(salted.query_id, salted.place_id))


class TestKnn:
    def test_knn_single_vs_brute(self, places, places_pd):
        center = (48.85, 2.35)
        k = 12
        got = geodesic_knn(places, center, k, id_col="place_id").toPandas()
        d = K.geodesic_inverse(np.full(len(places_pd), center[0]),
                               np.full(len(places_pd), center[1]),
                               places_pd.lat.values, places_pd.lon.values)
        order = np.lexsort((places_pd.place_id.values, d))[:k]
        assert list(got.place_id) == list(places_pd.place_id.values[order])
        assert np.allclose(np.sort(got.dist.values), np.sort(d[order]), atol=1e-6)

    def test_knn_k_validation(self, places):
        with pytest.raises(ValueError):
            geodesic_knn(places, (0.0, 0.0), 0)

    def test_knn_join_vs_brute(self, spark, places, places_pd):
        qpd = places_pd.head(25).rename(
            columns={"place_id": "query_id", "lat": "q_lat", "lon": "q_lon"}
        )[["query_id", "q_lat", "q_lon"]]
        queries = spark.createDataFrame(qpd)
        k = 5
        kj = knn_join(queries, places, k).select("query_id", "place_id", "dist").toPandas()
        assert len(kj) == 25 * k
        for q in qpd.itertuples():
            d = K.geodesic_inverse(np.full(len(places_pd), q.q_lat),
                                   np.full(len(places_pd), q.q_lon),
                                   places_pd.lat.values, places_pd.lon.values)
            exp_d = np.sort(d)[:k]
            got_d = np.sort(kj[kj.query_id == q.query_id].dist.values)
            assert np.allclose(got_d, exp_d, atol=1e-6)

    def test_knn_join_duplicate_coords_tiebreak_by_id(self, spark):
        # 6 candidates at the SAME point, ids shuffled: with c_id the
        # result must pick the smallest ids deterministically (reference
        # argsort is index-stable, distance.py:533-537)
        cand = spark.createDataFrame(
            [(cid, 10.0, 20.0) for cid in (31, 7, 19, 3, 11, 23)]
            + [(99, 60.0, 60.0)],
            "place_id long, lat double, lon double")
        queries = spark.createDataFrame([(1, 10.1, 20.1)],
                                        "query_id long, q_lat double, q_lon double")
        for _ in range(2):  # determinism across runs
            got = (knn_join(queries, cand, 3, c_id="place_id")
                   .select("place_id").toPandas().place_id.tolist())
            assert sorted(got) == [3, 7, 11]

    def test_knn_join_invalid_query_coords_excluded(self, spark):
        q = spark.createDataFrame(
            [(1, 10.0, 20.0), (2, None, 20.0), (3, 95.0, 20.0), (4, float("nan"), 20.0)],
            "query_id long, q_lat double, q_lon double")
        cand = spark.createDataFrame(
            [(i, 10.0 + i * 0.01, 20.0) for i in range(30)],
            "cid long, lat double, lon double")
        out = knn_join(q, cand, 2, c_id="cid").toPandas()
        assert set(out.query_id) == {1}  # null / out-of-range / NaN dropped
        with pytest.raises(ValueError, match="out of range"):
            geodesic_knn(cand, (95.0, 20.0), 2, id_col="cid")

    def test_knn_join_k_exceeds_candidates_raises(self, spark):
        cand = spark.createDataFrame([(1, 0.0, 0.0)], "place_id long, lat double, lon double")
        queries = spark.createDataFrame([(1, 1.0, 1.0)],
                                        "query_id long, q_lat double, q_lon double")
        with pytest.raises(ValueError):
            knn_join(queries, cand, 2)

    def test_knn_join_randomized_stress_vs_brute(self, spark):
        # randomized configs over clustered+duplicate candidates and
        # mixed query placements, exact and great-circle, several k —
        # every config checked against brute force
        import pandas as pd
        rng = np.random.default_rng(2024)
        centers = rng.uniform(-70, 70, (6, 2))
        n = 800
        which = rng.integers(0, 6, n)
        cand_lat = np.clip(centers[which, 0] + rng.normal(0, 2, n), -90, 90)
        cand_lon = ((centers[which, 1] + rng.normal(0, 2, n) + 180) % 360) - 180
        cand_lat[:20] = cand_lat[0]; cand_lon[:20] = cand_lon[0]  # duplicates
        cand = spark.createDataFrame(
            pd.DataFrame({"cid": np.arange(n), "lat": cand_lat, "lon": cand_lon}))
        qlat = np.concatenate([rng.uniform(-85, 85, 10), centers[:3, 0]])
        qlon = np.concatenate([rng.uniform(-180, 180, 10), centers[:3, 1]])
        queries = spark.createDataFrame(
            pd.DataFrame({"query_id": np.arange(len(qlat)),
                          "q_lat": qlat, "q_lon": qlon}))
        for k, exact in [(1, True), (3, False), (17, True)]:
            got = knn_join(queries, cand, k, exact=exact,
                           c_lat="lat", c_lon="lon", c_id="cid").toPandas()
            assert len(got) == len(qlat) * k, (k, exact, len(got))
            dfun = K.geodesic_inverse if exact else K.great_circle
            for qi in range(len(qlat)):
                d = dfun(np.full(n, qlat[qi]), np.full(n, qlon[qi]),
                         cand_lat, cand_lon)
                exp = np.sort(d)[:k]
                g = np.sort(got[got.query_id == qi].dist.values)
                assert np.allclose(g, exp, atol=1e-6), (k, exact, qi)

    def test_knn_join_null_candidate_coords_ignored(self, spark):
        # dirty candidate tables (null / NaN / out-of-range coordinates)
        # must neither crash the histogram nor surface as neighbors
        cand = spark.createDataFrame(
            [(i, 10.0 + i * 0.01, 20.0) for i in range(30)]
            + [(100, None, 20.0), (101, float("nan"), 20.0),
               (102, 95.0, 20.0), (103, 10.0, None)],
            "cid long, lat double, lon double")
        q = spark.createDataFrame([(1, 10.0, 20.0)],
                                  "query_id long, q_lat double, q_lon double")
        out = knn_join(q, cand, 3, c_id="cid").toPandas()
        assert set(out.cid) == {0, 1, 2}
        # k <= n validation counts only VALID candidates (30 here)
        with pytest.raises(ValueError, match="exceeds candidate count 30"):
            knn_join(q, cand, 31, c_id="cid")

    def test_knn_join_precomputed_histogram(self, spark, places, places_pd):
        # hist= skips the per-call candidate aggregation and returns the
        # identical result
        from geodistpy_spark.operators import candidate_histogram

        hist = candidate_histogram(places)
        assert hist[1] == len(places_pd)
        queries = spark.createDataFrame([(1, 48.0, 2.0), (2, -30.0, 140.0)],
                                        "query_id long, q_lat double, q_lon double")
        a = knn_join(queries, places, 5, c_id="place_id").toPandas()
        b = knn_join(queries, places, 5, c_id="place_id", hist=hist).toPandas()
        key = ["query_id", "place_id"]
        pd_a = a.sort_values(key).reset_index(drop=True)
        pd_b = b.sort_values(key).reset_index(drop=True)
        assert (pd_a[key].values == pd_b[key].values).all()
        assert np.allclose(pd_a.dist.values, pd_b.dist.values)

    def test_knn_join_hist_skips_candidate_scan(self, spark, places, places_pd,
                                                 monkeypatch):
        # with hist= the join must not re-aggregate the candidate table
        # (poisoned to prove it)
        from geodistpy_spark.operators import candidate_histogram
        from geodistpy_spark.operators import knn as KN

        hist = candidate_histogram(places)

        def _boom(*a, **k):
            raise AssertionError("candidate histogram recomputed despite hist=")

        monkeypatch.setattr(KN, "candidate_histogram", _boom)
        q = spark.createDataFrame([(1, 48.0, 2.0)],
                                  "query_id long, q_lat double, q_lon double")
        got = KN.knn_join(q, places, 3, c_id="place_id", hist=hist).toPandas()
        d = K.geodesic_inverse(np.full(len(places_pd), 48.0),
                               np.full(len(places_pd), 2.0),
                               places_pd.lat.values, places_pd.lon.values)
        assert np.allclose(np.sort(got.dist.values), np.sort(d)[:3], atol=1e-6)

    def test_knn_join_polar_cover_capped_routes_phase3(self, spark, monkeypatch):
        # a pole-adjacent query whose pass-1 cover exceeds the cell
        # budget (zero here) gets an EMPTY cover and must still come back
        # exact via the fallback pass
        import pandas as pd

        from geodistpy_spark.operators import knn as KN

        monkeypatch.setattr(KN, "COVER_BUDGET", 0)
        rng = np.random.default_rng(7)
        n = 400
        cand_lat = rng.uniform(82.0, 90.0, n)
        cand_lon = rng.uniform(-180.0, 180.0, n)
        cand = spark.createDataFrame(
            pd.DataFrame({"cid": np.arange(n), "lat": cand_lat, "lon": cand_lon}))
        q = spark.createDataFrame([(1, 89.9, 10.0)],
                                  "query_id long, q_lat double, q_lon double")
        seed = KN._seed_udf(np.ones((64, 64), np.int64), 5, 1e6, 10, "WGS-84")
        s = q.select(seed("q_lat", "q_lon").alias("s")).first().s
        assert s.cells == [] and len(s.fcells) > 0  # the budget reaches the UDF
        got = KN.knn_join(q, cand, 5, c_id="cid").toPandas()
        d = K.geodesic_inverse(np.full(n, 89.9), np.full(n, 10.0),
                               cand_lat, cand_lon)
        assert np.allclose(np.sort(got.dist.values), np.sort(d)[:5], atol=1e-6)

    def test_knn_join_leaves_no_persistent_rdds(self, spark, places):
        # a long-lived session must not accumulate cached relations per
        # call
        jsc = spark.sparkContext._jsc
        before = len(jsc.getPersistentRDDs())
        for lat, k in ((48.0, 3), (-30.0, 4)):
            q = spark.createDataFrame([(1, lat, 2.0)],
                                      "query_id long, q_lat double, q_lon double")
            assert knn_join(q, places, k, c_id="place_id").count() == k
        assert len(jsc.getPersistentRDDs()) == before

    def test_knn_join_plan_has_no_cross_join(self, spark, places):
        # the sparse-straggler query is answered by the fallback cover
        # join, never by a nested-loop or cartesian cross join
        q = spark.createDataFrame([(1, -40.0, -140.0)],
                                  "query_id long, q_lat double, q_lon double")
        qe = knn_join(q, places, 40, c_id="place_id")._jdf.queryExecution()
        plans = qe.optimizedPlan().toString() + qe.executedPlan().toString()
        assert "CartesianProduct" not in plans
        assert "BroadcastNestedLoopJoin" not in plans
        assert "Join Cross" not in plans

    def test_knn_join_sparse_straggler_phase3(self, spark, places, places_pd):
        # a query in the middle of the Pacific with k larger than any
        # pass-1 disk plausibly holds -> must still return exact top-k
        queries = spark.createDataFrame([(1, -40.0, -140.0)],
                                        "query_id long, q_lat double, q_lon double")
        k = 40
        got = knn_join(queries, places, k, c_id="place_id").toPandas()
        assert len(got) == k
        d = K.geodesic_inverse(np.full(len(places_pd), -40.0),
                               np.full(len(places_pd), -140.0),
                               places_pd.lat.values, places_pd.lon.values)
        assert np.allclose(np.sort(got.dist.values), np.sort(d)[:k], atol=1e-6)


MARS_LIKE = (3396190.0, 0.00589)

# every registered ellipsoid plus custom ones far from Earth's (a, f)
BOUND_ELLIPSOIDS = [*ELLIPSOIDS,
                    pytest.param(MARS_LIKE, id="Mars-like"),
                    pytest.param((6378137.0, 0.05), id="f=0.05"),
                    pytest.param((6371009.0, 0.0), id="f=0")]


class TestCustomEllipsoid:
    def test_mars_like_vs_brute(self, spark):
        # every operator on a non-Earth-sized ellipsoid equals brute force
        # on the same (a, f): no Earth radius may hide in a prefilter,
        # cover or kNN bound
        a, f = MARS_LIKE
        rng = np.random.default_rng(3)
        n = 600
        lat, lon = rng.uniform(-3, 3, n), rng.uniform(-3, 3, n)
        cand = spark.createDataFrame(
            [(i, float(la), float(lo)) for i, (la, lo) in enumerate(zip(lat, lon))],
            "cid long, lat double, lon double")
        qs = [(0, 0.0, 0.0), (1, 2.0, -1.5), (2, -2.9, 2.9), (3, 40.0, 120.0)]
        queries = spark.createDataFrame(qs, "query_id long, q_lat double, q_lon double")
        radius = 100_000.0

        def brute(q_lat, q_lon):
            return K.geodesic_inverse(np.full(n, q_lat), np.full(n, q_lon), lat, lon, a, f)

        d0 = brute(0.0, 0.0)
        got = point_in_radius(cand, (0.0, 0.0), radius, ellipsoid=MARS_LIKE).toPandas()
        assert set(got.cid) == set(np.flatnonzero(d0 <= radius))
        assert np.allclose(got.sort_values("cid").dist.values,
                           d0[np.sort(got.cid.values)], atol=1e-6)

        rj = radius_join(queries, cand, radius, ellipsoid=MARS_LIKE) \
            .select("query_id", "cid").toPandas()
        exp = {(qi, c) for qi, qla, qlo in qs for c in np.flatnonzero(brute(qla, qlo) <= radius)}
        assert set(zip(rj.query_id, rj.cid)) == exp

        k = 7
        kj = knn_join(queries, cand, k, ellipsoid=MARS_LIKE, c_id="cid").toPandas()
        for qi, qla, qlo in qs:
            d = brute(qla, qlo)
            order = np.lexsort((np.arange(n), d))[:k]
            row = kj[kj.query_id == qi].sort_values(["dist", "cid"])
            assert list(row.cid) == list(order), qi
            assert np.allclose(row.dist.values, d[order], atol=1e-6)

    def test_gc_matrix_honours_ellipsoid(self, spark):
        # exact=False is Andoyer-Lambert on the ellipsoid it is given,
        # not on WGS-84
        a, f = MARS_LIKE
        pts = [(0, 0.0, 0.0), (1, 10.0, 20.0), (2, -45.0, 170.0), (3, 80.0, -60.0)]
        df = spark.createDataFrame(pts, "id long, lat double, lon double")
        got = geodist_matrix(df, exact=False, ellipsoid=MARS_LIKE, mirror=False) \
            .toPandas().sort_values(["id_1", "id_2"])
        la, lo = np.array([p[1] for p in pts]), np.array([p[2] for p in pts])
        i, j = got.id_1.values, got.id_2.values
        exp = K.great_circle(la[i], lo[i], la[j], lo[j], a, f)
        assert np.allclose(got.dist.values, exp, rtol=0.0, atol=1e-6)
        wgs = K.great_circle(la[i], lo[i], la[j], lo[j])
        assert (np.abs(got.dist.values - wgs) > 1.0).all()


class TestKnnBounds:
    """The haversine/distance bounds every radius and kNN prefilter and
    cover rests on (numpy only)."""

    @staticmethod
    def _pairs(rng, n, a, f):
        # 0.1 m .. past the antipode, random azimuths; poles and the
        # antimeridian as explicit origins; then n // 4 near-antipodal
        # pairs, down to 1e-9 degrees off the antipode
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
        lon = rng.uniform(-180, 180, n)
        lat[: n // 10] = rng.choice([-90.0, 90.0], n // 10)
        lon[n // 10: n // 5] = rng.choice([-180.0, 180.0], n // 10)
        d = 10 ** rng.uniform(-1, np.log10(3.0 * a), n)
        la2, lo2, _ = K.vincenty_direct(lat, lon, rng.uniform(0, 360, n), d, a, f)
        m = n // 4
        off = rng.choice([1.0, 1e-3, 1e-6, 1e-9], (2, m)) * rng.normal(0, 1, (2, m))
        la3 = np.clip(-lat[-m:] + off[0], -90.0, 90.0)
        lo3 = (lon[-m:] + 360.0 + off[1]) % 360.0 - 180.0
        return (np.concatenate([lat, lat[-m:]]), np.concatenate([lon, lon[-m:]]),
                np.concatenate([la2, la3]), np.concatenate([lo2, lo3]))

    @pytest.mark.parametrize("ellipsoid", BOUND_ELLIPSOIDS)
    def test_haversine_bounds_hold(self, ellipsoid):
        # inner * d - HAV_ROUND_M <= hav_a <= outer * d + HAV_ROUND_M for
        # the geodesic and (exact=False) the Andoyer-Lambert distance d
        a, f = resolve_ellipsoid(ellipsoid)
        la1, lo1, la2, lo2 = self._pairs(np.random.default_rng(11), 200_000, a, f)
        hav = K.haversine(la1, lo1, la2, lo2, a)
        for exact, d in ((True, K.geodesic_inverse(la1, lo1, la2, lo2, a, f)),
                         (False, K.great_circle(la1, lo1, la2, lo2, a, f))):
            inner, outer = hav_bounds(a, f, exact)
            assert inner <= 1.0 <= outer
            low = hav - (inner * d - HAV_ROUND_M)
            high = outer * d + HAV_ROUND_M - hav
            assert low.min() >= 0.0, (exact, np.argmin(low), low.min())
            assert high.min() >= 0.0, (exact, np.argmin(high), high.min())

    @pytest.mark.parametrize("ellipsoid", ["WGS-84", "Clarke (1880)",
                                           pytest.param(MARS_LIKE, id="Mars-like"),
                                           pytest.param((6378137.0, 0.05), id="f=0.05")])
    def test_fallback_radius_bounds_kth_geodesic(self, ellipsoid):
        from geodistpy_spark import grid as G
        from geodistpy_spark.operators import knn as KN

        a, f = resolve_ellipsoid(ellipsoid)
        rng = np.random.default_rng(5)
        n_h = G.nx(KN.HIST_RES)
        m = 1500
        cl = rng.uniform(-70, 70, (5, 2))
        which = rng.integers(0, 5, m)
        sets = {
            "clustered": (np.clip(cl[which, 0] + rng.normal(0, 1, m), -90, 90),
                          cl[which, 1] + rng.normal(0, 1, m)),
            "uniform": (np.degrees(np.arcsin(rng.uniform(-1, 1, m))),
                        rng.uniform(-180, 180, m)),
            "polar": (rng.uniform(80, 90, m) * rng.choice([-1, 1], m),
                      rng.uniform(-180, 180, m)),
            "antimeridian": (rng.uniform(-60, 60, m),
                             rng.uniform(175, 185, m)),
        }
        q_la = np.concatenate([rng.uniform(-90, 90, 60), [90.0, -90.0, 0.0, 45.0]])
        q_lo = np.concatenate([rng.uniform(-180, 180, 60), [0.0, 0.0, 180.0, -180.0]])
        for name, (la, lo) in sets.items():
            lo = (lo + 180.0) % 360.0 - 180.0
            counts = np.bincount(G.cell_id_np(la, lo, KN.HIST_RES),
                                 minlength=n_h * n_h).reshape(n_h, n_h)
            # the queries nearest the candidates are the tight cases
            qa = np.concatenate([q_la, np.minimum(la[:40] + 0.01, 90.0)])
            qo = np.concatenate([q_lo, lo[:40]])
            for k in (1, 7, 40):
                # the k-th haversine is within the angle, so the k-th
                # geodesic is within a / (1 - f) * angle
                radius = a * KN._fallback_angle_np(counts, k)(qa, qo)
                for i in range(len(qa)):
                    args = (np.full(m, qa[i]), np.full(m, qo[i]), la, lo)
                    hav = np.partition(K.haversine(*args, a), k - 1)[k - 1]
                    kth = np.partition(K.geodesic_inverse(*args, a, f), k - 1)[k - 1]
                    assert hav <= radius[i], (name, k, qa[i], qo[i], hav, radius[i])
                    assert kth <= radius[i] / (1.0 - f), (name, k, qa[i], qo[i], kth, radius[i])


class TestPipLeftJoin:
    def test_left_join_duplicates_and_nulls(self, spark, polygons):
        # duplicate coordinate rows must stay 1:1 (not n x m) and rows
        # with NULL payload columns must survive the left join
        pts = spark.createDataFrame(
            [(1, 36.9, -12.0, "a"), (2, 36.9, -12.0, "a"),   # duplicates
             (3, 0.0, 0.0, None),                             # null payload
             (4, 0.0, 0.0, None)],
            "pid long, lat double, lon double, tag string")
        from geodistpy_spark.operators import point_in_polygon_join

        out = point_in_polygon_join(pts, polygons, how="left").toPandas()
        # every input row appears; duplicates don't multiply beyond the
        # number of polygons actually containing them
        per_pid = out.groupby("pid").size()
        assert set(per_pid.index) == {1, 2, 3, 4}
        assert per_pid[3] == 1 and per_pid[4] == 1  # no hit -> exactly 1 row
        assert out[out.pid == 3].poly_id.isna().all()
        assert (per_pid[1] == per_pid[2])  # identical dup rows behave alike

    def test_left_join_key_cols_skip_checkpoint(self, spark, polygons):
        # point_id_cols=['pid'] -> hits join back on the NATURAL KEY
        # itself (round-4 advice: a 64-bit hashed surrogate collides at
        # the 10^12-row scale this path exists for), and NO
        # localCheckpoint materialization happens (round-3 advice: at
        # 10^12 rows the checkpoint of the left side dominates)
        from geodistpy_spark.operators import point_in_polygon_join

        pts = spark.range(3).select(
            (F.col("id") + 1).alias("pid"),
            F.when(F.col("id") < 2, 36.9).otherwise(0.0).alias("lat"),
            F.when(F.col("id") < 2, -12.0).otherwise(0.0).alias("lon"))
        keyed = point_in_polygon_join(pts, polygons, how="left",
                                      point_id_cols=["pid"])
        plan = keyed._jdf.queryExecution().optimizedPlan().toString()
        # the lazy Range source must SURVIVE in the plan: the checkpoint
        # fallback would swallow it into a materialized LogicalRDD
        assert "Range (0, 3" in plan, plan
        # no hashed surrogate anywhere: the join key is pid itself
        assert "xxhash64" not in plan.lower(), plan
        fallback = point_in_polygon_join(pts, polygons, how="left")
        fplan = fallback._jdf.queryExecution().optimizedPlan().toString()
        assert "Range (0, 3" not in fplan  # materialized by localCheckpoint
        got = keyed.toPandas()
        ref = point_in_polygon_join(pts, polygons, how="left").toPandas()
        key = lambda df: sorted(
            map(tuple, df[["pid", "poly_id"]].fillna(-1).values))
        assert key(got) == key(ref)

    def test_left_join_key_cols_null_key_component(self, spark, polygons):
        # a composite key with a NULL component must still round-trip
        # (null-safe equality on the hit join): the null-key row keeps
        # its polygon hit instead of being dropped to a null poly_id
        import pandas as pd

        from geodistpy_spark.operators import point_in_polygon_join

        pts = spark.createDataFrame(
            [(1, "a", 36.9, -12.0), (2, None, 36.9, -12.0),
             (3, "c", 0.0, 0.0)],
            "k1 long, k2 string, lat double, lon double")
        out = point_in_polygon_join(
            pts, polygons, how="left",
            point_id_cols=["k1", "k2"]).toPandas()
        assert len(out) == 3
        by_k1 = out.set_index("k1")
        assert by_k1.loc[1, "poly_id"] == by_k1.loc[2, "poly_id"]
        assert not pd.isna(by_k1.loc[2, "poly_id"])
        assert pd.isna(by_k1.loc[3, "poly_id"])


class TestAsofJoin:
    def test_matches_pandas_merge_asof(self, spark):
        import pandas as pd
        rng = np.random.default_rng(3)
        lts = np.sort(rng.integers(0, 10_000, 300))
        rts = np.sort(rng.integers(0, 10_000, 80))
        lpd = pd.DataFrame({"eid": np.arange(300), "user_id": rng.integers(0, 5, 300),
                            "ts": pd.to_datetime(lts, unit="s")})
        rpd = pd.DataFrame({"user_id": rng.integers(0, 5, 80),
                            "ts": pd.to_datetime(rts, unit="s"),
                            "state": rng.normal(0, 1, 80).round(6)})
        from geodistpy_spark.operators import asof_join

        got = asof_join(spark.createDataFrame(lpd), spark.createDataFrame(rpd),
                        on="user_id").toPandas().sort_values("eid").reset_index(drop=True)
        exp = pd.merge_asof(lpd.sort_values("ts"), rpd.sort_values("ts"),
                            on="ts", by="user_id", direction="backward") \
            .sort_values("eid").reset_index(drop=True)
        assert np.allclose(got.state_asof.values, exp.state.values, equal_nan=True)

    def test_duplicate_right_ts_deterministic(self, spark):
        # two right rows at the same (key, ts) tie on the window sort
        # key; the content-hash tie-break must make the carried row
        # independent of input order and partitioning (checkpoint
        # resume requires byte-identical reruns)
        import itertools

        from geodistpy_spark.operators import asof_join

        left = spark.createDataFrame(
            [(1, 100, "e1"), (2, 50, "e2")],
            "user_id long, ts long, ev string")
        rows = [(1, 100, 10.0), (1, 100, 11.0), (1, 90, 9.0), (2, 60, 5.0)]
        results = set()
        for perm in itertools.permutations(rows):
            right = spark.createDataFrame(
                list(perm), "user_id long, ts long, px double") \
                .repartition(len(perm) % 3 + 1)
            got = tuple(sorted(
                (x.user_id, x.ev, x.px_asof)
                for x in asof_join(left, right).collect()))
            results.add(got)
        assert len(results) == 1
        (only,) = results
        # the exact-ts tie attaches (backward-inclusive), one of the
        # two tied payloads, chosen stably; no prior row -> null
        assert only[0][2] in (10.0, 11.0) and only[1][2] is None

    def test_tolerance_nulls_stale_matches(self, spark):
        import datetime as dt
        t0 = dt.datetime(2026, 1, 1)
        left = spark.createDataFrame(
            [(1, 7, t0 + dt.timedelta(seconds=100)),
             (2, 7, t0 + dt.timedelta(seconds=5000))],
            "eid long, user_id long, ts timestamp")
        right = spark.createDataFrame(
            [(7, t0, 42.0)], "user_id long, ts timestamp, state double")
        from geodistpy_spark.operators import asof_join

        out = asof_join(left, right, on="user_id", tolerance_s=600) \
            .toPandas().set_index("eid")
        assert out.loc[1, "state_asof"] == 42.0          # 100 s old: kept
        assert np.isnan(out.loc[2, "state_asof"])        # 5000 s old: nulled

    def test_tolerance_subsecond_microseconds(self, spark):
        # unix_timestamp truncates to seconds; the staleness cutoff must
        # hold at microsecond precision (match pandas merge_asof exactly)
        import pandas as pd

        t0 = pd.Timestamp("2026-01-01 00:00:00")
        lpd = pd.DataFrame({
            "eid": [1, 2, 3],
            "user_id": [7, 7, 7],
            "ts": [t0 + pd.Timedelta(milliseconds=ms) for ms in (400, 900, 1600)],
        })
        rpd = pd.DataFrame({"user_id": [7], "ts": [t0], "state": [42.0]})
        from geodistpy_spark.operators import asof_join

        got = asof_join(spark.createDataFrame(lpd), spark.createDataFrame(rpd),
                        on="user_id", tolerance_s=0.5) \
            .toPandas().sort_values("eid").reset_index(drop=True)
        exp = pd.merge_asof(lpd, rpd, on="ts", by="user_id",
                            tolerance=pd.Timedelta(seconds=0.5)) \
            .sort_values("eid").reset_index(drop=True)
        # 400 ms old: kept; 900 ms and 1600 ms: nulled (both would be
        # KEPT under whole-second truncation at tolerance 0.5/1.0)
        assert np.allclose(got.state_asof.values, exp.state.values, equal_nan=True)
        assert got.state_asof.iloc[0] == 42.0 and np.isnan(got.state_asof.iloc[1])


class TestDimwiseHaversine:
    def test_matches_reference_formula(self, spark):
        # reference geodesic.py:856-919 numpy semantics, mirrored here
        import numpy as np
        from geodistpy_spark.operators import geodist_dimwise_haversine

        X = np.array([[52.52, 13.405, 100.0], [48.8566, 2.3522, 200.0],
                      [40.7128, -74.006, 300.0], [-33.8688, 151.2093, 50.0]])
        R = 6371009.0
        dlat = np.abs(np.radians(X[:, None, 0] - X[None, :, 0]))
        dlng = np.abs(np.radians(X[:, None, 1] - X[None, :, 1]))
        sq0 = (R * 2 * np.arcsin(np.abs(np.sin(dlat / 2)))) ** 2
        sq1 = (R * 2 * np.arcsin(np.sqrt(
            (1 - np.sin(dlat / 2) ** 2
             - np.sin(np.radians(X[:, None, 0] + X[None, :, 0]) / 2) ** 2)
            * np.sin(dlng / 2) ** 2))) ** 2
        sq2 = (X[:, None, 2] - X[None, :, 2]) ** 2

        df = spark.createDataFrame(
            [(i, *map(float, X[i])) for i in range(len(X))],
            "id long, lat double, lon double, value double")
        got = geodist_dimwise_haversine(df, "id", "lat", "lon", ["value"]).toPandas()
        for r in got.itertuples():
            i, j = int(r.id_1), int(r.id_2)
            assert abs(r.sq_lat - sq0[i, j]) < 1e-4 * max(sq0[i, j], 1)
            assert abs(r.sq_lon - sq1[i, j]) < 1e-4 * max(sq1[i, j], 1)
            assert abs(r.sq_value - sq2[i, j]) < 1e-9


def _pip_brute(places, polygons) -> set:
    """(place_id, poly_id) hits by a plain ray-cast over every point and
    every prepped ring collected in the test (no cover, no join)."""
    from geodistpy_spark.operators.polygons import (
        _map_lon_into_ring,
        _prep_ring,
        _unwrap,
    )

    places_pd = places.toPandas()
    exp = set()
    for r in polygons.select("poly_id", "ring").collect():
        if r["ring"] is None or len(r["ring"]) < 3:
            continue
        _, vlat, vlon_u, ref, _, _ = _prep_ring(
            [v["lat"] for v in r["ring"]], [v["lon"] for v in r["ring"]])
        plat = places_pd.lat.values
        plon = _map_lon_into_ring(_unwrap(places_pd.lon.values, ref), vlon_u.min())
        acc = np.zeros(len(plat), dtype=bool)
        x2 = np.roll(vlon_u, -1)
        y2 = np.roll(vlat, -1)
        for e in range(len(vlat)):
            xi, yi, xj, yj = vlon_u[e], vlat[e], x2[e], y2[e]
            if yi == yj:
                continue
            cond = (yi > plat) != (yj > plat)
            xint = (xj - xi) * (plat - yi) / (yj - yi) + xi
            acc ^= cond & (plon < xint)
        exp |= {(int(i), int(r["poly_id"])) for i in places_pd.place_id.values[acc]}
    return exp


class TestPolygons:
    def test_pip_vs_brute(self, places, polygons):
        got = point_in_polygon_join(places, polygons).select("place_id", "poly_id").toPandas()
        assert set(zip(got.place_id.astype(int), got.poly_id.astype(int))) \
            == _pip_brute(places, polygons)

    def test_square_membership(self, spark):
        # two overlapping squares whose ids float64 cannot tell apart:
        # each point matches exactly the squares containing it, so the
        # refine never groups candidate rows by an id cast to float
        a, b = 2**53, 2**53 + 1
        sq = spark.createDataFrame(
            [(a, "sq", [{"lat": 0.0, "lon": 0.0}, {"lat": 0.0, "lon": 10.0},
                        {"lat": 10.0, "lon": 10.0}, {"lat": 10.0, "lon": 0.0}]),
             (b, "sq4", [{"lat": 4.0, "lon": 4.0}, {"lat": 4.0, "lon": 14.0},
                         {"lat": 14.0, "lon": 14.0}, {"lat": 14.0, "lon": 4.0}])],
            schema="poly_id long, name string, ring array<struct<lat:double,lon:double>>")
        pts = spark.createDataFrame(
            [(1, 5.0, 5.0), (2, 15.0, 5.0), (3, 5.0, -1.0), (4, 9.99, 9.99),
             (5, 0.01, 3.99), (6, 13.99, 10.01), (7, 3.99, 9.99), (8, 10.01, 4.01)],
            schema="pid long, lat double, lon double")
        got = point_in_polygon_join(pts, sq).select("pid", "poly_id").collect()
        assert sorted((r.pid, r.poly_id) for r in got) == [
            (1, a), (1, b), (4, a), (4, b), (5, a), (6, b), (7, a), (8, b)]

    def test_antimeridian_polygon(self, spark):
        ring = [{"lat": -5.0, "lon": 175.0}, {"lat": -5.0, "lon": -175.0},
                {"lat": 5.0, "lon": -175.0}, {"lat": 5.0, "lon": 175.0}]
        poly = spark.createDataFrame([(1, "am", ring)],
                                     schema="poly_id long, name string, ring array<struct<lat:double,lon:double>>")
        pts = spark.createDataFrame(
            [(1, 0.0, 179.0), (2, 0.0, -179.0), (3, 0.0, 170.0), (4, 0.0, 0.0)],
            schema="pid long, lat double, lon double")
        got = point_in_polygon_join(pts, poly).select("pid").toPandas()
        assert sorted(got.pid) == [1, 2]

    def test_polar_cap_polygon(self, spark, polygons):
        pts = spark.createDataFrame([(1, 89.5, 33.0), (2, 89.9, -120.0), (3, 80.0, 0.0)],
                                    schema="pid long, lat double, lon double")
        cap = polygons.filter(F.col("name") == "polar_cap_n")
        got = point_in_polygon_join(pts, cap).select("pid").toPandas()
        assert sorted(got.pid) == [1, 2]

    @pytest.mark.xfail(strict=True, reason="_prep_ring closes a polar cap with a diagonal "
                       "from the last vertex to the pole, cutting off the ring's closing "
                       "sector; the perfbench and SQL oracles share that closure")
    def test_polar_cap_closing_sector(self, spark):
        ring = [{"lat": 60.0, "lon": lo} for lo in (0.0, 90.0, 180.0, -90.0)]
        cap = spark.createDataFrame([(1, "cap60", ring)],
                                    schema="poly_id long, name string, "
                                           "ring array<struct<lat:double,lon:double>>")
        pts = spark.createDataFrame([(1, 61.0, -45.0), (2, 75.0, -45.0)],
                                    schema="pid long, lat double, lon double")
        got = point_in_polygon_join(pts, cap).select("pid").toPandas()
        assert sorted(got.pid) == [1, 2]

    def test_zonal_stats(self, raster, polygons):
        zs = zonal_stats(raster, polygons).toPandas()
        assert (zs.n_tiles > 0).all()
        assert np.allclose(zs.sum_value.values / zs.n_tiles.values, zs.avg_value.values)

    def test_polygon_area_closed_forms(self, spark):
        # the trapezoidal sin(lat)-lon shoelace is EXACT for graticule-
        # aligned rings: validate against the spherical closed forms
        import math
        from geodistpy_spark.operators import polygon_area

        R = 6_371_009.0

        def ring(coords):
            return [{"lat": la, "lon": lo} for la, lo in coords]

        polys = spark.createDataFrame([
            # graticule rectangle 10-20N, 30-50E
            (1, ring([(10.0, 30.0), (10.0, 50.0), (20.0, 50.0), (20.0, 30.0)])),
            # north polar cap bounded at 80N (ring wound through all lons)
            (2, ring([(80.0, 0.0), (80.0, 90.0), (80.0, 180.0), (80.0, -90.0)])),
            # antimeridian-crossing rectangle 0-5N, 170E..170W
            (3, ring([(0.0, 170.0), (0.0, -170.0), (5.0, -170.0), (5.0, 170.0)])),
        ], schema="poly_id long, ring array<struct<lat:double,lon:double>>")
        got = polygon_area(polys).toPandas().set_index("poly_id").area_km2
        rect = R * R * math.radians(20.0) * (math.sin(math.radians(20.0))
                                             - math.sin(math.radians(10.0))) / 1e6
        cap = 2.0 * math.pi * R * R * (1.0 - math.sin(math.radians(80.0))) / 1e6
        am = R * R * math.radians(20.0) * (math.sin(math.radians(5.0)) - 0.0) / 1e6
        assert abs(got[1] - rect) / rect < 1e-9
        assert abs(got[2] - cap) / cap < 1e-9
        assert abs(got[3] - am) / am < 1e-9

    def test_cover_classification_invariants(self, polygons):
        # cells the cover classifier marks 'full' must contain ONLY
        # inside points, and cells it drops as 'outside' must contain
        # NO inside points — checked by dense sampling against the same
        # ray-cast the refine UDF runs (the classifier's promise is
        # exactly "the whole cell shares the center's status")
        import math

        from geodistpy_spark.operators.polygons import (
            _map_lon_into_ring, _prep_ring, _raycast, _unwrap)

        g = np.linspace(0.02, 0.98, 7)
        gy, gx = np.meshgrid(g, g, indexing="ij")
        n_full = n_dropped = 0
        for r in polygons.select("poly_id", "ring").collect():
            pid = int(r["poly_id"])
            res, vlat, vlon_u, ref, cells, full = _prep_ring(
                [v["lat"] for v in r["ring"]], [v["lon"] for v in r["ring"]])
            by_cell = dict(zip(cells.tolist(), full.tolist()))
            n = 1 << res
            la0 = math.floor((vlat.min() + 90.0) / 180.0 * n) - 1
            la1 = math.floor((vlat.max() + 90.0) / 180.0 * n) + 1
            # x sweep: the cover's columns + 3 guard cells each side
            # (cells further out are > 1 cell from any edge; full-plane
            # candidate conservativeness is test_pip_vs_brute's job)
            cov_x = sorted({c % n for c in by_cell})
            xs_sweep = sorted({(x + d) % n for x in cov_x
                               for d in range(-3, 4)})
            for y in range(max(la0, 0), min(la1, n - 1) + 1):
                for x in xs_sweep:
                    plat = -90.0 + (y + gy.ravel()) * 180.0 / n
                    plon_abs = -180.0 + (x + gx.ravel()) * 360.0 / n
                    inside = _raycast(
                        vlat, vlon_u, 0, len(vlat), plat,
                        _map_lon_into_ring(_unwrap(plon_abs, ref),
                                           float(vlon_u.min())))
                    cell = y * n + x
                    flag = by_cell.get(cell)
                    if flag is True:
                        n_full += 1
                        assert inside.all(), (pid, cell, "full cell leak")
                    elif flag is None:
                        n_dropped += 1
                        assert not inside.any(), (pid, cell, "dropped hit")
        assert n_full > 0  # classifier actually proves interiors
        assert n_dropped > 0  # and actually prunes outside cells

    def test_geodesic_buffer_ring_and_composition(self, spark):
        # every buffer vertex sits at the requested great-circle radius,
        # and the ring composes with the ray-cast join: polygon hits are
        # within r, and points well inside the inscribed n-gon are hits
        from geodistpy_spark.operators import (
            geodesic_buffer, point_in_polygon_join)

        r = 100_000.0
        ctr = spark.createDataFrame([(1, 40.0, -74.0), (2, 10.0, 179.99)],
                                    "poly_id long, lat double, lon double")
        buf = geodesic_buffer(ctr, r, n_vertices=32)
        verts = buf.select(
            "poly_id", F.explode("ring").alias("v"),
            F.col("lat").alias("clat"), F.col("lon").alias("clon")).toPandas()
        d = K.great_circle(verts.clat.values, verts.clon.values,
                           verts.v.map(lambda s: s['lat']).values,
                           verts.v.map(lambda s: s['lon']).values)
        # sphere-destination radius vs AL great-circle: within the
        # flattening envelope (~0.6%)
        assert (np.abs(d - r) < 0.01 * r).all()
        # composition at the NY center: inside-ring points are within r,
        # comfortably-inside points are found, incl. across the
        # antimeridian for center 2
        rng = np.random.default_rng(3)
        pts = [(int(i), 40.0 + float(u), -74.0 + float(v))
               for i, (u, v) in enumerate(zip(rng.uniform(-1.5, 1.5, 400),
                                              rng.uniform(-2, 2, 400)))]
        pts += [(1000, 10.0, -179.5)]  # other side of the antimeridian
        pts_df = spark.createDataFrame(pts, "pid long, lat double, lon double")
        hits = point_in_polygon_join(
            pts_df, buf.select("poly_id", "ring")).toPandas()
        pd_pts = {p[0]: (p[1], p[2]) for p in pts}
        for h in hits.itertuples():
            cla, clo = (40.0, -74.0) if h.poly_id == 1 else (10.0, 179.99)
            dd = K.great_circle(np.array([cla]), np.array([clo]),
                                np.array([pd_pts[h.pid][0]]),
                                np.array([pd_pts[h.pid][1]]))[0]
            assert dd <= 1.02 * r, (h.pid, h.poly_id, dd)
        assert 1000 in set(hits.pid)  # antimeridian-crossing ring works
        hit_ids = set(hits[hits.poly_id == 1].pid)
        import math
        inner = r * math.cos(math.pi / 32) * 0.97
        for pid, (la, lo) in pd_pts.items():
            if pid == 1000:
                continue
            dd = K.great_circle(np.array([40.0]), np.array([-74.0]),
                                np.array([la]), np.array([lo]))[0]
            if dd <= inner:
                assert pid in hit_ids, (pid, dd)
        with pytest.raises(ValueError, match="n_vertices"):
            geodesic_buffer(ctr, r, n_vertices=2)
        with pytest.raises(ValueError, match="radius"):
            geodesic_buffer(ctr, -1.0)
        # exact mode: vertices at the ELLIPSOIDAL radius to sub-mm
        ex = geodesic_buffer(ctr.filter(F.col("poly_id") == 1), r,
                             n_vertices=16, exact=True).toPandas()
        ev = ex.ring.iloc[0]
        ela = np.array([s["lat"] for s in ev])
        elo = np.array([s["lon"] for s in ev])
        ed = K.geodesic_inverse(np.full(16, 40.0), np.full(16, -74.0), ela, elo)
        assert np.abs(ed - r).max() < 1e-3

    def test_degenerate_polygon_inputs(self, spark):
        # empty tables, null rings, and <3-vertex rings must not crash
        # the join: no interior -> no hits, left join keeps every point
        # with null poly_id, and null/degenerate rings are skipped while
        # valid rings in the same table still match
        pts = spark.createDataFrame([(1, 5.0, 5.0), (2, 0.0, 0.0)],
                                    "pid long, lat double, lon double")
        sch = "poly_id long, ring array<struct<lat:double,lon:double>>"
        square = [{"lat": 0.0, "lon": 0.0}, {"lat": 0.0, "lon": 10.0},
                  {"lat": 10.0, "lon": 10.0}, {"lat": 10.0, "lon": 0.0}]
        cases = {
            "empty": ([], set()),
            "two_vertex": ([(1, square[:2])], set()),
            "one_vertex": ([(1, square[:1])], set()),
            "null_plus_valid": ([(1, None), (2, square)], {(1, 2), (2, 2)}),
            "dup_vertices": ([(1, [square[0]] + square)], {(1, 1), (2, 1)}),
        }
        for name, (rows, want) in cases.items():
            polys = (spark.createDataFrame(rows, sch) if rows
                     else spark.createDataFrame([], sch))
            got = point_in_polygon_join(pts, polys) \
                .select("pid", "poly_id").collect()
            assert {(r.pid, r.poly_id) for r in got} == want, name
            left = point_in_polygon_join(pts, polys, how="left").count()
            assert left == 2, name

    def test_build_runs_only_the_resolution_job(self, spark, places, polygons):
        # building the join collects no ring driver-side: its one eager
        # job is the list of active cover resolutions, and the result
        # still equals the brute-force ray-cast
        sc = spark.sparkContext
        sc.setJobGroup("pip-build", "point_in_polygon_join build")
        try:
            hit = point_in_polygon_join(places, polygons)
            jobs = sc.statusTracker().getJobIdsForGroup("pip-build")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(jobs) == 1
        got = hit.select("place_id", "poly_id").toPandas()
        assert set(zip(got.place_id.astype(int), got.poly_id.astype(int))) \
            == _pip_brute(places, polygons)

    @pytest.mark.parametrize("case, want", [("inner", 4), ("zonal", 4), ("left", 8)])
    def test_executed_job_counts(self, spark, places, polygons, raster, case, want):
        # build + execution on the fixtures: an added job (a second
        # polygon scan, a driver collect) fails here rather than only in
        # a traced benchmark run
        run = {
            "inner": lambda: point_in_polygon_join(places, polygons)
            .groupBy("poly_id").count().collect(),
            "zonal": lambda: zonal_stats(raster, polygons).collect(),
            "left": lambda: point_in_polygon_join(places, polygons, how="left").count(),
        }[case]
        places.count()  # the fixture is cached: its first read adds a job
        sc = spark.sparkContext
        sc.setJobGroup(f"pip-{case}", case)
        try:
            run()
            jobs = sc.statusTracker().getJobIdsForGroup(f"pip-{case}")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(jobs) == want

    def test_plan_broadcasts_small_zone_sets(self, places, polygons):
        # the north rule's "broadcast of small polygon sets" is the
        # planner's choice on the one plan: the fixture zones' cover
        # pairs are broadcast, and nothing shuffles or crosses the points
        hit = point_in_polygon_join(places, polygons)
        hit.collect()
        plan = hit._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        for op in ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
            assert op not in plan, op

    def test_relational_many_polygons_auto_dispatch(self, spark):
        # 10,000 polygons on the same plan as a handful: no driver-side
        # ring state to wall at; 'left' keeps outside points with null
        # poly_id
        import pandas as pd
        side = 100
        polys = []
        for i in range(side):
            for j in range(side):
                la, lo = i * 0.1, j * 0.1
                polys.append((i * side + j, [
                    {"lat": la, "lon": lo}, {"lat": la, "lon": lo + 0.08},
                    {"lat": la + 0.08, "lon": lo + 0.08}, {"lat": la + 0.08, "lon": lo},
                ]))
        pdf = spark.createDataFrame(
            polys, schema="poly_id long, ring array<struct<lat:double,lon:double>>")
        rng = np.random.default_rng(5)
        picks = rng.choice(side * side, 50, replace=False)
        pts = [(int(p), (p // side) * 0.1 + 0.04, (p % side) * 0.1 + 0.04)
               for p in picks] + [(-1, 50.0, 50.0)]  # outside every square
        pts_df = spark.createDataFrame(
            pd.DataFrame(pts, columns=["pid", "lat", "lon"]))
        got = point_in_polygon_join(pts_df, pdf, how="left").toPandas() \
            .set_index("pid").poly_id
        for p in picks:
            assert got[int(p)] == p
        assert np.isnan(got[-1])


class TestCandidateHistogram:
    def test_counts_match_numpy_bincount(self, spark, places):
        # exact per-cell counts (knn_join's fallback radius relies on
        # them): rows with null, NaN or out-of-range coordinates are not
        # counted, and lon = +-180 falls in the same cell as -180
        from geodistpy_spark import grid
        from geodistpy_spark.operators import candidate_histogram
        from geodistpy_spark.operators.knn import HIST_RES

        extra = spark.createDataFrame(
            [(None, 1.0), (2.0, None), (float("nan"), 3.0), (4.0, float("nan")),
             (91.0, 0.0), (-90.5, 0.0), (0.0, 180.5), (0.0, -181.0),
             (10.0, 180.0), (10.0, -180.0), (-10.0, 180.0), (90.0, 180.0),
             (-90.0, -180.0)], "lat double, lon double")
        rows = places.select("lat", "lon").unionByName(extra)
        pdf = rows.toPandas()
        la, lo = pdf.lat.to_numpy(float), pdf.lon.to_numpy(float)
        ok = (np.abs(la) <= 90.0) & (np.abs(lo) <= 180.0)  # False for NaN/null
        n = grid.nx(HIST_RES)
        want = np.bincount(grid.cell_id_np(la[ok], lo[ok], HIST_RES),
                           minlength=n * n).reshape(n, n)
        counts, total = candidate_histogram(rows)
        assert total == ok.sum() == places.count() + 5
        assert np.array_equal(counts, want)
