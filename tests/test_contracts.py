"""Error-contract tests (reference §5: ValueError for ranges/shapes/
metrics/k — tests/test_geodist.py:62-64, :206-265, :974-995, :1181-1227)."""

import pytest
from pyspark.sql import functions as F

from geodistpy_spark.constants import resolve_ellipsoid, unit_factor
from geodistpy_spark.functions.expressions import validate_coords
from geodistpy_spark.operators import (
    geodesic_knn,
    geodist_to_many,
    interpolate,
    point_in_radius,
)


class TestValueErrors:
    def test_bad_metric(self, places):
        with pytest.raises(ValueError, match="unknown metric"):
            geodist_to_many(places, (0.0, 0.0), metric="furlong")

    def test_bad_ellipsoid(self, places):
        with pytest.raises(ValueError, match="unknown ellipsoid"):
            geodist_to_many(places, (0.0, 0.0), ellipsoid="nope")

    def test_origin_out_of_range(self, places):
        with pytest.raises(ValueError, match="origin out of range"):
            geodist_to_many(places, (91.0, 0.0))

    def test_center_out_of_range(self, places):
        with pytest.raises(ValueError, match="center out of range"):
            point_in_radius(places, (0.0, 200.0), 1000.0)

    def test_negative_radius(self, places):
        with pytest.raises(ValueError, match="radius"):
            point_in_radius(places, (0.0, 0.0), -5.0)

    def test_k_zero(self, places):
        with pytest.raises(ValueError, match="k must be >= 1"):
            geodesic_knn(places, (0.0, 0.0), 0)

    def test_interpolate_n_points(self, places):
        with pytest.raises(ValueError, match="n_points"):
            interpolate(places, "lat", "lon", "lat", "lon", n_points=0)

    def test_custom_ellipsoid_validation(self):
        with pytest.raises(ValueError):
            resolve_ellipsoid((0.0, 0.003))
        with pytest.raises(ValueError):
            resolve_ellipsoid((6378137.0, -0.1))
        assert unit_factor("nmi") == 1 / 1852.0


class TestValidateCoords:
    def test_error_mode_raises(self, spark):
        bad = spark.createDataFrame([(1, 91.0, 0.0)], "id long, lat double, lon double")
        with pytest.raises(ValueError, match="out of range"):
            validate_coords(bad, action="error")

    def test_error_mode_passes_valid(self, spark):
        ok = spark.createDataFrame([(1, 45.0, 90.0)], "id long, lat double, lon double")
        assert validate_coords(ok, action="error").count() == 1

    def test_filter_and_flag_modes(self, spark):
        df = spark.createDataFrame(
            [(1, 45.0, 90.0), (2, 95.0, 0.0), (3, 0.0, -181.0), (4, None, 5.0)],
            "id long, lat double, lon double")
        assert validate_coords(df, action="filter").count() == 1
        flags = validate_coords(df, action="flag").toPandas().set_index("id").coord_valid
        assert flags[1] and not flags[2] and not flags[3] and not flags[4]


class TestContractOracles:
    """The dedup, ANN, exact-kernel, tiling-layer, PiP and path
    queries of the driver contract against their DuckDB oracles and
    goldens, compared the way ``scripts/check_contract.py`` compares
    them (repr-exact after canonical column and row order)."""

    @pytest.mark.parametrize("key", [
        "jaccard_pairs", "near_dup_groups",
        "embedding_topk", "ivf_topk", "pq_topk", "ivfpq_topk",
        "vincenty_pairs", "bearing_vincenty", "destination_roundtrip",
        "interpolate", "midpoint", "matrix_gc", "dimwise", "buffer_rings",
        "radius_join_gc", "radius_join_salted", "knn_gc", "knn_exact",
        "cell_index_rollup", "cell_density_smooth", "adaptive_index",
        "doc_cell_histogram", "point_in_polygon", "zonal_stats", "simplify_path"])
    def test_query_matches_duckdb_oracle(self, spark, key):
        import duckdb

        import __spark_entry__ as E
        from scripts.check_contract import TABLES, compare

        sf_dir = "/root/testdata/sf0.001"
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        got = E.queries()[key](spark, sf_dir).toPandas()
        want = con.sql(E.oracle_sql()[key]).df()
        assert len(got) > 0
        assert compare(got, want) == ("MATCH", "")
