"""IO layout tests: cell-partitioned writes enable partition pruning."""

import numpy as np

from geodistpy_spark import grid as G
from geodistpy_spark import kernels as K
from geodistpy_spark.sources.io import (
    cells_to_partitions,
    read_documents,
    write_cell_partitioned,
    write_documents,
)


class TestCellPartitionedLayout:
    def test_roundtrip_and_pruning(self, spark, places, tmp_path):
        path = str(tmp_path / "pts")
        write_cell_partitioned(places, path, res=12, partition_res=3)
        back = spark.read.parquet(path)
        assert back.count() == places.count()
        assert "cell_p3" in back.columns and "cell_r12" in back.columns

        # a radius cover prunes to few partitions; plan must show pruning
        res, cover = G.cell_cover(48.85, 2.35, 300_000.0, res=12)
        parts = cells_to_partitions(cover, 12, 3)
        pruned = back.filter(back.cell_p3.isin(parts))
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert len(parts) < 8
        # all covered rows survive the partition filter
        import pandas as pd

        pl = places.toPandas()
        cids = G.cell_id_np(pl.lat.values, pl.lon.values, 12)
        in_cover = pl[np.isin(cids, np.array(cover))]
        got = pruned.filter(pruned.cell_r12.isin([int(c) for c in cover])).toPandas()
        assert set(got.place_id) == set(in_cover.place_id)

    def test_radius_prefilter_pushed_to_scan(self, spark, places, tmp_path):
        # the cover IN-predicate must reach the parquet scan as a pushed
        # filter (PushedFilters: [In(cell_r12, ...)]), not a post-scan
        # Filter over all rows — this is the 100 TB contract
        from geodistpy_spark.operators import point_in_radius

        path = str(tmp_path / "pts_push")
        write_cell_partitioned(places, path, res=12, partition_res=3)
        back = spark.read.parquet(path)
        hits = point_in_radius(back, (48.85, 2.35), 100_000.0,
                               cell_col="cell_r12", res=12)
        plan = hits._jdf.queryExecution().executedPlan().toString()
        # the IN must appear in the scan's PushedFilters (the gc
        # prefilter also pushes IsNotNull(lat/lon) ahead of it, which is
        # fine — position in the list is not the contract)
        assert "PushedFilters: [" in plan, plan
        pushed = plan.split("PushedFilters: [", 1)[1]
        assert "In(cell_r12" in pushed, plan[:2000]

    def test_fine_cell_matches_expression(self, spark, places, tmp_path):
        path = str(tmp_path / "pts2")
        write_cell_partitioned(places, path, res=10, partition_res=2)
        back = spark.read.parquet(path).toPandas()
        exp = G.cell_id_np(back.lat.values, back.lon.values, 10)
        assert (back.cell_r10.values == exp).all()


class TestAdaptiveLayout:
    def test_balanced_partitions_and_pruned_read(self, spark, places, tmp_path):
        from geodistpy_spark.sources.io import (
            adaptive_partitions_for_cover,
            write_adaptive_partitioned,
        )

        path = str(tmp_path / "adaptive")
        write_adaptive_partitioned(places, path, max_per_cell=40,
                                   min_res=2, max_res=10)
        back = spark.read.parquet(path)
        assert back.count() == places.count()
        # balance guarantee: no non-clamped partition exceeds the cap
        sizes = back.filter("a_res < 10").groupBy("a_res", "a_cell").count().toPandas()
        assert (sizes["count"] <= 40).all()

        # pruned read must still contain every in-radius point
        res, cover = G.cell_cover(48.85, 2.35, 500_000.0)
        parts = adaptive_partitions_for_cover(spark, path, cover, res)
        assert 0 < len(parts) < len(
            back.select("a_res", "a_cell").distinct().collect())
        cond = " OR ".join(f"(a_res = {r} AND a_cell = {c})" for r, c in parts)
        pruned = back.filter(cond).toPandas()
        pl = places.toPandas()
        d = K.geodesic_inverse(np.full(len(pl), 48.85), np.full(len(pl), 2.35),
                               pl.lat.values, pl.lon.values)
        in_radius = set(pl.place_id[d <= 500_000.0])
        assert in_radius <= set(pruned.place_id)

        # the end-to-end helper: pruned read -> exact refine == brute force
        from geodistpy_spark.operators import point_in_radius
        from geodistpy_spark.sources.io import read_adaptive_for_radius

        pts = read_adaptive_for_radius(spark, path, (48.85, 2.35), 500_000.0)
        hits = point_in_radius(pts, (48.85, 2.35), 500_000.0).toPandas()
        assert set(hits.place_id) == in_radius
        # partition filter reaches the scan (PartitionFilters, not a
        # post-scan row filter)
        plan = pts._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "a_res" in plan.split("PartitionFilters")[1][:200]


class TestBucketedLayout:
    def test_colocated_join_no_shuffle(self, spark, places, tmp_path):
        from geodistpy_spark.sources.io import write_bucketed_cells

        write_bucketed_cells(places, "bkt_a", str(tmp_path / "bkt_a"),
                             res=8, n_buckets=8)
        write_bucketed_cells(places.limit(40), "bkt_b", str(tmp_path / "bkt_b"),
                             res=8, n_buckets=8)
        try:
            a = spark.table("bkt_a")
            b = (spark.table("bkt_b")
                 .withColumnRenamed("place_id", "b_id").select("cell_r8", "b_id"))
            # disable broadcast so the join strategy is the bucketed SMJ
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            j = a.join(b, on="cell_r8")
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" not in plan, plan
            assert j.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
            spark.sql("DROP TABLE IF EXISTS bkt_a")
            spark.sql("DROP TABLE IF EXISTS bkt_b")


class TestDocumentsIO:
    def test_schema_enforced_roundtrip(self, spark, docs, tmp_path):
        path = str(tmp_path / "docs_out")
        write_documents(docs, path)
        back = read_documents(spark, path)
        assert back.count() == docs.count()
        from geodistpy_spark.sources.documents import verify_span_sequence

        assert verify_span_sequence(docs, back) == 0

    def test_bad_schema_rejected(self, spark, places, tmp_path):
        import pytest

        with pytest.raises(ValueError, match="doc_id, spans"):
            write_documents(places, str(tmp_path / "bad"))


class TestLayoutHistogram:
    def test_metadata_histogram_matches_scan(self, spark, tmp_path):
        # layout histogram == scan-based histogram cell by cell, and
        # knn_join(hist=metadata) returns the same neighbors as the
        # scan-seeded join
        import numpy as np

        from geodistpy_spark.operators import (
            candidate_histogram, candidate_histogram_from_layout, knn_join)
        from geodistpy_spark.sources.io import write_cell_partitioned

        rng = np.random.default_rng(29)
        pts = [(int(i), float(la), float(lo)) for i, (la, lo) in enumerate(
            zip(rng.uniform(30, 60, 4000), rng.uniform(-10, 40, 4000)))]
        df = spark.createDataFrame(pts, "cid long, lat double, lon double")
        path = str(tmp_path / "layout")
        write_cell_partitioned(df, path)
        counts, total = candidate_histogram_from_layout(path)
        s_counts, s_total = candidate_histogram(df)
        assert total == s_total == 4000
        # res-4 partitions are coarser than the 64 x 64 grid: their
        # fine-cell column still gives every cell its exact count
        assert (counts == s_counts).all()
        q = spark.createDataFrame(
            [(0, 45.0, 15.0), (1, 55.0, -5.0)],
            "query_id long, q_lat double, q_lon double")
        got_meta = knn_join(q, df, 5, c_id="cid", hist=(counts, total)) \
            .select("query_id", "cid").toPandas()
        got_scan = knn_join(q, df, 5, c_id="cid", hist=(s_counts, s_total)) \
            .select("query_id", "cid").toPandas()
        assert set(map(tuple, got_meta.values)) == set(map(tuple, got_scan.values))
