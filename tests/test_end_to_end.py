"""Capstone integration: the full engine chained end-to-end.

documents -> exact dedup -> geo-span extraction -> cell index ->
radius join -> kNN join -> zonal stats -> checkpointed write with a
mid-run kill -> resume -> invariants:

- span-sequence equality through explode/reassemble (north rule),
- join results equal brute force,
- resumed output row-identical to an uninterrupted run.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geodistpy_spark import kernels as K
from geodistpy_spark.operators import knn_join, radius_join, zonal_stats
from geodistpy_spark.plans.pipeline import CheckpointedRun
from geodistpy_spark.sources.documents import (
    explode_spans,
    extract_geo_spans,
    reassemble_spans,
    verify_span_sequence,
)
from geodistpy_spark.textops import dedup_exact


@pytest.fixture(scope="module")
def chain(spark, docs):
    """Shared intermediate results of the chained pipeline."""
    deduped = dedup_exact(docs.withColumn("text", F.to_json("spans")),
                          text_col="text").drop("text")
    geo = extract_geo_spans(deduped, res=12).cache()
    queries = spark.createDataFrame(
        [(i, float(-60 + i * 13), float(-150 + i * 37)) for i in range(8)],
        "query_id long, q_lat double, q_lon double")
    return {"deduped": deduped, "geo": geo, "queries": queries}


class TestEndToEnd:
    def test_span_sequence_preserved_through_chain(self, docs, chain):
        rt = reassemble_spans(explode_spans(chain["deduped"]))
        assert verify_span_sequence(chain["deduped"], rt) == 0

    def test_radius_join_vs_brute(self, chain):
        rj = radius_join(chain["queries"], chain["geo"], 2_000_000.0,
                         c_lat="lat", c_lon="lon").toPandas()
        gp = chain["geo"].toPandas()
        qp = chain["queries"].toPandas()
        for q in qp.itertuples():
            d = K.geodesic_inverse(np.full(len(gp), q.q_lat), np.full(len(gp), q.q_lon),
                                   gp.lat.values, gp.lon.values)
            exp = ((d <= 2_000_000.0).sum())
            got = (rj.query_id == q.query_id).sum()
            assert got == exp, (q.query_id, got, exp)

    def test_knn_join_vs_brute(self, chain):
        k = 4
        kj = knn_join(chain["queries"], chain["geo"], k,
                      c_lat="lat", c_lon="lon").toPandas()
        gp = chain["geo"].toPandas()
        for q in chain["queries"].toPandas().itertuples():
            d = np.sort(K.geodesic_inverse(
                np.full(len(gp), q.q_lat), np.full(len(gp), q.q_lon),
                gp.lat.values, gp.lon.values))[:k]
            got = np.sort(kj[kj.query_id == q.query_id].dist.values)
            assert np.allclose(got, d, atol=1e-6)

    def test_checkpointed_write_kill_resume_identical(self, spark, chain, tmp_path):
        def transform(df):
            return radius_join(
                spark.createDataFrame([(0, 48.85, 2.35)],
                                      "query_id long, q_lat double, q_lon double"),
                df, 2_500_000.0, c_lat="lat", c_lon="lon",
            ).select("query_id", "doc_id", "span_idx", F.round("dist", 6).alias("dist"))

        # uninterrupted reference run
        ref_dir = str(tmp_path / "ref")
        CheckpointedRun(ref_dir, key_col="doc_id", n_chunks=4).run(chain["geo"], transform)
        ref = CheckpointedRun(ref_dir, key_col="doc_id", n_chunks=4) \
            .result(spark).toPandas().sort_values(["doc_id", "span_idx"]).reset_index(drop=True)

        # killed-then-resumed run
        out_dir = str(tmp_path / "killed")
        with pytest.raises(RuntimeError, match="injected failure"):
            CheckpointedRun(out_dir, key_col="doc_id", n_chunks=4).run(
                chain["geo"], transform, fail_after_chunk=1)
        resumed = CheckpointedRun(out_dir, key_col="doc_id", n_chunks=4)
        executed = resumed.run(chain["geo"], transform)
        assert len(executed) == 2  # chunks 2, 3 only
        got = resumed.result(spark).toPandas() \
            .sort_values(["doc_id", "span_idx"]).reset_index(drop=True)
        assert got.equals(ref)

    def test_zonal_chain(self, chain, polygons):
        zs = zonal_stats(chain["geo"].withColumn("value", F.lit(1.0)),
                         polygons).toPandas()
        assert (zs.n_tiles > 0).all()
        assert np.allclose(zs.sum_value, zs.n_tiles)  # value == 1 per tile
