"""Checkpoint/resume tests: kill mid-run, resume, identical output rows."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geodistpy_spark.plans import CheckpointedRun


def _transform(chunk):
    """A representative engine transform: extraction + distance filter."""
    from geodistpy_spark.operators import point_in_radius
    from geodistpy_spark.sources.documents import extract_geo_spans

    geo = extract_geo_spans(chunk)
    return point_in_radius(geo, (48.8566, 2.3522), 3_000_000.0).select(
        "doc_id", "span_idx", F.round("dist", 3).alias("dist_m"))


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


class TestCheckpointResume:
    def test_kill_resume_identical_rows(self, spark, docs, tmp_path):
        # uninterrupted reference run
        ref = CheckpointedRun(str(tmp_path / "ref"), n_chunks=6)
        ref.run(docs, _transform)
        expected = _canon(ref.result(spark).toPandas())

        # killed run: crash injected after chunk 2
        killed = CheckpointedRun(str(tmp_path / "killed"), n_chunks=6)
        with pytest.raises(RuntimeError, match="injected failure"):
            killed.run(docs, _transform, fail_after_chunk=2)
        assert killed.committed_chunks() == {0, 1, 2}

        # resume: only the remaining chunks execute
        resumed = CheckpointedRun(str(tmp_path / "killed"), n_chunks=6)
        executed = resumed.run(docs, _transform)
        assert executed == [3, 4, 5]

        got = _canon(resumed.result(spark).toPandas())
        pd.testing.assert_frame_equal(got, expected)

    def test_torn_marker_write_is_not_a_commit(self, spark, docs, tmp_path,
                                               monkeypatch):
        # a crash while the commit marker is written (half a document,
        # then an error) must leave the chunk uncommitted: the resumed
        # run recomputes it and the result equals an uninterrupted run
        import json

        from geodistpy_spark.plans import pipeline

        ref = CheckpointedRun(str(tmp_path / "ref"), n_chunks=3)
        ref.run(docs, _transform)
        expected = _canon(ref.result(spark).toPandas())

        real_dump = json.dump

        def _torn_dump(obj, f, *args, **kwargs):
            if "_committed_" not in getattr(f, "name", ""):
                return real_dump(obj, f, *args, **kwargs)
            doc = json.dumps(obj)
            f.write(doc[:len(doc) // 2])
            raise OSError("crash while writing the commit marker")

        monkeypatch.setattr(pipeline.json, "dump", _torn_dump)
        torn = CheckpointedRun(str(tmp_path / "torn"), n_chunks=3)
        with pytest.raises(OSError, match="commit marker"):
            torn.run(docs, _transform)
        monkeypatch.undo()
        assert torn.committed_chunks() == set()

        resumed = CheckpointedRun(str(tmp_path / "torn"), n_chunks=3)
        assert resumed.run(docs, _transform) == [0, 1, 2]
        pd.testing.assert_frame_equal(
            _canon(resumed.result(spark).toPandas()), expected)

    def test_lineage_log_has_partition_metrics(self, spark, docs, tmp_path):
        run = CheckpointedRun(str(tmp_path / "lin"), n_chunks=3)
        run.run(docs, _transform)
        events = run.lineage()
        commits = [e for e in events if e["event"] == "chunk_committed"]
        assert len(commits) == 3
        for c in commits:
            assert c["input"]["n_rows"] > 0
            assert isinstance(c["partitions"], list)
            assert sum(p["rows"] for p in c["partitions"]) == c["rows_out"]

    def test_rerun_is_noop(self, spark, docs, tmp_path):
        run = CheckpointedRun(str(tmp_path / "noop"), n_chunks=3)
        assert len(run.run(docs, _transform)) == 3
        again = CheckpointedRun(str(tmp_path / "noop"), n_chunks=3)
        assert again.run(docs, _transform) == []

    def test_snapshot_time_travel_byte_identical(self, spark, docs, tmp_path):
        # Iceberg analog: snapshot v1, recompute with a DIFFERENT
        # transform (pointer move), snapshot v2 — reading snapshot 1
        # afterwards must return v1's rows byte-identically while
        # result() returns v2's
        run = CheckpointedRun(str(tmp_path / "tt"), n_chunks=3)
        run.run(docs, _transform)
        s1 = run.snapshot(note="v1")
        v1 = _canon(run.result(spark).toPandas())

        def _transform_v2(chunk):
            return _transform(chunk).filter(F.col("span_idx") == 0)

        run.invalidate()
        assert run.run(docs, _transform_v2) == [0, 1, 2]
        s2 = run.snapshot(note="v2")
        assert (s1, s2) == (1, 2)

        v2 = _canon(run.result(spark).toPandas())
        assert len(v2) < len(v1)
        back1 = _canon(run.read_snapshot(spark, snapshot_id=1).toPandas())
        pd.testing.assert_frame_equal(back1, v1)
        back2 = _canon(run.read_snapshot(spark).toPandas())  # latest
        pd.testing.assert_frame_equal(back2, v2)
        # as_of selection: v1's timestamp resolves to snapshot 1
        snaps = run.snapshots()
        as_of = _canon(run.read_snapshot(spark, as_of=snaps[0]["ts"]).toPandas())
        pd.testing.assert_frame_equal(as_of, v1)
        # manifests carry lineage: totals match the read rows
        assert snaps[0]["total_rows"] == len(v1)
        assert snaps[1]["total_rows"] == len(v2)

    def test_vacuum_keeps_snapshot_and_current_data(self, spark, docs, tmp_path):
        import os

        run = CheckpointedRun(str(tmp_path / "vac"), n_chunks=2)
        run.run(docs, _transform)
        run.snapshot()
        v1 = _canon(run.result(spark).toPandas())
        # orphan exec: recompute WITHOUT snapshotting, then again with
        run.invalidate()
        run.run(docs, _transform)          # exec-1 (becomes orphan)
        run.invalidate()
        run.run(docs, _transform)          # exec-2 (current)
        removed = run.vacuum()
        assert removed and all("exec-1" in r for r in removed)
        # snapshot 1 still readable byte-identically; current result too
        pd.testing.assert_frame_equal(
            _canon(run.read_snapshot(spark, snapshot_id=1).toPandas()), v1)
        pd.testing.assert_frame_equal(_canon(run.result(spark).toPandas()), v1)
        # vacuum is stable: second call removes nothing
        assert run.vacuum() == []
        # exec-0 (snapshotted) and exec-2 (current) survive on disk
        for i in range(2):
            execs = sorted(os.listdir(tmp_path / "vac" / f"chunk={i}"))
            assert execs == ["exec-0", "exec-2"]

    def test_chunking_is_deterministic_partition(self, spark, docs):
        from geodistpy_spark.plans import chunk_of

        counts = (
            docs.withColumn("c", chunk_of("doc_id", 6))
            .groupBy("c").count().toPandas()
        )
        assert set(counts.c) == set(range(6))
        assert counts["count"].sum() == docs.count()


class TestCurationJob:
    def test_curation_pipeline_runs_and_resumes(self, spark, tmp_path):
        # job-level smoke of jobs/curation_pipeline.py via main(): the
        # curated survivor count equals the dedup_near(keep='best')
        # survivor count on the same corpus, and a re-run executes 0
        # chunks with the identical committed rows
        import io
        import sys as _sys
        from contextlib import redirect_stdout

        _sys.path.insert(0, "jobs")
        import curation_pipeline

        from geodistpy_spark.textops import dedup_near

        docs_path = "/root/testdata/sf0.001/documents.parquet"
        out = str(tmp_path / "curated")
        argv = ["--docs", docs_path, "--out", out, "--chunks", "2",
                "--threshold", "0.5"]
        buf = io.StringIO()
        with redirect_stdout(buf):
            assert curation_pipeline.main(argv, stop_session=False) == 0
        first = buf.getvalue().strip().splitlines()[-1]
        assert "2 chunks executed" in first, first

        expected = dedup_near(spark.read.parquet(docs_path),
                              threshold=0.5, keep="best",
                              score_col="n_chars").count()
        # read back through the run's own result reader
        from geodistpy_spark.plans import CheckpointedRun

        res = CheckpointedRun(out, key_col="doc_id", n_chunks=2).result(spark)
        assert res.count() == expected
        assert res.filter(res.quality.isNull()).count() == 0

        buf2 = io.StringIO()
        with redirect_stdout(buf2):
            assert curation_pipeline.main(argv, stop_session=False) == 0
        second = buf2.getvalue().strip().splitlines()[-1]
        assert "0 chunks executed" in second, second

    def test_media_curation_pipeline_runs_and_resumes(self, spark,
                                                      fixture_paths,
                                                      tmp_path):
        # job-level smoke of jobs/media_curation_pipeline.py: one row
        # per media span with all three modalities decoded, keep gates
        # consistent with the thresholds, and a re-run executes 0
        # chunks with identical committed rows
        import io
        import sys as _sys
        from contextlib import redirect_stdout

        _sys.path.insert(0, "jobs")
        import media_curation_pipeline

        from geodistpy_spark.sources.documents import extract_media_spans

        out = str(tmp_path / "media_curated")
        argv = ["--docs", fixture_paths["documents"], "--out", out,
                "--chunks", "2", "--min-pixels", str(64 * 64)]
        buf = io.StringIO()
        with redirect_stdout(buf):
            assert media_curation_pipeline.main(
                argv, stop_session=False) == 0
        first = buf.getvalue().strip().splitlines()[-1]
        assert "2 chunks executed" in first, first

        from geodistpy_spark.plans import CheckpointedRun

        res = CheckpointedRun(out, key_col="span_key", n_chunks=2) \
            .result(spark).cache()
        n_spans = extract_media_spans(
            spark.read.parquet(fixture_paths["documents"])).count()
        assert res.count() == n_spans and n_spans > 0
        # gates are consistent with the decoded columns they derive from
        bad = res.filter(
            (res.keep_image != (res.img_w * res.img_h >= 64 * 64))
            | (res.keep != (res.keep_image & res.keep_audio
                            & res.keep_video))).count()
        assert bad == 0
        assert res.filter(res.v_fps.isNull()).count() == 0
        res.unpersist()

        buf2 = io.StringIO()
        with redirect_stdout(buf2):
            assert media_curation_pipeline.main(
                argv, stop_session=False) == 0
        second = buf2.getvalue().strip().splitlines()[-1]
        assert "0 chunks executed" in second, second
