"""Checkpoint/resume tests: kill mid-run, resume, identical output rows."""

import json
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from geodistpy_spark.plans import CheckpointedRun, chunk_of


def _transform(chunk):
    """A representative engine transform: extraction + distance filter."""
    from geodistpy_spark.operators import point_in_radius
    from geodistpy_spark.sources.documents import extract_geo_spans

    geo = extract_geo_spans(chunk)
    return point_in_radius(geo, (48.8566, 2.3522), 3_000_000.0).select(
        "doc_id", "span_idx", F.round("dist", 3).alias("dist_m"))


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def _marker(run: CheckpointedRun, i: int) -> dict:
    with open(os.path.join(run.out_dir, f"_committed_{i}.json")) as f:
        return json.load(f)


def _assert_resume_is_exact(spark, run, source, ref_dir):
    """The completed ``run`` equals an uninterrupted run over ``source``,
    and ``vacuum()`` leaves exactly the exec dirs that a commit marker
    or a snapshot references."""
    ref = CheckpointedRun(ref_dir, n_chunks=run.n_chunks)
    ref.run(source, _transform)
    pd.testing.assert_frame_equal(_canon(run.result(spark).toPandas()),
                                  _canon(ref.result(spark).toPandas()))
    run.vacuum()
    keep = {_marker(run, i)["data_dir"] for i in run.committed_chunks()}
    keep |= {c["data_dir"] for s in run.snapshots() for c in s["chunks"].values()}
    on_disk = {
        f"chunk={i}/{d}" for i in range(run.n_chunks)
        if os.path.isdir(os.path.join(run.out_dir, f"chunk={i}"))
        for d in os.listdir(os.path.join(run.out_dir, f"chunk={i}"))
        if d.startswith("exec-")}
    assert on_disk == {os.path.normpath(k) for k in keep}


def _fails_on_call(n: int, transform):
    """A run transform that calls ``transform(chunk, crash)`` with
    ``crash`` true on its ``n``-th call only."""
    calls = []

    def wrapped(chunk):
        calls.append(1)
        return transform(chunk, len(calls) == n)
    return wrapped


def _jobs_in_group(spark, group: str, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the async bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


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
        # one {file, rows} entry per written parquet file: the marker's
        # files, each with its footer's row count, summing to rows_out,
        # which is what Spark itself counts in the chunk's data dir
        run = CheckpointedRun(str(tmp_path / "lin"), n_chunks=3)
        run.run(docs, _transform)
        events = run.lineage()
        commits = [e for e in events if e["event"] == "chunk_committed"]
        assert len(commits) == 3
        for c in commits:
            assert c["input"]["n_rows"] > 0
            marker = _marker(run, c["chunk"])
            assert c["partitions"] == marker["partitions"]
            assert [p["file"] for p in c["partitions"]] == marker["files"]
            data_dir = os.path.join(run.out_dir, marker["data_dir"])
            for p in c["partitions"]:
                footer = pq.ParquetFile(os.path.join(data_dir, p["file"]))
                assert p["rows"] == footer.metadata.num_rows
            assert sum(p["rows"] for p in c["partitions"]) == c["rows_out"]
            assert c["rows_out"] == spark.read.parquet(data_dir).count()

    def test_rerun_is_noop(self, spark, docs, tmp_path):
        run = CheckpointedRun(str(tmp_path / "noop"), n_chunks=3)
        assert len(run.run(docs, _transform)) == 3
        again = CheckpointedRun(str(tmp_path / "noop"), n_chunks=3)
        assert again.run(docs, _transform) == []

    def test_run_takes_the_writes_plus_one_fingerprint_pass(self, spark, docs,
                                                           tmp_path):
        # each chunk's write is its only job, and one fingerprint pass
        # per run() covers every chunk: a first run costs the bare
        # writes of the same transform plus at most 2 jobs, and a re-run
        # over unchanged input costs the fingerprint pass alone
        src = docs.withColumn("__c", chunk_of("doc_id", 3))
        bare = 0
        for i in range(3):
            chunk = src.filter(F.col("__c") == i).drop("__c")
            _, n = _jobs_in_group(
                spark, f"ckpt-bare-write-{i}",
                lambda: _transform(chunk).write.parquet(str(tmp_path / f"bare{i}")))
            bare += n
        run = CheckpointedRun(str(tmp_path / "jobs"), n_chunks=3)
        executed, n_run = _jobs_in_group(
            spark, "ckpt-first-run", lambda: run.run(docs, _transform))
        assert executed == [0, 1, 2]
        assert n_run <= bare + 2, (n_run, bare)

        again = CheckpointedRun(str(tmp_path / "jobs"), n_chunks=3)
        executed, n_again = _jobs_in_group(
            spark, "ckpt-rerun", lambda: again.run(docs, _transform))
        assert executed == []
        assert 1 <= n_again <= 2, n_again

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
        counts = (
            docs.withColumn("c", chunk_of("doc_id", 6))
            .groupBy("c").count().toPandas()
        )
        assert set(counts.c) == set(range(6))
        assert counts["count"].sum() == docs.count()


class TestCrashMatrix:
    """A crash at any point of a chunk's execution, then a resume: the
    result equals an uninterrupted run over the final run's input."""

    def test_crash_before_the_write(self, spark, docs, tmp_path):
        def transform(chunk, crash):
            if crash:
                raise RuntimeError("injected transform failure")
            return _transform(chunk)

        run = CheckpointedRun(str(tmp_path / "pre"), n_chunks=3)
        with pytest.raises(RuntimeError, match="injected transform failure"):
            run.run(docs, _fails_on_call(2, transform))
        assert run.committed_chunks() == {0}
        assert run.run(docs, _transform) == [1, 2]
        _assert_resume_is_exact(spark, run, docs, str(tmp_path / "ref"))

    def test_crash_inside_a_write_task(self, spark, docs, tmp_path):
        def boom(_key):
            raise RuntimeError("injected write-task failure")

        def transform(chunk, crash):
            out = _transform(chunk)
            return out.filter(F.udf(boom, "boolean")("doc_id")) if crash else out

        run = CheckpointedRun(str(tmp_path / "task"), n_chunks=3)
        with pytest.raises(Exception, match="injected write-task failure"):
            run.run(docs, _fails_on_call(2, transform))
        assert run.committed_chunks() == {0}
        # the failed job leaves its exec dir behind, uncommitted
        assert os.path.isdir(tmp_path / "task" / "chunk=1" / "exec-0")
        assert run.run(docs, _transform) == [1, 2]
        assert _marker(run, 1)["data_dir"] == "chunk=1/exec-1"
        _assert_resume_is_exact(spark, run, docs, str(tmp_path / "ref"))

    def test_crash_after_the_write_before_the_marker(self, spark, docs,
                                                      tmp_path, monkeypatch):
        from geodistpy_spark.plans import pipeline

        real_replace = os.replace

        def crash_on_marker(src, dst, *args, **kwargs):
            if os.path.basename(dst).startswith("_committed_"):
                raise OSError("crash before the commit marker")
            return real_replace(src, dst, *args, **kwargs)

        run = CheckpointedRun(str(tmp_path / "post"), n_chunks=3)
        monkeypatch.setattr(pipeline.os, "replace", crash_on_marker)
        with pytest.raises(OSError, match="commit marker"):
            run.run(docs, _transform)
        monkeypatch.undo()
        assert run.committed_chunks() == set()
        assert os.listdir(tmp_path / "post" / "chunk=0") == ["exec-0"]
        assert run.run(docs, _transform) == [0, 1, 2]
        _assert_resume_is_exact(spark, run, docs, str(tmp_path / "ref"))

    def test_resume_over_changed_input_recomputes_the_chunk(self, spark, docs,
                                                            tmp_path):
        # one chunk-0 document removed and a copy of another added under
        # a new chunk-0 key: the row count is unchanged, only the keys
        # differ, and the committed chunk 0 no longer matches its input
        n = 3
        hits = [r.doc_id for r in (
            _transform(docs).select("doc_id").distinct()
            .filter(chunk_of("doc_id", n) == 0)
            .orderBy("doc_id").limit(2).collect())]
        new_id = (spark.range(100)
                  .select(F.concat(F.lit(hits[1] + "-copy"),
                                   F.col("id").cast("string")).alias("doc_id"))
                  .filter(chunk_of("doc_id", n) == 0).first().doc_id)
        changed = (docs.filter(F.col("doc_id") != hits[0])
                   .unionByName(docs.filter(F.col("doc_id") == hits[1])
                                .withColumn("doc_id", F.lit(new_id))))

        run = CheckpointedRun(str(tmp_path / "chg"), n_chunks=n)
        with pytest.raises(RuntimeError, match="injected failure"):
            run.run(docs, _transform, fail_after_chunk=0)
        assert run.committed_chunks() == {0}
        assert run.run(changed, _transform) == [0, 1, 2]
        assert _marker(run, 0)["data_dir"] == "chunk=0/exec-1"
        _assert_resume_is_exact(spark, run, changed, str(tmp_path / "ref"))


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
