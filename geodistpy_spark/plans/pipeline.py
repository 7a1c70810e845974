"""Checkpointed, lineage-tracked chunked execution (kill/resume).

North rule: "every partition emits lineage + row-count metrics to a
checkpoint log so a killed job resumes from the last committed snapshot
with identical join output rows and tile assignments."

Design (batch analog of Structured Streaming's commit log; stands in for
Iceberg snapshot commits, which need jars not present here):

- the input is split into ``n_chunks`` DETERMINISTIC chunks by
  ``pmod(xxhash64(key), n_chunks)`` — stable across runs and cluster
  sizes,
- each chunk's result is written to ``out/chunk=<i>/`` and only then a
  commit marker ``_committed_<i>.json`` is written (to a temporary file
  renamed onto the marker, so a marker is whole or absent) with lineage:
  the input fingerprint, rows out, the written files with each file's
  row count from its parquet footer, the schema and the wall time. The
  write is the chunk's only Spark job,
- every :meth:`CheckpointedRun.run` fingerprints all chunks of its input
  in one ``groupBy`` job: per chunk, the row count and the sum of key
  hashes (order-independent). A committed chunk is skipped only when
  its marker's fingerprint equals this one; otherwise, and for every
  uncommitted chunk, the chunk is recomputed into a fresh exec dir and
  committed (write-new-then-commit) — the union of chunk outputs is
  row-identical to a single uninterrupted run over the same input
  because chunking and the transform are deterministic,
- the fingerprint sees added and removed keys only: a row edited in
  place under the same key leaves it unchanged, so such a chunk stays
  committed with its old output until :meth:`CheckpointedRun.invalidate`
  drops its marker.

Snapshot manifests (the Iceberg time-travel analog): every chunk
execution writes an IMMUTABLE ``chunk=<i>/exec-<k>/`` directory and the
commit marker is a mutable pointer to the current one — exactly
Iceberg's data-file/manifest split. :meth:`CheckpointedRun.snapshot`
records the pointed-to file list + schema + row counts as a numbered
manifest under ``snapshots/``; :meth:`CheckpointedRun.read_snapshot`
reads a PRIOR committed state byte-identically after later runs have
moved the pointers, and :meth:`CheckpointedRun.vacuum` deletes exec
dirs no snapshot or current marker references (expire-snapshots
analog).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_of(key_col: str, n_chunks: int):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_chunks)).cast("int")


def _fingerprints(src: DataFrame, key_col: str) -> dict[int, dict]:
    """Per ``__chunk`` of ``src``: row count + sum of key hashes, in one
    job. A chunk with no rows is absent."""
    # hashes reduced mod a prime before summing so the 64-bit sum cannot
    # overflow (ANSI mode) for any realistic row count (< 9e9 rows)
    rows = src.groupBy("__chunk").agg(
        F.count("*").alias("n"),
        F.sum(F.pmod(F.xxhash64(F.col(key_col)), F.lit(1_000_000_007))).alias("hsum"),
    ).collect()
    return {r["__chunk"]: {"n_rows": r["n"], "key_hash_sum": int(r["hsum"])} for r in rows}


class CheckpointedRun:
    """Run ``transform`` over deterministic chunks of ``source`` with a
    commit log at ``out_dir`` (kill-safe, idempotent resume)."""

    def __init__(self, out_dir: str, key_col: str = "doc_id", n_chunks: int = 8):
        self.out_dir = out_dir
        self.key_col = key_col
        self.n_chunks = n_chunks
        self.log_path = os.path.join(out_dir, "checkpoint_log.jsonl")
        os.makedirs(out_dir, exist_ok=True)

    def _marker(self, i: int) -> str:
        return os.path.join(self.out_dir, f"_committed_{i}.json")

    def _chunk_dir(self, i: int) -> str:
        return os.path.join(self.out_dir, f"chunk={i}")

    def _next_exec_dir(self, i: int) -> str:
        """A fresh immutable data dir for one chunk execution. Prior
        exec dirs are never touched — snapshots may reference them."""
        base = self._chunk_dir(i)
        os.makedirs(base, exist_ok=True)
        ks = [int(d.split("-", 1)[1]) for d in os.listdir(base)
              if d.startswith("exec-")]
        return os.path.join(base, f"exec-{max(ks, default=-1) + 1}")

    def _marker_entry(self, i: int) -> dict:
        with open(self._marker(i)) as f:
            return json.load(f)

    def _data_dir(self, i: int) -> str:
        """Current committed data location for chunk i."""
        return os.path.join(self.out_dir, self._marker_entry(i)["data_dir"])

    def committed_chunks(self) -> set[int]:
        return {
            i for i in range(self.n_chunks) if os.path.exists(self._marker(i))
        }

    def invalidate(self, chunks: list[int] | None = None) -> None:
        """Drop commit markers so the next :meth:`run` recomputes those
        chunks (all by default) into FRESH exec dirs. Prior exec dirs —
        and therefore prior snapshots — are untouched: this is how a
        new transform version commits a new state without destroying
        time travel."""
        for i in (range(self.n_chunks) if chunks is None else chunks):
            if os.path.exists(self._marker(i)):
                os.remove(self._marker(i))

    def _log(self, entry: dict) -> None:
        with open(self.log_path, "a") as f:
            f.write(json.dumps(entry) + "\n")

    def run(self, source: DataFrame,
            transform: Callable[[DataFrame], DataFrame],
            fail_after_chunk: int | None = None) -> list[int]:
        """Execute every chunk that is uncommitted or whose committed
        input fingerprint differs from ``source``'s; returns chunk ids
        executed.

        ``fail_after_chunk`` injects a crash for resume tests.
        """
        src = source.withColumn("__chunk", chunk_of(self.key_col, self.n_chunks))
        fps = _fingerprints(src, self.key_col)
        done = self.committed_chunks()
        executed = []
        for i in range(self.n_chunks):
            fp = fps.get(i, {"n_rows": 0, "key_hash_sum": 0})
            if i in done and self._marker_entry(i)["input"] == fp:
                continue
            t0 = time.time()
            result = transform(src.filter(F.col("__chunk") == i).drop("__chunk"))
            cdir = self._next_exec_dir(i)
            result.write.mode("overwrite").parquet(cdir)
            files = sorted(
                f for f in os.listdir(cdir)
                if f.endswith(".parquet") and not f.startswith(("_", ".")))
            # footer row counts: what Spark's own parquet count() reads
            rows = [pq.ParquetFile(os.path.join(cdir, f)).metadata.num_rows
                    for f in files]
            entry = {
                "chunk": i,
                "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
                "wall_sec": round(time.time() - t0, 3),
                "input": fp,
                "rows_out": sum(rows),
                "data_dir": os.path.relpath(cdir, self.out_dir),
                "files": files,
                "schema": result.schema.json(),
                "partitions": [{"file": f, "rows": n} for f, n in zip(files, rows)],
            }
            self._log(dict(entry, event="chunk_written"))
            # write-then-rename: a crash mid-write leaves no marker, so
            # the chunk stays uncommitted and a resumed run recomputes it
            tmp = self._marker(i) + ".tmp"
            with open(tmp, "w") as f:
                json.dump(entry, f)
            os.replace(tmp, self._marker(i))
            self._log(dict(entry, event="chunk_committed"))
            executed.append(i)
            if fail_after_chunk is not None and i >= fail_after_chunk:
                raise RuntimeError(f"injected failure after chunk {i}")
        return executed

    def result(self, spark) -> DataFrame:
        """Union of all committed chunk outputs."""
        done = sorted(self.committed_chunks())
        if len(done) != self.n_chunks:
            raise RuntimeError(
                f"run incomplete: {len(done)}/{self.n_chunks} chunks committed"
            )
        return spark.read.parquet(*[self._data_dir(i) for i in done])

    def lineage(self) -> list[dict]:
        if not os.path.exists(self.log_path):
            return []
        with open(self.log_path) as f:
            return [json.loads(line) for line in f]

    # ---- snapshot manifests / time travel (Iceberg analog) -------------

    @property
    def _snap_dir(self) -> str:
        return os.path.join(self.out_dir, "snapshots")

    def snapshots(self) -> list[dict]:
        """All snapshot manifests, oldest first."""
        if not os.path.isdir(self._snap_dir):
            return []
        names = sorted(
            (f for f in os.listdir(self._snap_dir)
             if f.startswith("snap-") and f.endswith(".json")),
            key=lambda f: int(f[5:-5]))
        out = []
        for f in names:
            with open(os.path.join(self._snap_dir, f)) as fh:
                out.append(json.load(fh))
        return out

    def snapshot(self, note: str | None = None) -> int:
        """Record the CURRENT committed state as an immutable numbered
        manifest: per-chunk data dir + exact parquet file list + row
        counts + schema. Requires a complete run (all chunks
        committed). Returns the snapshot id."""
        done = sorted(self.committed_chunks())
        if len(done) != self.n_chunks:
            raise RuntimeError(
                f"cannot snapshot an incomplete run: "
                f"{len(done)}/{self.n_chunks} chunks committed")
        os.makedirs(self._snap_dir, exist_ok=True)
        prev = self.snapshots()
        sid = (prev[-1]["snapshot_id"] + 1) if prev else 1
        chunks = {}
        schema = None
        for i in done:
            e = self._marker_entry(i)
            chunks[str(i)] = {"data_dir": e["data_dir"], "files": e["files"],
                              "rows_out": e["rows_out"]}
            schema = e["schema"]
        manifest = {
            "snapshot_id": sid,
            "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
            "note": note,
            "n_chunks": self.n_chunks,
            "total_rows": sum(c["rows_out"] for c in chunks.values()),
            "schema": schema,
            "chunks": chunks,
        }
        with open(os.path.join(self._snap_dir, f"snap-{sid}.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        self._log({"event": "snapshot", "snapshot_id": sid,
                   "ts": manifest["ts"], "total_rows": manifest["total_rows"],
                   "note": note})
        return sid

    def read_snapshot(self, spark, snapshot_id: int | None = None,
                      as_of: str | None = None) -> DataFrame:
        """Time-travel read: the EXACT files a past snapshot pinned,
        regardless of later runs/commits. ``snapshot_id`` selects by id;
        ``as_of`` (ISO timestamp string) selects the latest snapshot
        taken at or before that time; neither = latest snapshot."""
        snaps = self.snapshots()
        if not snaps:
            raise RuntimeError(f"no snapshots under {self._snap_dir}")
        if snapshot_id is not None:
            sel = [s for s in snaps if s["snapshot_id"] == snapshot_id]
            if not sel:
                raise RuntimeError(f"snapshot {snapshot_id} not found")
            snap = sel[0]
        elif as_of is not None:
            sel = [s for s in snaps if s["ts"] <= as_of]
            if not sel:
                raise RuntimeError(f"no snapshot at or before {as_of!r}")
            snap = sel[-1]
        else:
            snap = snaps[-1]
        paths = [
            os.path.join(self.out_dir, c["data_dir"], f)
            for _, c in sorted(snap["chunks"].items(), key=lambda kv: int(kv[0]))
            for f in c["files"]
        ]
        reader = spark.read
        if snap.get("schema"):
            from pyspark.sql.types import StructType
            reader = reader.schema(StructType.fromJson(json.loads(snap["schema"])))
        return reader.parquet(*paths)

    def vacuum(self) -> list[str]:
        """Delete exec dirs referenced by NO snapshot and NO current
        commit marker (Iceberg expire-snapshots analog for orphaned
        data from crashed or superseded executions). Returns the
        removed directories."""
        keep = {os.path.normpath(c["data_dir"])
                for s in self.snapshots() for c in s["chunks"].values()}
        for i in self.committed_chunks():
            keep.add(os.path.normpath(
                os.path.relpath(self._data_dir(i), self.out_dir)))
        removed = []
        for i in range(self.n_chunks):
            base = self._chunk_dir(i)
            if not os.path.isdir(base):
                continue
            for d in os.listdir(base):
                if not d.startswith("exec-"):
                    continue
                rel = os.path.normpath(os.path.join(f"chunk={i}", d))
                if rel not in keep:
                    shutil.rmtree(os.path.join(base, d))
                    removed.append(rel)
        if removed:
            self._log({"event": "vacuum", "removed": removed,
                       "ts": time.strftime("%Y-%m-%dT%H:%M:%S")})
        return removed
