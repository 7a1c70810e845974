"""The three workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned its rows.

A workload function takes a :class:`Ctx` and fills ``ctx.e2e`` (tracing
off) or ``ctx.layer`` (tracing on). Every operation it measures is
counted in ``ctx.attempted``; an operation that raises or whose output
the brute-force reference rejects is counted in ``ctx.failed``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
import traceback

import numpy as np

import inputs
import oracles
from harness import WORK, executed_plan, start_spark, stop_spark, timing_summary

# session set-ups per run: the first launches the JVM, so the median is
# the slower of the other two
SETUP_REPS = 3
# geodist passes settle after two (5.9 s, 1.8 s, then 1.2-1.6 s; 1M
# pairs, 4-core host)
WARMUP_PASSES = 2
# text_dedup passes keep getting faster for longer (10k texts, 4-core
# host: 2.3 s, 2.1 s, 2.0 s, 2.0 s, 1.8 s, ... 1.45 s by the fifteenth),
# mostly fixed per-job overhead warming up; a run's budget allows three
DEDUP_WARMUP_PASSES = 3
# docs_pipeline result rows are keyed query_id * KEY_MULT + doc number * 8
# + span index, and compared by count, key sum and key-square sum mod a prime
KEY_MULT = 100_000_000
KEY_PRIME = 1_000_000_007
# the checkpointed job: chunks, and the chunk after which a crash is injected
N_CHUNKS = 2
FAIL_AFTER_CHUNK = 0
RADIUS_M = 50_000.0
K_NEAREST = 10
# text_dedup: the Jaccard threshold, and the least share of the true and
# of the planted near-duplicate pairs a pass must find (MinHash LSH with
# 4 bands of 3 rows finds a pair at Jaccard J with probability
# 1 - (1 - J^3)^4: 0.41 at 0.5, 0.94 at 0.8)
DEDUP_THRESHOLD = 0.5
DEDUP_RECALL_FLOOR = 0.75
DEDUP_PLANTED_RECALL_FLOOR = 0.80
# geodesic_pairs: largest error allowed against the golden truth and
# against Karney's solution on the hard-case rows
GOLDEN_TOL_M = 2.5e-4
HARD_TOL_M = 1e-3
SUM_REL_TOL = 1e-12

# per-layer metrics, all printed by every traced run; a layer the
# workload never calls reads 0
_OPS = ("plans.pipeline.CheckpointedRun", "operators.radius.radius_join",
        "operators.knn.knn_join", "operators.polygons.zonal_stats",
        "textops.dedup.near_duplicates_minhash")
PER_LAYER = {
    "session.get_spark.s": "s",
    "sources.documents.extract_geo_spans.s": "s",
    "sources.documents.verify_roundtrip.s": "s",
    "sources.documents.verify_roundtrip.mismatches": "count",
    "plans.pipeline.CheckpointedRun.run_s": "s",
    "plans.pipeline.CheckpointedRun.self_s": "s",
    "plans.pipeline.CheckpointedRun.chunk_p50_s": "s",
    "plans.pipeline.CheckpointedRun.chunks_rerun": "count",
    "plans.pipeline.CheckpointedRun.bytes_written_per_input_byte": "ratio",
    "operators.radius.radius_join.build_s": "s",
    "operators.radius.radius_join.py4j_calls": "count",
    "operators.radius.radius_join.exec_s": "s",
    "operators.radius.radius_join.jobs": "count",
    "operators.radius.radius_join.cells_per_query": "count",
    "operators.radius.radius_join.cover_udf_s": "s",
    "operators.radius.radius_join.refine_udf_s": "s",
    "operators.radius.radius_join.refine_yield": "ratio",
    "operators.knn.candidate_histogram.s": "s",
    "operators.knn.knn_join.build_s": "s",
    "operators.knn.knn_join.exec_s": "s",
    "operators.knn.knn_join.jobs": "count",
    "operators.knn.knn_join.py4j_calls": "count",
    "operators.polygons.point_in_polygon_join.build_s": "s",
    "operators.polygons.point_in_polygon_join.exec_s": "s",
    "operators.polygons.point_in_polygon_join.jobs": "count",
    "operators.polygons.zonal_stats.s": "s",
    "operators.polygons.zonal_stats.jobs": "count",
    "kernels.vincenty_inverse.pairs_per_s": "pairs/s",
    "kernels.karney_inverse.pairs_per_s": "pairs/s",
    "kernels.rescue_frac": "ratio",
    "operators.distances.geodist.s": "s",
    "operators.distances.geodist.py4j_calls": "count",
    "operators.distances.haversine_dist.s": "s",
    "textops.dedup.minhash_signatures.s": "s",
    "textops.dedup.lsh_candidate_pairs.s": "s",
    "textops.dedup.candidates": "count",
    "textops.dedup.near_duplicates_minhash.s": "s",
    "textops.dedup.near_duplicates_minhash.jobs": "count",
    "textops.dedup.yield": "ratio",
    **{f"{op}.{m}": u for op in _OPS for m, u in (
        ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"), ("tasks_failed", "count"))},
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}


class Ctx:
    def __init__(self, workload: str, seed: int, seconds: float, tracer, size: str,
                 corrupt: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tracer, self.size, self.corrupt = tracer, size, corrupt
        self.spark = None
        self._launcher = None
        self._launched: dict = {}
        self.attempted = 0
        self.failed = 0
        self.setup_times: list[float] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {k: 0.0 for k in PER_LAYER}
        self.meta: dict = {}

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def launch(self):
        """Launch the JVM and the first session on a thread, so that the
        workload's inputs and references are built meanwhile."""
        def go():
            t0 = time.perf_counter()
            try:
                with self.tracer.span("session.get_spark"):
                    self._launched["spark"] = start_spark(f"perfbench-{self.workload}")
            except BaseException as e:  # re-raised by setup()
                self._launched["error"] = e
            self._launched["s"] = time.perf_counter() - t0

        self._launcher = threading.Thread(target=go, daemon=True)
        self._launcher.start()

    def _join_launch(self):
        if self._launcher is not None:
            self._launcher.join()
            self._launcher = None
            self.spark = self._launched.get("spark")

    def close(self):
        """Stop the session and the JVM, also when the run failed early."""
        self._join_launch()
        if self.spark is not None:
            self.tracer.detach()
            stop_spark(self.spark)
            self.spark = None

    def setup(self, load):
        """Start a session and load the workload's inputs, SETUP_REPS
        times (the first is the session :meth:`launch` started, with the
        JVM launch); setup_s is the median. Returns what the last
        ``load`` returned."""
        state = None
        for rep in range(SETUP_REPS):
            if rep == 0:
                self._join_launch()
                if "error" in self._launched:
                    raise self._launched["error"]
                t0 = time.perf_counter() - self._launched["s"]
            else:
                if self.spark is not None:
                    self.tracer.detach()
                    self.spark.stop()  # session only; the JVM stays up
                t0 = time.perf_counter()
                with self.tracer.span("session.get_spark"):
                    self.spark = start_spark(f"perfbench-{self.workload}")
            self.tracer.attach(self.spark)
            state = load(self.spark)
            self.setup_times.append(time.perf_counter() - t0)
        self.e2e["setup_s"] = statistics.median(self.setup_times)
        self.meta["setup_s_each"] = [round(t, 4) for t in self.setup_times]
        self.layer["session.get_spark.s"] = statistics.median(
            s.dur for s in self.tracer.named("session.get_spark")) if self.traced else 0.0
        return state

    def op(self, fn, check, label: str):
        """Run one measured operation and check its output. Returns
        (wall time, output), or (None, None) when it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self.failed += 1
            self.meta.setdefault("errors", []).append(f"{label}: {traceback.format_exc(limit=3)}")
            return None, None
        dt = time.perf_counter() - t0
        if self.corrupt and self.attempted == 1:
            out = corrupt(out)
        problem = check(out)
        if problem:
            self.failed += 1
            self.meta.setdefault("wrong", []).append(f"{label}: {problem}")
        return dt, out

    def deadline(self) -> float:
        return time.perf_counter() + self.seconds

    def finish_trace(self, measured_s: float):
        t = self.tracer
        for op in _OPS:
            for m in ("shuffle_write_bytes", "spill_bytes", "tasks_failed"):
                self.layer[f"{op}.{m}"] = t.total(op, m) + t.total(op + ".exec", m)
        self.layer["trace.overhead_s"] = t.overhead_s
        self.layer["trace.overhead_frac"] = t.overhead_s / measured_s if measured_s else 0.0


def corrupt(out):
    """Damage an operation's output the way a wrong answer would: nudge
    a number (the last field of the first row) by one part in a thousand."""
    if isinstance(out, list) and out:
        *head, last = out[0]
        return [(*head, last * 1.001 + 1)] + out[1:]
    if isinstance(out, dict):
        k = next(iter(out))
        return {**out, k: out[k] * 1.001 + 1}
    return out


def _median_span(tracer, name, attr=None):
    spans = tracer.named(name)
    if not spans:
        return 0.0
    vals = [s.dur if attr is None else tracer.inclusive(s, attr) for s in spans]
    return statistics.median(vals)


def _per_call(tracer, name, attr):
    """Median per call of build span + exec span counts."""
    b, e = tracer.named(name), tracer.named(name + ".exec")
    if not b:
        return 0.0
    return statistics.median(tracer.inclusive(x, attr) + tracer.inclusive(y, attr)
                             for x, y in zip(b, e))


def _size(ctx, default: dict, tiny: dict) -> dict:
    return tiny if ctx.size == "tiny" else default


# ---------------------------------------------------------------------------
# docs_pipeline
# ---------------------------------------------------------------------------

def _pipeline_reference(sz, seed, docs_dir, places_dir, poly_dir, raster_dir) -> dict:
    """What an uninterrupted, exact run of the job must produce, by brute
    force over every (place, point) pair; cached per seed."""
    import pyarrow.parquet as pq

    path = inputs.cache_path("docs_pipeline", f"reference-p{sz['n_places']}-r{sz['raster_res']}",
                             sz["n_docs"], seed)

    def build(d):
        pts = inputs.geo_points(docs_dir)
        pl = pq.read_table(os.path.join(places_dir, "part-0000.parquet")).to_pydict()
        qid = np.array(pl["query_id"], np.int64)
        qlat, qlon = np.array(pl["q_lat"]), np.array(pl["q_lon"])
        q, k, dist = oracles.radius_hits(qid, qlat, qlon, pts["key"], pts["lat"], pts["lon"],
                                         RADIUS_M)
        key = q * KEY_MULT + k
        knn = oracles.knn_distances(qlat, qlon, pts["lat"], pts["lon"], K_NEAREST)
        rings = inputs.rings(poly_dir)
        _, zone = oracles.pip_pairs(rings, pts["key"], pts["lat"], pts["lon"])
        r = pq.read_table(os.path.join(raster_dir, "part-0000.parquet")).to_pydict()
        zon = oracles.zonal(rings, np.array(r["lat"]), np.array(r["lon"]), np.array(r["value"]))
        inputs.save_json(os.path.join(d, "reference.json"), {
            "rows": int(len(q)), "key_sum": int(key.sum()),
            "key_sq_sum": int(sum((int(x) % KEY_PRIME) ** 2 % KEY_PRIME for x in key)),
            "mm_sum": int(np.round(dist * 1000.0).astype(np.int64).sum()),
            "knn_rows": int(knn.size), "knn_dist_sum": float(knn.sum()),
            "pip": {str(g): int(n) for g, n in zip(*np.unique(zone, return_counts=True))},
            "zonal": {str(g): v for g, v in zon.items()},
        })

    inputs.cached(path, build)
    return inputs.load_json(os.path.join(path, "reference.json"))


def radius_plan(df) -> dict:
    """Cover and refine figures of an executed radius_join: the cover
    UDF and the explode of its cells sit below the join, the exact
    refine UDF above it. UDF times are summed over tasks."""
    nodes = executed_plan(df)

    def below_join(i):
        while nodes[i]["parent"] is not None:
            i = nodes[i]["parent"]
            if "Join" in nodes[i]["name"]:
                return True
        return False

    udfs = [i for i, nd in enumerate(nodes) if nd["name"] == "ArrowEvalPython"]
    cover = [i for i in udfs if below_join(i)]
    refine = [i for i in udfs if not below_join(i)]
    if len(cover) != 1 or len(refine) != 1:
        raise RuntimeError(f"radius_join plan has {len(cover)} cover and {len(refine)} "
                           "refine UDF nodes, expected one each")
    cm, rm = nodes[cover[0]]["metrics"], nodes[refine[0]]["metrics"]
    explode = nodes[cover[0]]["parent"]
    if nodes[explode]["name"] != "Generate":
        raise RuntimeError(f"radius_join cover UDF feeds {nodes[explode]['name']}, not Generate")
    return {"queries": cm["pythonNumRowsReceived"],
            "cover_cells": nodes[explode]["metrics"]["numOutputRows"],
            "cover_udf_s": cm["pythonTotalTime"] / 1e3,
            "refine_udf_s": rm["pythonTotalTime"] / 1e3,
            "refine_rows": rm["pythonNumRowsReceived"]}


def _dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in files
                     if f.endswith(".parquet"))
    return total


def docs_pipeline(ctx: Ctx):
    """The shape of jobs/radius_pipeline.py plus its downstream steps, in
    a fresh session, so first-call costs are paid as every job pays them."""
    from pyspark.sql import functions as F

    from geodistpy_spark.operators import (candidate_histogram, knn_join,
                                           point_in_polygon_join, radius_join, zonal_stats)
    from geodistpy_spark.plans import CheckpointedRun
    from geodistpy_spark.sources.documents import extract_geo_spans, verify_roundtrip

    ctx.launch()
    sz = _size(ctx, dict(n_docs=10_000, n_places=1_000, raster_res=7),
               dict(n_docs=1_000, n_places=50, raster_res=5))
    n_docs = sz["n_docs"]
    docs_dir = inputs.documents("docs_pipeline", n_docs, ctx.seed, n_files=8)
    places_dir = inputs.places("docs_pipeline", sz["n_places"], ctx.seed + 1)
    poly_dir = inputs.polygons("docs_pipeline", 50, ctx.seed + 2)
    raster_dir = inputs.raster("docs_pipeline", sz["raster_res"], ctx.seed + 3)
    ref = _pipeline_reference(sz, ctx.seed, docs_dir, places_dir, poly_dir, raster_dir)
    tr = ctx.tracer

    def load(spark):
        docs = spark.read.parquet(docs_dir)
        places = spark.read.parquet(places_dir).cache()
        places.count()
        return docs, places, spark.read.parquet(poly_dir), spark.read.parquet(raster_dir)

    docs, places, polys, raster = ctx.setup(load)
    out_dir = os.path.join(WORK, "runs", f"docs_pipeline-{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)

    def transform(chunk):
        with tr.span("sources.documents.extract_geo_spans"):
            geo = extract_geo_spans(chunk, res=12)
        with tr.span("operators.radius.radius_join"):
            rj = radius_join(places, geo, RADIUS_M, c_lat="lat", c_lon="lon")
        return rj.select("query_id", "doc_id", "span_idx", F.round("dist", 3).alias("dist_m"))

    run = CheckpointedRun(out_dir, key_col="doc_id", n_chunks=N_CHUNKS)

    def pipeline():
        with tr.span("plans.pipeline.CheckpointedRun"):
            try:
                run.run(docs, transform, fail_after_chunk=FAIL_AFTER_CHUNK)
            except RuntimeError as e:  # the injected crash
                ctx.meta["injected"] = str(e)
            run.run(docs, transform)  # resume
            key = (F.col("query_id") * KEY_MULT
                   + F.substring("doc_id", 4, 10).cast("long") * 8 + F.col("span_idx"))
            key_mod = F.pmod(key, F.lit(KEY_PRIME))
            row = run.result(ctx.spark).agg(
                F.count("*").alias("rows"), F.sum(key).alias("key_sum"),
                F.sum(F.pmod(key_mod * key_mod, F.lit(KEY_PRIME))).alias("key_sq_sum"),
                F.sum(F.round(F.col("dist_m") * 1000).cast("long")).alias("mm_sum"),
            ).collect()[0].asDict()
        return row

    def check_pipeline(row):
        for k in ("rows", "key_sum", "key_sq_sum"):
            if row[k] != ref[k]:
                return f"resumed result {k}={row[k]}, uninterrupted reference {ref[k]}"
        if abs(row["mm_sum"] - ref["mm_sum"]) > max(1, ref["rows"] // 1000):
            return f"distance sum {row['mm_sum']} mm vs {ref['mm_sum']} mm"
        return None

    geo_all = None  # every geo point of the corpus, for the steps after the job

    def knn():
        nonlocal geo_all
        with tr.span("sources.documents.extract_geo_spans"):
            geo_all = extract_geo_spans(docs, res=12)
        with tr.span("operators.knn.candidate_histogram"):
            hist = candidate_histogram(geo_all)
        with tr.span("operators.knn.knn_join"):
            df = knn_join(places, geo_all, K_NEAREST, hist=hist)
        with tr.span("operators.knn.knn_join.exec"):
            r = df.agg(F.count("*").alias("rows"), F.sum("dist").alias("dist_sum")).collect()[0]
        return {"dist_sum": r["dist_sum"], "rows": r["rows"]}

    def check_knn(r):
        if r["rows"] != ref["knn_rows"]:
            return f"knn rows {r['rows']} vs {ref['knn_rows']}"
        if abs(r["dist_sum"] - ref["knn_dist_sum"]) > 1e-9 * ref["knn_dist_sum"]:
            return f"knn distance sum {r['dist_sum']} vs {ref['knn_dist_sum']}"
        return None

    def pip():
        name = "operators.polygons.point_in_polygon_join"
        with tr.span(name):
            df = point_in_polygon_join(geo_all, polys).groupBy("poly_id").count()
        with tr.span(name + ".exec"):
            return {str(r["poly_id"]): r["count"] for r in df.collect()}

    def check_pip(got):
        if got != ref["pip"]:
            return f"{sum(got.values())} points in zones, brute force has {sum(ref['pip'].values())}"
        return None

    def zonal():
        with tr.span("operators.polygons.zonal_stats"):
            rows = zonal_stats(raster, polys).collect()
        return [(str(r["poly_id"]), r["n_tiles"], r["sum_value"]) for r in rows]

    def check_zonal(rows):
        got = {g: (n, s) for g, n, s in rows}
        want = ref["zonal"]
        if set(got) != set(want):
            return f"zonal zones {len(got)} vs {len(want)}"
        for g, (n, s) in want.items():
            if got[g][0] != n or abs(got[g][1] - s) > 1e-9 * max(1.0, abs(s)):
                return f"zone {g}: {got[g]} vs {(n, s)}"
        return None

    def roundtrip():
        with tr.span("sources.documents.verify_roundtrip"):
            return verify_roundtrip(docs)

    t0 = time.perf_counter()
    parts = [ctx.op(pipeline, check_pipeline, "checkpointed radius job"),
             ctx.op(knn, check_knn, "knn_join"),
             ctx.op(pip, check_pip, "point_in_polygon_join"),
             ctx.op(zonal, check_zonal, "zonal_stats"),
             ctx.op(roundtrip, lambda m: None if m == 0 else f"{m} roundtrip mismatches",
                    "verify_roundtrip")]
    wall = time.perf_counter() - t0
    ctx.meta["stage_s"] = [dt for dt, _ in parts]
    ctx.e2e["items_per_s"] = n_docs / wall

    if ctx.traced:
        L = ctx.layer
        job = tr.named("plans.pipeline.CheckpointedRun")[0]
        L["plans.pipeline.CheckpointedRun.run_s"] = job.dur
        L["plans.pipeline.CheckpointedRun.self_s"] = job.self_s
        walls = [e["wall_sec"] for e in run.lineage() if e.get("event") == "chunk_committed"]
        L["plans.pipeline.CheckpointedRun.chunk_p50_s"] = statistics.median(walls)
        L["plans.pipeline.CheckpointedRun.chunks_rerun"] = len(walls) - run.n_chunks
        L["plans.pipeline.CheckpointedRun.bytes_written_per_input_byte"] = (
            _dir_bytes(out_dir) / _dir_bytes(docs_dir))
        L["sources.documents.extract_geo_spans.s"] = _median_span(tr, "sources.documents.extract_geo_spans")
        mismatches = parts[4][1]
        L["sources.documents.verify_roundtrip.s"] = _median_span(tr, "sources.documents.verify_roundtrip")
        L["sources.documents.verify_roundtrip.mismatches"] = -1 if mismatches is None else mismatches
        L["operators.radius.radius_join.build_s"] = _median_span(tr, "operators.radius.radius_join")
        L["operators.radius.radius_join.py4j_calls"] = _median_span(
            tr, "operators.radius.radius_join", "py4j_calls")
        L["operators.knn.candidate_histogram.s"] = _median_span(tr, "operators.knn.candidate_histogram")
        for name in ("operators.knn.knn_join", "operators.polygons.point_in_polygon_join"):
            L[f"{name}.build_s"] = _median_span(tr, name)
            L[f"{name}.exec_s"] = _median_span(tr, name + ".exec")
            L[f"{name}.jobs"] = _per_call(tr, name, "jobs")
        L["operators.knn.knn_join.py4j_calls"] = _per_call(tr, "operators.knn.knn_join", "py4j_calls")
        L["operators.polygons.zonal_stats.s"] = _median_span(tr, "operators.polygons.zonal_stats")
        L["operators.polygons.zonal_stats.jobs"] = tr.total("operators.polygons.zonal_stats", "jobs")
        # radius_join runs inside the job's chunk writes, where its jobs
        # cannot be told from the write's: run it once more, built as the
        # job builds it, over every geo point of the corpus, and read the
        # cover and refine figures from its executed plan
        name = "operators.radius.radius_join"

        def radius_all():
            with tr.span(name + ".exec"):
                df = radius_join(places, geo_all, RADIUS_M, c_lat="lat", c_lon="lon").agg(
                    F.count("*").alias("rows"))
                return df, df.collect()[0]["rows"]

        _, out = ctx.op(radius_all, lambda r: None if r[1] == ref["rows"] else
                        f"radius_join rows {r[1]} vs {ref['rows']}", "radius_join")
        if out is not None:
            plan = radius_plan(out[0])
            L[f"{name}.exec_s"] = _median_span(tr, name + ".exec")
            L[f"{name}.jobs"] = _median_span(tr, name + ".exec", "jobs")
            L[f"{name}.cells_per_query"] = plan["cover_cells"] / plan["queries"]
            L[f"{name}.cover_udf_s"] = plan["cover_udf_s"]
            L[f"{name}.refine_udf_s"] = plan["refine_udf_s"]
            L[f"{name}.refine_yield"] = out[1] / plan["refine_rows"]
        ctx.finish_trace(wall)
    shutil.rmtree(out_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# geodesic_pairs
# ---------------------------------------------------------------------------

def _pairs_reference(n: int, seed: int, pairs_dir: str) -> dict:
    from geodistpy_spark import kernels as K

    path = inputs.cache_path("geodesic_pairs", "reference", n, seed)

    def build(d):
        t = inputs.read_dir(pairs_dir)
        s = 0.0
        for b in t.to_batches(max_chunksize=500_000):
            c = {k: b.column(k).to_numpy() for k in ("lat1", "lon1", "lat2", "lon2")}
            s += float(K.geodesic_inverse(c["lat1"], c["lon1"], c["lat2"], c["lon2"]).sum())
        inputs.save_json(os.path.join(d, "reference.json"), {"dist_sum": s})

    inputs.cached(path, build)
    return inputs.load_json(os.path.join(path, "reference.json"))


def geodesic_pairs(ctx: Ctx):
    from pyspark.sql import functions as F

    from geodistpy_spark import kernels as K
    from geodistpy_spark.operators import geodist, haversine_dist

    ctx.launch()
    n = _size(ctx, dict(n=1_000_000), dict(n=20_000))["n"]
    pairs_dir = inputs.pairs(n, ctx.seed)
    ref = _pairs_reference(n, ctx.seed, pairs_dir)
    ctx.meta["shares"] = inputs.load_json(os.path.join(pairs_dir, "_shares.json"))
    tr = ctx.tracer

    def load(spark):
        df = spark.read.parquet(pairs_dir).cache()
        df.count()
        return df

    df = ctx.setup(load)
    cols = ("lat1", "lon1", "lat2", "lon2")

    def one_pass():
        with tr.span("operators.distances.geodist"):
            d = geodist(df, *cols)
            r = d.agg(F.sum("dist").alias("dist_sum"),
                      F.max(F.abs(F.col("dist") - F.col("truth"))).alias("max_err"),
                      F.count("truth").alias("golden"),
                      F.max(F.abs(F.col("dist") - F.col("hard_ref"))).alias("hard_err"),
                      F.count("hard_ref").alias("hard")).collect()[0]
        return r.asDict()

    shares = ctx.meta["shares"]
    n_hard = shares["antipodal"] + shares["polar"] + shares["coincident"]
    errs, hard_errs, sum_errs = [], [], []

    def check(r):
        errs.append(r["max_err"])
        hard_errs.append(r["hard_err"])
        sum_errs.append(abs(r["dist_sum"] - ref["dist_sum"]) / ref["dist_sum"])
        if r["golden"] != shares["golden"] or r["max_err"] is None or r["max_err"] > GOLDEN_TOL_M:
            return f"golden error {r['max_err']} m over {r['golden']} pairs"
        if r["hard"] != n_hard or r["hard_err"] is None or r["hard_err"] > HARD_TOL_M:
            return f"hard-case error {r['hard_err']} m over {r['hard']} pairs"
        if sum_errs[-1] > SUM_REL_TOL:
            return f"distance sum {r['dist_sum']} vs {ref['dist_sum']}"
        return None

    for _ in range(WARMUP_PASSES):  # first calls: UDF workers, codegen, JIT
        one_pass()
    times = []
    t0 = time.perf_counter()
    end = ctx.deadline()
    while time.perf_counter() < end or not times:
        dt, _ = ctx.op(one_pass, check, f"geodist pass {len(times)}")
        if dt is not None:
            times.append(dt)
        if ctx.traced:
            with tr.span("operators.distances.haversine_dist"):
                haversine_dist(df, *cols).agg(F.sum("dist")).collect()
    measured = time.perf_counter() - t0
    if times:
        ctx.e2e["items_per_s"] = n / statistics.median(times)
    ctx.meta["pass_s"] = timing_summary(times) if times else {}
    ctx.meta["max_err_m"] = max((e for e in errs if e is not None), default=None)
    ctx.meta["hard_max_err_m"] = max((e for e in hard_errs if e is not None), default=None)
    ctx.meta["sum_rel_err"] = max(sum_errs, default=None)

    if ctx.traced:
        L = ctx.layer
        L["operators.distances.geodist.s"] = _median_span(tr, "operators.distances.geodist")
        L["operators.distances.geodist.py4j_calls"] = _median_span(
            tr, "operators.distances.geodist", "py4j_calls")
        L["operators.distances.haversine_dist.s"] = _median_span(tr, "operators.distances.haversine_dist")
        # the kernels themselves, single-threaded in the driver, on a
        # slice of the same pairs
        t = inputs.read_dir(pairs_dir).slice(0, min(n, 200_000))
        c = {k: t.column(k).to_numpy() for k in cols}
        with tr.span("kernels.vincenty_inverse"):
            t1 = time.perf_counter()
            _, ok = K.vincenty_inverse(c["lat1"], c["lon1"], c["lat2"], c["lon2"])
            tv = time.perf_counter() - t1
        bad = ~ok
        L["kernels.vincenty_inverse.pairs_per_s"] = len(ok) / tv
        L["kernels.rescue_frac"] = float(bad.mean())
        if bad.any():
            with tr.span("kernels.karney_inverse"):
                t1 = time.perf_counter()
                K.karney_inverse(c["lat1"][bad], c["lon1"][bad], c["lat2"][bad], c["lon2"][bad])
                L["kernels.karney_inverse.pairs_per_s"] = bad.sum() / (time.perf_counter() - t1)
        ctx.finish_trace(measured)


# ---------------------------------------------------------------------------
# text_dedup
# ---------------------------------------------------------------------------

def _dedup_reference(n: int, seed: int, texts_dir: str) -> dict:
    """Every pair of texts at or above the threshold, with its exact
    Jaccard; cached per seed."""
    path = inputs.cache_path("text_dedup", "reference", n, seed)

    def build(d):
        t = inputs.read_dir(texts_dir).to_pydict()
        ids = t["doc_id"]
        pairs = oracles.near_dup_pairs(t["text"], DEDUP_THRESHOLD)
        inputs.save_json(os.path.join(d, "pairs.json"),
                         [[ids[i], ids[j], jac] for (i, j), jac in sorted(pairs.items())])

    inputs.cached(path, build)
    return {(a, b): j for a, b, j in inputs.load_json(os.path.join(path, "pairs.json"))}


def text_dedup(ctx: Ctx):
    from geodistpy_spark.textops.dedup import (lsh_candidate_pairs, minhash_signatures,
                                               near_duplicates_minhash)

    ctx.launch()
    n = _size(ctx, dict(n=10_000), dict(n=2_000))["n"]
    texts_dir = inputs.texts(n, ctx.seed)
    ref = _dedup_reference(n, ctx.seed, texts_dir)
    planted = {tuple(p) for p in inputs.load_json(os.path.join(texts_dir, "_planted.json"))}
    tr = ctx.tracer

    def load(spark):
        df = spark.read.parquet(texts_dir).cache()
        df.count()
        return df

    df = ctx.setup(load)

    def one_pass():
        caches = []
        with tr.span("textops.dedup.near_duplicates_minhash"):
            rows = near_duplicates_minhash(df, threshold=DEDUP_THRESHOLD, caches=caches).select(
                "id_1", "id_2", "jaccard").collect()
        for c in caches:
            c.unpersist()
        return sorted((r["id_1"], r["id_2"], r["jaccard"]) for r in rows)

    recalls = []

    def check(rows):
        """Every reported pair is a true near-duplicate with its exact
        Jaccard; enough of the true and of the planted pairs are found."""
        found = {(a, b) for a, b, _ in rows}
        if len(found) != len(rows):
            return f"{len(rows) - len(found)} pairs reported twice"
        for a, b, j in rows:
            if (a, b) not in ref:
                return f"pair ({a}, {b}) reported with jaccard {j}, below {DEDUP_THRESHOLD}"
            if abs(j - ref[(a, b)]) > 1e-9:
                return f"pair ({a}, {b}) jaccard {j}, exact {ref[(a, b)]}"
        recall = len(found) / len(ref) if ref else 1.0
        planted_recall = len(found & planted) / len(planted) if planted else 1.0
        recalls.append((recall, planted_recall))
        if recall < DEDUP_RECALL_FLOOR or planted_recall < DEDUP_PLANTED_RECALL_FLOOR:
            return (f"recall {recall:.4f} of {len(ref)} true pairs (floor {DEDUP_RECALL_FLOOR}), "
                    f"{planted_recall:.4f} of {len(planted)} planted (floor "
                    f"{DEDUP_PLANTED_RECALL_FLOOR})")
        return None

    for _ in range(DEDUP_WARMUP_PASSES):  # first calls: codegen, JIT, shuffle files
        warm = one_pass()

    times = []
    t0 = time.perf_counter()
    end = ctx.deadline()
    while time.perf_counter() < end or not times:
        dt, _ = ctx.op(one_pass, check, f"dedup pass {len(times)}")
        if dt is not None:
            times.append(dt)
    measured = time.perf_counter() - t0
    if times:
        ctx.e2e["items_per_s"] = n / statistics.median(times)
    ctx.meta["pass_s"] = timing_summary(times) if times else {}
    ctx.meta["pairs"] = {"found": len(warm), "true": len(ref), "planted": len(planted)}
    ctx.meta["recall"] = sorted(set(recalls))

    if ctx.traced:
        L = ctx.layer
        with tr.span("textops.dedup.minhash_signatures"):
            minhash_signatures(df).count()
        with tr.span("textops.dedup.lsh_candidate_pairs"):
            cand = lsh_candidate_pairs(df).count()
        L["textops.dedup.minhash_signatures.s"] = _median_span(tr, "textops.dedup.minhash_signatures")
        L["textops.dedup.lsh_candidate_pairs.s"] = _median_span(tr, "textops.dedup.lsh_candidate_pairs")
        L["textops.dedup.candidates"] = cand
        L["textops.dedup.near_duplicates_minhash.s"] = _median_span(
            tr, "textops.dedup.near_duplicates_minhash")
        L["textops.dedup.near_duplicates_minhash.jobs"] = _median_span(
            tr, "textops.dedup.near_duplicates_minhash", "jobs")
        L["textops.dedup.yield"] = len(warm) / cand if cand else 0.0
        ctx.finish_trace(measured)


WORKLOADS = {
    "docs_pipeline": docs_pipeline,
    "geodesic_pairs": geodesic_pairs,
    "text_dedup": text_dedup,
}
