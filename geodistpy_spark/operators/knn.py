"""kNN queries: density-seeded cell-cover search with exact re-rank.

Engine rewrite of the reference's ``geodesic_knn`` (distance.py:463-540:
full scan + argpartition top-k) into a cover-prefiltered search with a
ring-closure guarantee:

    a cover of radius R contains ALL points within geodesic distance R
    (grid cover math is conservative) => if >= k candidates are found at
    distance <= R, no uncovered point can displace the top k.

Round-1 design ran up to 5 driver-synchronized rounds (cache +
localCheckpoint + isEmpty per round ~ 10+ Spark jobs); this version is
a FIXED 3-phase plan built lazily as one DAG:

  0. one aggregation over candidates -> coarse per-cell count histogram,
     collected driver-side (bounded: <= 4^HIST_RES cells) and turned into
     an integral image. Also yields the candidate total for the k <= n
     validation (reference distance.py:520-522). Callers issuing many
     joins against one candidate table precompute this once with
     ``candidate_histogram`` and pass ``hist=`` — the join then runs a
     single candidate scan.
  1. per-query search radius from LOCAL density (expanding block sums on
     the integral image, vectorized in one pandas UDF) -> variable-radius
     TIERED cover join -> window top-k; a query closes when it has k
     in-disk neighbors (ring closure). Tiers: each query covers at the
     finest of {res, res-2, res-4} whose cover fits max_cover_cells
     (tier encoded into the join key, cell*32+tier), so sparse/oceanic
     queries search 16x-larger disks with coarse cells instead of
     falling through to the crossJoin; candidates emit one ancestor key
     per tier.
  2. unclosed queries retry at ``growth`` x radius (same candidate-side
     exchange: Spark reuses the shuffle).
  3. stragglers (typically none) fall back to an exact broadcast
     cross-join, so termination and exactness are unconditional.

Phases 2/3 see only queries that phase 1/2 could not close; at uniform
density the per-query radius closes ~99% in phase 1. One driving action
executes the whole lazy union; the small per-phase top-k outputs are
cached (the nondeterministic refine fence blocks Catalyst subtree
dedup — without the caches the multi-consumer DAG re-executes phases).

Ordering contract matches the reference: ascending exact distance, ties
broken by candidate id when ``c_id`` is given (stable; reference argsort
is index-stable, distance.py:533-537), else by (lat, lon).

Scale notes (100 TB): the histogram is a map-side-combined agg on an
int key (4^6 distinct values) — one cheap pass; the cover join
broadcasts the exploded query side (the candidate table is never
hash-partitioned by cell — see docs/SCALE.md skew evidence), with
optional salting for the forced-shuffle regime; per-query covers are
bounded by ``max_cover_cells`` regardless of how sparse a region is
(unbounded-radius queries are caught by phase 3 instead of exploding
the cover).
"""

from __future__ import annotations

import math
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import grid
from ..constants import unit_factor
from ..functions.expressions import cell_id_col, great_circle_m, haversine_m
from ..functions.udfs import vincenty_udf

EARTH_AREA_M2 = 5.10072e14
GLOBE_M = 2.1e7
HIST_RES = 6  # 64 x 64 = 4096 cells; dense int64 grid is 32 KB driver-side


@lru_cache(maxsize=128)
def _valid_coords(lat: str, lon: str):
    """Rows with non-null, non-NaN, in-range coordinates (NaN fails
    ``between`` and null propagates to null — both drop under filter).
    Cached per column-name pair: Column trees are immutable and the
    builder's py4j chatter is pure driver overhead per call."""
    return (
        F.col(lat).between(-90.0, 90.0) & F.col(lon).between(-180.0, 180.0)
        & ~F.isnan(lat) & ~F.isnan(lon)
    )


def candidate_histogram_from_layout(path: str) -> tuple[np.ndarray, int]:
    """(counts[n,n], total) from a :func:`~geodistpy_spark.sources.io.
    write_cell_partitioned` layout WITHOUT scanning any data: per-cell
    row counts come from the parquet FOOTER metadata of each hive
    partition directory (``cell_pK=<cell>``), summed file by file.

    Partition cells coarser than HIST_RES spread their count uniformly
    over their HIST_RES descendants (finer ones roll up) — the kNN
    radius estimator only needs a density GUESS; phases 2/3 correct any
    error. This is the zero-cost path for repeated knn_join calls
    against a written corpus: pass the result via ``hist=`` and each
    join runs exactly ONE candidate scan (the join itself).
    """
    import os
    import re

    import pyarrow.parquet as pq

    n = grid.nx(HIST_RES)
    counts = np.zeros((n, n), dtype=np.int64)
    pat = re.compile(r"^cell_p(\d+)=(\d+)$")
    for entry in sorted(os.listdir(path)):
        m = pat.match(entry)
        if not m:
            continue
        p_res, cell = int(m.group(1)), int(m.group(2))
        rows = 0
        pdir = os.path.join(path, entry)
        for f in os.listdir(pdir):
            if f.endswith(".parquet"):
                rows += pq.ParquetFile(os.path.join(pdir, f)).metadata.num_rows
        if rows == 0:
            continue
        pn = grid.nx(p_res)
        py, px = divmod(cell, pn)
        if p_res <= HIST_RES:
            k = n // pn  # each coarse cell covers a k x k block
            counts[py * k:(py + 1) * k, px * k:(px + 1) * k] += rows // (k * k)
            # remainder to the block corner so totals stay exact
            counts[py * k, px * k] += rows - (rows // (k * k)) * k * k
        else:
            s = pn // n
            counts[py // s, px // s] += rows
    return counts, int(counts.sum())


def candidate_histogram(candidates: DataFrame, c_lat: str = "lat",
                        c_lon: str = "lon",
                        max_map_partitions: int = 1024) -> tuple[np.ndarray, int]:
    """(counts[n,n], total) — the coarse density histogram knn_join seeds
    its per-query radii from, from ONE aggregation over the candidates.

    Compute this once and pass it to repeated :func:`knn_join` /
    :func:`geodesic_knn` calls via ``hist=`` so each join runs a single
    candidate scan (the join itself) instead of two. Invalid-coordinate
    rows are excluded, matching knn_join's own candidate filter.

    Two physical strategies, identical counts:

    - scans with at most ``max_map_partitions`` partitions run a
      SINGLE-stage mapInArrow pass: each task bincounts its partition
      into a dense 4^HIST_RES vector and emits only the occupied
      (cell, count) rows; the driver sums the partials. No exchange, no
      AQE wave — measured 0.9 -> 0.5 s per call at local[32] (and this
      runs on every un-``hist``-ed knn_join).
    - wider scans (where per-partition partial rows could swamp the
      driver) fall back to the map-side-combined groupBy + one tiny
      exchange — the 100 TB shape.
    """
    n = grid.nx(HIST_RES)
    if candidates.rdd.getNumPartitions() <= max_map_partitions:
        src = candidates.filter(_valid_coords(c_lat, c_lon)).select(
            F.col(c_lat).alias("__la"), F.col(c_lon).alias("__lo"))

        def _partials(batches):
            import pyarrow as pa
            dense = np.zeros(n * n, np.int64)
            for b in batches:
                la = b.column(0).to_numpy(zero_copy_only=False)
                lo = b.column(1).to_numpy(zero_copy_only=False)
                y = np.clip(np.floor((la + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
                x = np.clip(np.floor(np.mod(lo + 180.0, 360.0) / 360.0 * n),
                            0, n - 1).astype(np.int64)
                dense += np.bincount(y * n + x, minlength=n * n)
            # ONE packed row per task (n*n int64 little-endian, 32 KB at
            # HIST_RES): collecting (cell, cnt) pairs materialized tens of
            # thousands of pyspark Rows per call through the pickle->Row
            # path (~0.3 s driver-side at local[32]); a binary blob per
            # task is 32 rows and a numpy sum
            if dense.any():
                yield pa.record_batch(
                    [pa.array([dense.astype("<i8").tobytes()], pa.binary())],
                    names=["h"])

        counts = np.zeros(n * n, dtype=np.int64)
        for r in src.mapInArrow(_partials, "h binary").collect():
            counts += np.frombuffer(r["h"], dtype="<i8")
        counts = counts.reshape(n, n)
        return counts, int(counts.sum())
    # lean cell expression: the _valid_coords filter already rejects
    # null/NaN/Inf/out-of-range rows, so the full cell_id_col CASE
    # guards are redundant here and only inflate per-call analysis +
    # codegen time (this runs as a fresh plan on every un-histed
    # knn_join; measured ~0.3 s of driver planning saved at local[32]).
    # For in-range finite coords the math is identical to cell_id_col.
    y = F.least(F.greatest(F.floor((F.col(c_lat) + 90.0) / 180.0 * n),
                           F.lit(0)), F.lit(n - 1))
    x = F.least(F.greatest(
        F.floor(F.pmod(F.col(c_lon) + 180.0, F.lit(360.0)) / 360.0 * n),
        F.lit(0)), F.lit(n - 1))
    rows = (
        candidates.filter(_valid_coords(c_lat, c_lon))
        .groupBy((y * n + x).cast("long").alias("__c"))
        .count().collect()
    )
    counts = np.zeros((n, n), dtype=np.int64)
    for r in rows:
        if r["__c"] is None:
            continue
        y, x = divmod(int(r["__c"]), n)
        counts[y, x] = r["count"]
    return counts, int(counts.sum())


def _radius_estimator_np(counts: np.ndarray, k: int, r_cap_m: float):
    """Numpy closure (la, lo) -> density-derived search radius (meters).

    Expands square blocks on an integral image until >= 2k candidates are
    inside, converts the local density to the radius of a disk expected
    to hold 2k, then pads 1.5x. Clamped to [1 km, r_cap_m]; phases 2/3
    correct any under-estimate, so this only has to be a good guess.
    """
    n = counts.shape[0]
    # integral image with a zero row/col: block sums in O(1)
    ii = np.zeros((n + 1, n + 1), dtype=np.int64)
    np.cumsum(np.cumsum(counts, axis=0), axis=1, out=ii[1:, 1:])
    cell_h_m = 180.0 / n * 110_600.0
    target = 2 * k

    def _est(la: np.ndarray, lo: np.ndarray) -> np.ndarray:
        x = np.clip((np.mod(lo + 180.0, 360.0) / 360.0 * n).astype(np.int64), 0, n - 1)
        y = np.clip(((la + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
        cnt = np.zeros(len(la), dtype=np.int64)
        blk = np.zeros(len(la), dtype=np.int64)
        done = np.zeros(len(la), dtype=bool)
        for s in range(n):
            y0 = np.clip(y - s, 0, n); y1 = np.clip(y + s + 1, 0, n)
            x0 = np.clip(x - s, 0, n); x1 = np.clip(x + s + 1, 0, n)
            c = ii[y1, x1] - ii[y0, x1] - ii[y1, x0] + ii[y0, x0]
            cnt = np.where(done, cnt, c)
            blk = np.where(done, blk, (y1 - y0) * (x1 - x0))
            done |= c >= target
            if done.all():
                break
        # local density per m^2 (block area ~ cells * cell_h^2 * cos(lat))
        area = blk * cell_h_m * cell_h_m * np.maximum(np.cos(np.radians(la)), 0.05)
        with np.errstate(divide="ignore", invalid="ignore"):
            r = 1.5 * np.sqrt(target * area / (np.pi * np.maximum(cnt, 1)))
        r = np.where(cnt == 0, r_cap_m, r)
        return np.clip(r, 1_000.0, r_cap_m)

    return _est


def _radius_estimator_udf(counts: np.ndarray, k: int, r_cap_m: float):
    """Pandas UDF wrapper over :func:`_radius_estimator_np`."""
    est = _radius_estimator_np(counts, k, r_cap_m)

    @F.pandas_udf(T.DoubleType())
    def _r_est(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(est(lat.to_numpy(dtype=np.float64),
                             lon.to_numpy(dtype=np.float64)))

    return _r_est


def _tiers(res: int) -> list[int]:
    """Cover resolution tiers, fine -> coarse: dense-region queries cover
    at ``res`` (the density-derived join resolution); sparse/oceanic
    queries whose disks would blow the cell budget there fall back to
    4x / 16x coarser cells instead of falling through to the exact
    crossJoin. Tier + cell share ONE join key: ``cell * 32 + tier_res``."""
    return sorted({res, max(res - 2, 0), max(res - 4, 0)}, reverse=True)


@lru_cache(maxsize=128)
def _tier_key(lat_col: str, lon_col: str, t: int):
    # cached like cell_id_col: same immutable-Column-tree argument
    return cell_id_col(lat_col, lon_col, t) * 32 + t


def _cover_cells_var_udf(res: int, max_cells: int, margin: float = 1.002):
    """Pandas UDF: (lat, lon, radius_m) -> array<long> of TIER-ENCODED
    cover cells (``cell * 32 + tier_res``) — per-row radius variant of
    radius._cover_cells_udf, same conservative spherical-cap bounding-box
    construction, per-row tier selection.

    Each row tries the tiers fine -> coarse and emits the first cover
    that fits ``max_cells`` (pole-containing caps at fine res can emit
    tens of thousands of cells; a 16x-coarser tier holds a 16x-larger
    disk in the same budget). Rows that fit NO tier get an EMPTY cover —
    the query then finds no in-disk candidates, stays open, and phase 3
    answers it exactly; cost stays bounded, correctness unconditional."""
    cover = _cover_cells_np(res, max_cells, margin)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _cover(lat: pd.Series, lon: pd.Series, radius_m: pd.Series) -> pd.Series:
        return pd.Series(cover(lat.to_numpy(dtype=np.float64),
                               lon.to_numpy(dtype=np.float64),
                               radius_m.to_numpy(dtype=np.float64)))

    return _cover


def _seed_cover_udf(counts: np.ndarray, k: int, r_cap_m: float,
                    res: int, max_cells: int):
    """Pandas UDF: (lat, lon) -> struct<r double, cells array<long>> —
    the density-derived phase-1 radius AND its tier-encoded cover in
    ONE Python stage (the r5 shape ran the estimator UDF and the cover
    UDF as two ArrowEvalPython operators: two JVM->Python round trips
    and two operator builds per call for 200-row query tables)."""
    est = _radius_estimator_np(counts, k, r_cap_m)
    cover = _cover_cells_np(res, max_cells)
    schema = T.StructType([
        T.StructField("r", T.DoubleType()),
        T.StructField("cells", T.ArrayType(T.LongType())),
    ])

    @F.pandas_udf(schema)
    def _seed(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
        la = lat.to_numpy(dtype=np.float64)
        lo = lon.to_numpy(dtype=np.float64)
        r = est(la, lo)
        return pd.DataFrame({"r": r, "cells": cover(la, lo, r)})

    return _seed


def _cover_cells_np(res: int, max_cells: int, margin: float = 1.002):
    """Numpy closure (la, lo, radius_m) -> list of tier-encoded cover
    cell arrays (see :func:`_cover_cells_var_udf` for semantics)."""
    tiers = _tiers(res)

    def _cover(la: np.ndarray, lo: np.ndarray, radius_m: np.ndarray) -> list:
        sigma = np.minimum(radius_m * margin
                           / grid.MIN_CURVATURE_RADIUS_M, np.pi)
        sigma_deg = np.degrees(sigma)
        pole = (np.abs(la) + sigma_deg) >= 90.0
        geom = {}
        for t in tiers:
            n = grid.nx(t)
            cell_w = 360.0 / n
            lat_lo = np.maximum(la - sigma_deg, -90.0)
            lat_hi = np.minimum(la + sigma_deg, 90.0)
            y_lo = np.clip(np.floor((lat_lo + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
            y_hi = np.clip(np.floor((lat_hi + 90.0 - 1e-12) / 180.0 * n), 0, n - 1).astype(np.int64)
            with np.errstate(invalid="ignore"):
                ratio = np.sin(sigma) / np.maximum(np.cos(np.radians(la)), 1e-15)
            dlam = np.degrees(np.arcsin(np.minimum(ratio, 1.0)))
            span = np.minimum(np.ceil(2.0 * dlam / cell_w).astype(np.int64) + 2, n)
            span = np.where(pole | (sigma >= np.pi * 0.999), n, span)
            lo_x = np.floor(np.mod(lo - dlam + 180.0, 360.0) / 360.0 * n).astype(np.int64)
            lo_x = np.where(pole, 0, lo_x)
            geom[t] = (n, y_lo, y_hi, span, lo_x)
        empty = np.empty(0, dtype=np.int64)
        out = []
        for i in range(len(la)):
            cells = empty
            for t in tiers:
                n, y_lo, y_hi, span, lo_x = geom[t]
                if pole[i]:
                    pc = np.asarray(grid.polar_cap_cells(
                        float(la[i]), float(lo[i]), float(sigma[i]), t,
                        int(y_lo[i]), int(y_hi[i])), dtype=np.int64)
                    if len(pc) <= max_cells:
                        cells = pc * 32 + t
                        break
                    continue
                if (y_hi[i] - y_lo[i] + 1) * span[i] > max_cells:
                    continue
                ys = np.arange(y_lo[i], y_hi[i] + 1, dtype=np.int64)
                xs = (lo_x[i] + np.arange(span[i], dtype=np.int64)) % n
                cells = (ys[:, None] * n + xs[None, :]).ravel() * 32 + t
                break
            out.append(cells)
        return out

    return _cover


def _topk_in_radius(qr: DataFrame, cand: DataFrame, k: int, res: int,
                    ellipsoid, exact: bool,
                    q_id: str, c_lat: str, c_lon: str,
                    order_tail, salt: int | None, out: str,
                    max_cover_cells: int) -> DataFrame:
    """Variable-radius cover join + per-query top-k with closure count.

    ``qr`` carries (q_id, __qlat, __qlon, __r); output adds ``out``
    (meters), __rn (rank) and __cnt (in-disk candidates, capped at
    window evaluation) — a query is CLOSED iff __cnt >= k. A ``__cells``
    column, when present, is a precomputed tier-encoded cover (the
    fused phase-1 seed UDF emits it next to __r) and skips the cover
    UDF here.
    """
    if "__cells" in qr.columns:
        q = qr.withColumn("__cell", F.explode("__cells")).drop("__cells")
    else:
        cov = _cover_cells_var_udf(res, max_cover_cells)
        q = qr.withColumn("__cell", F.explode(cov("__qlat", "__qlon", "__r")))

    if salt and salt > 1:
        q = q.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        c = cand.withColumn("__salt", F.pmod(F.hash(F.col(c_lat), F.col(c_lon)), F.lit(salt)))
        join_keys = ["__cell", "__salt"]
    else:
        c = cand
        join_keys = ["__cell"]

    joined = q.join(c, on=join_keys, how="inner")
    hav = haversine_m("__qlat", "__qlon", c_lat, c_lon)
    if exact:
        # conservative codegen prefilter (see radius._prefilter_margin_m
        # for the haversine-not-AL rationale): hav > __r * 1.01 + 5 km
        # is provably outside the disk — those rows (the cover box's
        # corners) never reach the Arrow kernel
        joined = joined.filter(hav <= F.col("__r") * 1.01 + 5_000.0)
        d = vincenty_udf(ellipsoid, once=True)(F.col("__qlat"), F.col("__qlon"),
                                               F.col(c_lat), F.col(c_lon))
        joined = joined.withColumn(out, d).filter(F.col(out) <= F.col("__r"))
    else:
        # approximate mode: haversine band decision — the AL tree only
        # evaluates (short-circuited) on the boundary band inside the
        # pushed join predicate (no subexpression elimination there);
        # the output column evaluates once in the projection
        d = great_circle_m("__qlat", "__qlon", c_lat, c_lon)
        keep = (hav <= F.col("__r") * 0.99 - 5_000.0) | (
            (hav <= F.col("__r") * 1.01 + 5_000.0) & (d <= F.col("__r")))
        joined = joined.filter(keep).withColumn(out, d)
    w = Window.partitionBy(q_id).orderBy(F.col(out).asc(), *order_tail)
    wc = Window.partitionBy(q_id)
    # one select instead of drop + 2x withColumn: each DataFrame op is a
    # full analysis round trip (~10-20 ms at local[32]) paid per build,
    # and this runs twice per knn_join
    keep = [c for c in joined.columns if c not in ("__cell", "__salt")]
    return joined.select(
        *keep,
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wc).alias("__cnt"),
    )


def knn_join(queries: DataFrame, candidates: DataFrame, k: int,
             metric: str = "meter", ellipsoid="WGS-84", exact: bool = True,
             q_id: str = "query_id", q_lat: str = "q_lat", q_lon: str = "q_lon",
             c_lat: str = "lat", c_lon: str = "lon", c_id: str | None = None,
             r0_m: float | None = None, growth: float = 6.0,
             max_cover_cells: int = 4096,
             salt: int | None = None, out: str = "dist",
             hist: tuple[np.ndarray, int] | None = None,
             stats: dict | None = None) -> DataFrame:
    """Many-to-many kNN join: for every query row, its k nearest
    candidates by exact geodesic distance (``exact=False``: great-circle).

    See module docstring for the 3-phase plan. ``r0_m`` overrides the
    density-derived per-query radius with a constant. ``c_id`` gives the
    deterministic tie-break column (recommended; matches the reference's
    index-stable ordering). ``hist`` is an optional precomputed
    :func:`candidate_histogram` — pass it when issuing many joins against
    the same candidate table so each call runs a single candidate scan.

    Candidate rows with null/NaN/out-of-range coordinates are ignored
    (they can never be a nearest neighbor; unfiltered they would rank by
    null distances in the phase-3 fallback and crash the histogram).

    ``stats``: pass a dict to receive the per-phase closed-result
    DataFrames (keys phase1/phase2) for population introspection — after
    the main action they count from cache, so phase populations cost one
    cheap job each (phase3 = total - phase1 - phase2).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    candidates = candidates.filter(_valid_coords(c_lat, c_lon))
    counts, n_cand = hist if hist is not None else candidate_histogram(
        candidates, c_lat, c_lon)
    if k > n_cand:
        raise ValueError(
            f"k={k} exceeds candidate count {n_cand} (reference contract: "
            "distance.py:520-522)")

    order_tail = [F.col(c_id).asc()] if c_id else [F.col(c_lat).asc(), F.col(c_lon).asc()]

    # join resolution from the candidate-weighted mean density (the radius
    # a typical query needs); covers stay ~3x3 for in-distribution queries
    n_h = grid.nx(HIST_RES)
    occupied = counts[counts > 0]
    if r0_m is None and occupied.size:
        # density each CANDIDATE sees (weighted by count) -> typical r
        cell_area = EARTH_AREA_M2 / (n_h * n_h)  # coarse mean; fine for a log2 pick
        mean_density = float((occupied.astype(np.float64) ** 2).sum()) / (
            occupied.sum() * cell_area)
        r_typ = 1.5 * math.sqrt(2.0 * k / (math.pi * mean_density))
    else:
        r_typ = r0_m if r0_m is not None else 100_000.0
    r_typ = min(max(r_typ, 1_000.0), GLOBE_M)
    res = grid.pick_resolution(r_typ)
    # radius cap: the COARSEST tier bounds how large a disk still fits in
    # max_cover_cells — sparse/oceanic queries get a 16x-larger search
    # radius than the fine tier alone would allow before phase 3
    tiers = _tiers(res)
    span_cap = max(int(math.sqrt(max_cover_cells)), 3)
    r_cap = min(span_cap / 2.0 * (2.0e7 / grid.nx(min(tiers))), GLOBE_M)

    # invalid/null query coordinates yield NO rows for that query (the
    # SQL-consistent analog of the reference's coordinate validation —
    # unfiltered they would rank candidates by NaN distances)
    qr = queries.select(
        F.col(q_id),
        F.col(q_lat).alias("__qlat"),
        F.col(q_lon).alias("__qlon"),
    ).filter(
        F.col("__qlat").between(-90.0, 90.0) & F.col("__qlon").between(-180.0, 180.0)
        & ~F.isnan("__qlat") & ~F.isnan("__qlon")
    )
    if r0_m is not None:
        qr = qr.withColumn("__r", F.lit(min(float(r0_m), r_cap)))
    else:
        # fused seed: radius estimate + phase-1 cover in ONE Python
        # stage (two ArrowEvalPython operators before); _topk_in_radius
        # picks the __cells column up and skips its own cover UDF
        seed = _seed_cover_udf(counts, k, r_cap, res, max_cover_cells)
        qr = qr.withColumn("__rc", seed("__qlat", "__qlon")).select(
            q_id, "__qlat", "__qlon",
            F.col("__rc.r").alias("__r"),
            F.col("__rc.cells").alias("__cells"))
    # each phase's output feeds BOTH the result union and the next
    # phase's open-set; the nondeterministic refine UDF blocks Catalyst
    # subtree dedup, so cache the (small: O(queries x k)) intermediates
    # to keep each phase single-execution
    qr = qr.cache()

    # candidate rows carry ONE tier-encoded ancestor key per tier (the
    # join stays a single-key equi-join; coarse-tier probes only match
    # for the sparse queries that chose that tier)
    cand = candidates.withColumn(
        "__cell", F.explode(F.array(*[_tier_key(c_lat, c_lon, t) for t in tiers])))
    drop_cols = ["__rn", "__cnt", "__r", "__qlat", "__qlon"]

    # phase 1: density-seeded radius
    p1 = _topk_in_radius(qr, cand, k, res, ellipsoid, exact,
                         q_id, c_lat, c_lon, order_tail, salt, out,
                         max_cover_cells).filter(F.col("__rn") <= k).cache()
    closed1 = p1.filter(F.col("__cnt") >= k).drop(*drop_cols)
    # open set = queries with < k in-disk rows (incl. ZERO rows, which
    # never appear in p1 — hence the left join, not a semi-join)
    # p1s/p2s are at most one row per query — the same small-by-contract
    # side the cover join already broadcasts. An explicit broadcast hint
    # keeps the open-set left joins off the SortMergeJoin path Catalyst
    # picks from the cached relations' unknown stats (each SMJ costs two
    # exchanges + sorts, i.e. two more sequential AQE waves per phase).
    p1s = p1.filter(F.col("__rn") == 1).select(q_id, F.col("__cnt").alias("__c1"))
    qr2 = (
        qr.drop("__cells")  # phase-1 cover is stale once __r grows
        .join(F.broadcast(p1s), on=q_id, how="left")
        .filter(F.coalesce(F.col("__c1"), F.lit(0)) < k)
        # one select = drop("__c1") + the __r growth withColumn
        .select(q_id, "__qlat", "__qlon",
                F.least(F.col("__r") * growth, F.lit(r_cap)).alias("__r"))
    ).cache()  # consumed by BOTH phase 2 and the phase-3 open-set join

    # phase 2: growth x radius for the unclosed tail (same candidate-side
    # exchange as phase 1 -> ReusedExchange, no second scan)
    p2 = _topk_in_radius(qr2, cand, k, res, ellipsoid, exact,
                         q_id, c_lat, c_lon, order_tail, salt, out,
                         max_cover_cells).filter(F.col("__rn") <= k).cache()
    closed2 = p2.filter(F.col("__cnt") >= k).drop(*drop_cols)
    p2s = p2.filter(F.col("__rn") == 1).select(q_id, F.col("__cnt").alias("__c2"))

    # phase 3: exact fallback for stragglers (broadcast the tiny query
    # side; unconditional correctness)
    qr3 = (
        qr2.join(F.broadcast(p2s), on=q_id, how="left")
        .filter(F.coalesce(F.col("__c2"), F.lit(0)) < k).drop("__c2")
    )
    if exact:
        d3 = vincenty_udf(ellipsoid, once=True)(F.col("__qlat"), F.col("__qlon"),
                                                F.col(c_lat), F.col(c_lon))
    else:
        d3 = great_circle_m("__qlat", "__qlon", c_lat, c_lon)
    w3 = Window.partitionBy(q_id).orderBy(F.col(out).asc(), *order_tail)
    p3 = (
        F.broadcast(qr3.drop("__r")).crossJoin(candidates)
        .withColumn(out, d3)
        .withColumn("__rn", F.row_number().over(w3))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__qlat", "__qlon")
    )

    if stats is not None:
        stats["phase1"] = closed1
        stats["phase2"] = closed2
    result = closed1.unionByName(closed2).unionByName(p3)
    return result.withColumn(out, F.col(out) * unit_factor(metric))


def geodesic_knn(df: DataFrame, point: tuple[float, float], k: int,
                 metric: str = "meter", ellipsoid="WGS-84",
                 lat_col: str = "lat", lon_col: str = "lon",
                 id_col: str | None = None,
                 r0_m: float | None = None,
                 out: str = "dist",
                 hist: tuple[np.ndarray, int] | None = None) -> DataFrame:
    """k nearest rows to ``point`` by exact geodesic distance, sorted
    ascending (reference contract distance.py:463-540 incl. the
    k-validation at :520-522).

    Thin wrapper over :func:`knn_join` with a single broadcast query row
    — one plan, no per-round driver synchronization (round-1 version ran
    the cover join twice per round and a full count for the seed).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    clat, clon = float(point[0]), float(point[1])
    if not -90.0 <= clat <= 90.0 or not -180.0 <= clon <= 180.0:
        raise ValueError(f"point out of range: {point}")  # reference contract
    spark = df.sparkSession
    q = spark.createDataFrame([(0, clat, clon)], "__q long, __la double, __lo double")
    res = knn_join(
        q, df, k, metric=metric, ellipsoid=ellipsoid, exact=True,
        q_id="__q", q_lat="__la", q_lon="__lo",
        c_lat=lat_col, c_lon=lon_col, c_id=id_col, r0_m=r0_m, out=out,
        hist=hist,
    )
    order = [F.col(out).asc()] + ([F.col(id_col).asc()] if id_col else [])
    return res.drop("__q").orderBy(*order)
