"""kNN queries: one density-seeded cover join plus one guaranteed fallback.

Engine rewrite of the reference's ``geodesic_knn`` (distance.py:463-540:
full scan + argpartition top-k) as two exact passes in ONE lazy plan,
both seeded by :func:`candidate_histogram` (exact per-cell candidate
counts on a 64x64 grid; pass ``hist=`` to reuse it across joins).
Both bound the distance ``d`` by the haversine ``hav`` on the sphere of
radius ``a``: ``inner * d <= hav <= outer * d``
(:func:`~geodistpy_spark.constants.hav_bounds`).

1. Density pass. A per-query radius ``r`` from local histogram density,
   its cap cover at the join resolution (empty past ``COVER_BUDGET``
   cells), one cover equi-join. A query is CLOSED when >= k joined
   candidates have ``hav <= inner * r``: those lie within ``r``, and
   the cover holds every point within ``r``, so its top-k joined rows
   are exact.
2. Fallback for every open query. The smallest square block of
   histogram cells around the query holding >= k candidates lies within
   central angle ``theta`` of it (:func:`_fallback_angle_np`), so the
   k-th haversine is at most ``a * theta``. One join on the cover of
   ``outer / inner * theta`` ranks candidates by haversine in SQL; only
   rows within ``outer / inner`` of the k-th haversine reach the exact
   kernel.

Nothing is cached: the open-query aggregate reads the pass-1 join a
second time (deterministic SQL up to the refine UDF), so a long-lived
session keeps no relation per call.

Ordering contract matches the reference: ascending exact distance, ties
broken by candidate id when ``c_id`` is given (stable; reference argsort
is index-stable, distance.py:533-537), else by (lat, lon).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import grid
from ..constants import HAV_ROUND_M, hav_bounds, resolve_ellipsoid, unit_factor
from ..functions.expressions import _reusable, great_circle_m, haversine_m
from ..functions.udfs import kernel_udf, list_array, vincenty_udf
from .radius import _cover_join

HIST_RES = 6  # 64 x 64 = 4096 cells; dense int64 grid is 32 KB driver-side
COVER_BUDGET = 4096  # pass-1 cover cells per query; larger covers go to the fallback


@_reusable
def _valid_coords(lat: str, lon: str):
    """Rows with non-null, non-NaN, in-range coordinates (NaN fails
    ``between``, null propagates)."""
    return (
        F.col(lat).between(-90.0, 90.0) & F.col(lon).between(-180.0, 180.0)
        & ~F.isnan(lat) & ~F.isnan(lon)
    )


def candidate_histogram_from_layout(path: str) -> tuple[np.ndarray, int]:
    """(counts[n,n], total) from a :func:`~geodistpy_spark.sources.io.
    write_cell_partitioned` layout without a Spark job. A hive partition
    (``cell_pK=<cell>``) at or finer than HIST_RES adds its parquet
    FOOTER row counts to its ancestor cell; a coarser one reads only its
    fine-cell column (``cell_rN``), so every HIST_RES cell keeps its
    exact count, as :func:`knn_join`'s fallback radius requires. Pass
    the result via ``hist=`` and each join runs no histogram aggregation.
    """
    import glob
    import os
    import re

    import pyarrow.parquet as pq

    n = grid.nx(HIST_RES)
    counts = np.zeros(n * n, dtype=np.int64)
    for entry in sorted(os.listdir(path)):
        m = re.match(r"^cell_p(\d+)=(\d+)$", entry)
        if not m:
            continue
        p_res, cell = int(m.group(1)), int(m.group(2))
        for f in glob.glob(os.path.join(path, entry, "*.parquet")):
            pf = pq.ParquetFile(f)
            if p_res >= HIST_RES:
                res, cells, rows = p_res, np.array([cell]), pf.metadata.num_rows
            else:
                col = next(c for c in pf.schema_arrow.names if re.match(r"^cell_r\d+$", c))
                res, cells, rows = int(col[6:]), pf.read(columns=[col]).column(0).to_numpy(), 1
                if res < HIST_RES:
                    raise ValueError(f"{f}: {col} is coarser than res {HIST_RES}")
            counts += np.bincount(grid.parent_cell(cells, res, HIST_RES), minlength=n * n) * rows
    counts = counts.reshape(n, n)
    return counts, int(counts.sum())


def candidate_histogram(candidates: DataFrame, c_lat: str = "lat",
                        c_lon: str = "lon") -> tuple[np.ndarray, int]:
    """(counts[n,n], total) — the exact per-cell candidate counts
    knn_join seeds its per-query radii and its fallback radius from,
    from ONE map-side-combined SQL groupBy over the candidates (one tiny
    exchange of at most 4^HIST_RES rows per partition).

    Compute this once and pass it to repeated :func:`knn_join` /
    :func:`geodesic_knn` calls via ``hist=`` so no join re-aggregates the
    candidates. Invalid-coordinate rows are excluded, matching
    knn_join's own candidate filter.
    """
    n = grid.nx(HIST_RES)
    # lean cell expression: the _valid_coords filter already rejects
    # null/NaN/Inf/out-of-range rows, so the full cell_id_col CASE
    # guards are redundant here and only inflate per-call analysis +
    # codegen time. For in-range finite coords the math is identical
    # to cell_id_col.
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
    counts = np.zeros(n * n, dtype=np.int64)
    for r in rows:
        counts[r["__c"]] = r["count"]
    counts = counts.reshape(n, n)
    return counts, int(counts.sum())


def _radius_estimator_np(counts: np.ndarray, k: int, r_cap_m: float, a: float):
    """Numpy closure (la, lo) -> density-derived search radius (meters).

    Expands square blocks on an integral image until >= 2k candidates are
    inside, converts the local density to the radius of a disk expected
    to hold 2k, then pads 1.5x. Clamped to [1 km, r_cap_m]; the fallback
    pass answers any query this under-estimates, so it only has to be a
    good guess.
    """
    n = counts.shape[0]
    # integral image with a zero row/col: block sums in O(1)
    ii = np.pad(np.cumsum(np.cumsum(counts, axis=0), axis=1), ((1, 0), (1, 0)))
    cell_h_m = math.pi * a / n  # a histogram row on a meridian of radius a
    target = 2 * k

    def _est(la: np.ndarray, lo: np.ndarray) -> np.ndarray:
        y, x = np.divmod(grid.cell_id_np(la, lo, HIST_RES), n)
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


def _fallback_angle_np(counts: np.ndarray, k: int):
    """Numpy closure (la, lo) -> a central angle (radians) holding >= k
    candidates.

    Finds the smallest square block of histogram cells around the
    query's cell (longitude wrapping) that counts >= k candidates. Every
    point of the block is reachable along the query's parallel by at
    most ``dlam`` and then along a meridian by at most ``dphi``, so its
    geodetic normal is within ``dphi + cos(phi_q) * dlam`` of the
    query's. Exact only if ``counts`` counts every candidate in its own
    cell.
    """
    n = counts.shape[0]
    # integral image of 3 side-by-side copies: wrapping block sums
    ii = np.pad(np.cumsum(np.cumsum(np.tile(counts, (1, 3)), axis=0), axis=1),
                ((1, 0), (1, 0)))

    def _angle(la: np.ndarray, lo: np.ndarray) -> np.ndarray:
        y, x = np.divmod(grid.cell_id_np(la, lo, HIST_RES), n)
        s = np.full(len(la), n - 1)  # the whole grid holds all >= k
        for t in range(n - 2, -1, -1):  # descending: the last hit is the smallest
            y0 = np.maximum(y - t, 0); y1 = np.minimum(y + t + 1, n)
            x0 = x + n - t; x1 = x0 + min(2 * t + 1, n)
            c = ii[y1, x1] - ii[y0, x1] - ii[y1, x0] + ii[y0, x0]
            s = np.where(c >= k, t, s)
        lat_lo = -90.0 + 180.0 * np.maximum(y - s, 0) / n
        lat_hi = -90.0 + 180.0 * np.minimum(y + s + 1, n) / n
        dphi = np.radians(np.maximum(la - lat_lo, lat_hi - la))
        dlam = np.radians(np.minimum((s + 1) * 360.0 / n, 180.0))
        return dphi + np.cos(np.radians(la)) * dlam

    return _angle


def _seed_udf(counts: np.ndarray, k: int, r_cap_m: float, res: int, ellipsoid,
              exact: bool = True):
    """Arrow UDF: (lat, lon) -> struct<r, cells, fcells>: the pass-1
    radius and its cover at ``res`` (empty past ``COVER_BUDGET``), and
    the fallback cover at ``HIST_RES``, in ONE Python stage. ``once``:
    filters that Catalyst infers on the struct's fields would otherwise
    run it twice."""
    a, f = resolve_ellipsoid(ellipsoid)
    inner, outer = hav_bounds(a, f, exact)
    est = _radius_estimator_np(counts, k, r_cap_m, a)
    fallback = _fallback_angle_np(counts, k)

    def seed(la: np.ndarray, lo: np.ndarray) -> pa.Array:
        r = est(la, lo)
        cells = grid.cap_covers(la, lo, (outer * r + HAV_ROUND_M) / a, res, COVER_BUDGET)
        # theta >= half a histogram cell: HAV_ROUND_M is inside outer / inner
        fcells = grid.cap_covers(la, lo, outer / inner * fallback(la, lo), HIST_RES)
        return pa.StructArray.from_arrays(
            [pa.array(r), list_array(*cells), list_array(*fcells)],
            names=["r", "cells", "fcells"])

    return kernel_udf(seed, "struct<r: double, cells: array<bigint>, fcells: array<bigint>>",
                      once=True)


def knn_join(queries: DataFrame, candidates: DataFrame, k: int,
             metric: str = "meter", ellipsoid="WGS-84", exact: bool = True,
             q_id: str = "query_id", q_lat: str = "q_lat", q_lon: str = "q_lon",
             c_lat: str = "lat", c_lon: str = "lon", c_id: str | None = None,
             out: str = "dist", hist: tuple[np.ndarray, int] | None = None) -> DataFrame:
    """Many-to-many kNN join: for every query row, its k nearest
    candidates by exact geodesic distance (``exact=False``:
    Andoyer-Lambert great-circle on the same ellipsoid).

    See the module docstring for the two-pass plan. ``c_id`` gives the
    deterministic tie-break column (recommended; matches the reference's
    index-stable ordering). ``hist``: a precomputed
    :func:`candidate_histogram` of these candidates, for repeated joins.

    Candidate and query rows with null/NaN/out-of-range coordinates are
    ignored: such a query yields no rows.
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

    # join resolution from the candidate-weighted mean density (the radius
    # a typical query needs); covers stay ~3x3 for in-distribution queries.
    # The sphere of radius a has area 4 pi a^2 and half a great circle pi a
    a, f = resolve_ellipsoid(ellipsoid)
    half_globe = math.pi * a
    n_h = grid.nx(HIST_RES)
    occupied = counts[counts > 0].astype(np.float64)
    mean_density = float((occupied ** 2).sum()) / (
        occupied.sum() * 4.0 * half_globe * a / (n_h * n_h))
    r_typ = 1.5 * math.sqrt(2.0 * k / (math.pi * mean_density))
    res = grid.pick_resolution(min(max(r_typ, 1_000.0), half_globe))
    # 30 join cells: the radius of a ~64 x 64-cell (COVER_BUDGET) cover
    # at the equator
    r_cap = min(30 * half_globe / grid.nx(res), half_globe)

    seed = _seed_udf(counts, k, r_cap, res, ellipsoid, exact)
    qr = queries.select(
        F.col(q_id), F.col(q_lat).alias("__qlat"), F.col(q_lon).alias("__qlon"),
    ).filter(_valid_coords("__qlat", "__qlon")).select(
        q_id, "__qlat", "__qlon", seed("__qlat", "__qlon").alias("__s"))

    inner, outer = hav_bounds(a, f, exact)
    hav = haversine_m("__qlat", "__qlon", c_lat, c_lon, radius=a)
    if exact:
        dist = vincenty_udf(ellipsoid, once=True)(
            F.col("__qlat"), F.col("__qlon"), F.col(c_lat), F.col(c_lon))
    else:
        dist = great_circle_m("__qlat", "__qlon", c_lat, c_lon, a, f)
    order_tail = [F.col(c_id).asc()] if c_id else [F.col(c_lat).asc(), F.col(c_lon).asc()]
    w = Window.partitionBy(q_id).orderBy(F.col(out).asc(), *order_tail)
    cols = [q_id, *(c for c in candidates.columns if c != out)]
    q_cols = [q_id, "__qlat", "__qlon"]

    def _top_k(rows: DataFrame, closed) -> DataFrame:
        # window columns cannot sit in a filter: select, then filter
        return (rows.withColumn(out, dist)
                .select("*", F.row_number().over(w).alias("__rn"), closed.alias("__closed"))
                .filter((F.col("__rn") <= k) & F.col("__closed")).select(*cols, out))

    # pass 1: density-seeded radius. A query's closure count is the same
    # in the window of its ranked rows and in the aggregate that picks
    # the open queries, so each query is answered by exactly one pass
    j1 = _cover_join(qr, [*q_cols, F.col("__s.r").alias("__r")], F.col("__s.cells"),
                     candidates, res, c_lat, c_lon)
    in_disk = hav <= F.col("__r") * inner - HAV_ROUND_M
    top1 = _top_k(j1.filter(hav <= F.col("__r") * outer + HAV_ROUND_M),
                  F.count_if(in_disk).over(Window.partitionBy(q_id)) >= k)
    # ids of the closed queries: at most one row per query, broadcast
    # like the query side
    closed = F.broadcast(j1.filter(in_disk).groupBy(q_id).count()
                         .filter(F.col("count") >= k).select(q_id))

    # pass 2: the open queries, at the histogram-guaranteed angle
    j2 = _cover_join(qr.join(closed, on=q_id, how="left_anti"), q_cols,
                     F.col("__s.fcells"), candidates, HIST_RES, c_lat, c_lon)
    kth = F.nth_value("__hav", k).over(Window.partitionBy(q_id).orderBy("__hav")
                                       .rowsBetween(Window.unboundedPreceding,
                                                    Window.unboundedFollowing))
    # the k-th distance is at most (hk + HAV_ROUND_M) / inner
    top2 = _top_k(j2.withColumn("__hav", hav).withColumn("__hk", kth)
                  .filter(F.col("__hav") <= (F.col("__hk") + HAV_ROUND_M) * (outer / inner)
                          + HAV_ROUND_M),
                  F.lit(True))

    result = top1.unionByName(top2)
    return result.withColumn(out, F.col(out) * unit_factor(metric))


def geodesic_knn(df: DataFrame, point: tuple[float, float], k: int,
                 metric: str = "meter", ellipsoid="WGS-84",
                 lat_col: str = "lat", lon_col: str = "lon",
                 id_col: str | None = None, out: str = "dist",
                 hist: tuple[np.ndarray, int] | None = None) -> DataFrame:
    """k nearest rows to ``point`` by exact geodesic distance, sorted
    ascending (reference contract distance.py:463-540 incl. the
    k-validation at :520-522).

    Thin wrapper over :func:`knn_join` with a single broadcast query row
    — one plan, no per-round driver synchronization.
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
        c_lat=lat_col, c_lon=lon_col, c_id=id_col, out=out, hist=hist,
    )
    order = [F.col(out).asc()] + ([F.col(id_col).asc()] if id_col else [])
    return res.drop("__q").orderBy(*order)
