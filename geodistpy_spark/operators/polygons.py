"""Point-in-polygon spatial join + raster<->vector zonal assignment.

One plan for every polygon-set size, batch or streaming:
  1. ring prep in one Arrow UDF over the polygon table (:func:`_prep_ring`
     per ring): unwrap the ring, close polar caps, pick a per-ring cover
     resolution and classify its conservative cell cover — no
     driver-side polygon state,
  2. one (res, cell) equi-join of each point's ancestor cells against
     the exploded cover pairs, which carry the ring arrays — an
     integer-key join, no geometry at this stage. Spark's planner
     broadcasts the pair side when it is small (the north rule's
     "broadcast of small polygon sets") and shuffles it otherwise,
  3. exact refine: one Arrow UDF ray-casts each candidate against the
     ring on its row, reading every row's ring as a slice of the
     batch's flat ring values, so the edge loop runs over the longest
     ring, vectorized over the batch's points.

Both UDFs are :func:`~geodistpy_spark.functions.udfs.kernel_udf`.

Semantics: planar even-odd ray-cast in an unwrapped (lon, lat) frame per
polygon — rings crossing the antimeridian are unwrapped relative to
their first vertex; polar-cap rings (unwrapped lon span ~360) are closed
through the pole so the cap interior is the region poleward of the ring.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import grid
from ..constants import EARTH_RADIUS_M
from ..functions.expressions import cell_id_col, normalize_lon
from ..functions.udfs import kernel_udf


def _unwrap(lons: np.ndarray, ref: float) -> np.ndarray:
    return np.mod(lons - ref + 180.0, 360.0) - 180.0


def _map_lon_into_ring(plon_u: np.ndarray, ring_lon_min: float | np.ndarray) -> np.ndarray:
    """Map unwrapped point longitudes into [ring_min, ring_min + 360).

    A ring (possibly pole-encircling) occupies one 360-wide window in its
    unwrapped frame; placing every point in that window preserves
    inside/outside for ordinary polygons (width < 360 ⇒ the extra strip
    is edge-free) and aligns all longitudes for caps.
    """
    return ring_lon_min + np.mod(plon_u - ring_lon_min, 360.0)


def _raycast(vlat: np.ndarray, vlon_u: np.ndarray,
             start: int | np.ndarray, n: int | np.ndarray,
             plat: np.ndarray, plon: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray-cast of mapped points: point ``i`` against
    the prepped ring ``vlat/vlon_u[start[i]:start[i] + n[i]]`` (scalar
    ``start``/``n``: every point against one ring). The edge loop runs
    over the longest ring, vectorized over points; a horizontal edge
    (``yi == yj``) never satisfies ``cond``."""
    acc = np.zeros(len(plat), dtype=bool)
    for e in range(int(np.max(n, initial=0))):
        i = start + np.minimum(e, n - 1)
        j = start + np.where(e + 1 < n, e + 1, 0)
        xi, yi, xj, yj = vlon_u[i], vlat[i], vlon_u[j], vlat[j]
        cond = (e < n) & ((yi > plat) != (yj > plat))
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (xj - xi) * (plat - yi) / (yj - yi) + xi
        acc ^= cond & (plon < xint)
    return acc


def _classify_cover(vlat: np.ndarray, vlon_u: np.ndarray, ref: float,
                    ys: np.ndarray, xs: np.ndarray, n: int) -> np.ndarray:
    """Per cover cell: 0 = fully outside the ring, 1 = fully inside,
    2 = boundary (a ring edge may cross the cell).

    Conservative: a cell is 'boundary' whenever ANY edge's AABB touches
    the closed cell rect (cheap vectorized test; over-marks diagonal-edge
    neighborhoods, never under-marks). If no edge touches the cell, every
    point of the closed cell shares the cell CENTER's inside/outside
    status, so interior cells skip the per-point refine entirely and
    outside cells never reach the candidate join — Arrow/refine volume
    scales with polygon PERIMETER cells, not area cells.
    """
    w_lat = 180.0 / n
    w_lon = 360.0 / n
    cy = -90.0 + (ys + 0.5) * w_lat
    cx = _map_lon_into_ring(
        _unwrap(-180.0 + (xs + 0.5) * w_lon, ref), float(vlon_u.min()))
    # tiny inflation: an edge grazing a rect corner must classify as
    # touching even under float roundoff (uniformity needs the OPEN
    # complement of every edge)
    eps = 1e-12 * max(w_lon, w_lat)
    bx0, bx1 = cx - w_lon / 2.0 - eps, cx + w_lon / 2.0 + eps
    by0, by1 = cy - w_lat / 2.0 - eps, cy + w_lat / 2.0 + eps
    # the shortcut's uniformity argument needs the refine UDF's lon
    # mapping to be continuous across the cell: only cells whose rect
    # lies wholly inside the 360-wide mapping window qualify; straddlers
    # (possible when a near-global ring's padded cover wraps) stay
    # 'boundary' so the per-point refine keeps deciding them
    lo_min = float(vlon_u.min())
    in_window = (bx0 >= lo_min) & (bx1 < lo_min + 360.0 - 1e-9)
    # exact segment-rect intersection (vectorized Liang-Barsky over
    # cells x edges): an AABB-only test over-marks every diagonal
    # edge's whole bounding rect as boundary
    ex1 = vlon_u
    ey1 = vlat
    dx = (np.roll(vlon_u, -1) - vlon_u)[None, :]
    dy = (np.roll(vlat, -1) - vlat)[None, :]
    t0 = np.zeros((len(ys), len(vlat)))
    t1 = np.ones_like(t0)
    ok = np.ones(t0.shape, dtype=bool)
    for p, q in (
        (np.broadcast_to(-dx, t0.shape), ex1[None, :] - bx0[:, None]),
        (np.broadcast_to(dx, t0.shape), bx1[:, None] - ex1[None, :]),
        (np.broadcast_to(-dy, t0.shape), ey1[None, :] - by0[:, None]),
        (np.broadcast_to(dy, t0.shape), by1[:, None] - ey1[None, :]),
    ):
        par = p == 0.0
        ok &= ~(par & (q < 0.0))
        with np.errstate(divide="ignore", invalid="ignore"):
            t = q / p
        t0 = np.where(p < 0.0, np.maximum(t0, t), t0)
        t1 = np.where(p > 0.0, np.minimum(t1, t), t1)
    touches = (ok & (t0 <= t1)).any(axis=1)
    out = np.full(len(ys), 2, dtype=np.int8)
    quiet = ~touches & in_window
    if quiet.any():
        inside = _raycast(vlat, vlon_u, 0, len(vlat), cy[quiet], cx[quiet])
        out[quiet] = np.where(inside, 1, 0)
    return out


def _cover_entries(vlat: np.ndarray, vlon_u: np.ndarray, ref: float,
                   res: int) -> tuple[np.ndarray, np.ndarray]:
    """(cell_ids, full_flags) — classified conservative cover of one
    prepped ring at ``res``: all cells intersecting the unwrapped bbox
    inflated by one cell, MINUS cells proven fully outside; ``full``
    marks cells proven fully inside (their points skip the per-point
    refine)."""
    n = 1 << res
    la0, la1, lo0, lo1 = vlat.min(), vlat.max(), vlon_u.min(), vlon_u.max()
    pad_lat = 180.0 / n
    y0 = max(int((la0 - pad_lat + 90.0) / 180.0 * n), 0)
    y1 = min(int((la1 + pad_lat + 90.0) / 180.0 * n), n - 1)
    x0f = lo0 - 360.0 / n
    x1f = lo1 + 360.0 / n
    span_cells = min(int(math.ceil((x1f - x0f) / (360.0 / n))) + 1, n)
    # map unwrapped lon back to absolute for cell x
    x_start = int(math.floor((((x0f + ref) + 180.0) % 360.0) / 360.0 * n))
    ys, xs = np.meshgrid(np.arange(y0, y1 + 1),
                         (x_start + np.arange(span_cells)) % n,
                         indexing="ij")
    ys, xs = ys.ravel(), xs.ravel()
    status = _classify_cover(vlat, vlon_u, ref, ys, xs, n)
    keep = status > 0
    return ys[keep].astype(np.int64) * n + xs[keep], status[keep] == 1


def _prep_ring(lat, lon):
    """One ring's prep: unwrap it, close a polar cap through the pole,
    pick its cover resolution and classify its cover at it.

    Returns (res, vlat, vlon_u, ref, cells, full): the ring's vertices in
    its unwrapped frame (``ref`` = first-vertex longitude) and
    :func:`_cover_entries` at ``res``.
    """
    vlat = np.asarray(lat, dtype=float)
    ref = float(lon[0])
    u = _unwrap(np.asarray(lon, dtype=float), ref)
    # cumulative unwrap so consecutive vertices never jump > 180
    for i in range(1, len(u)):
        d = u[i] - u[i - 1]
        if d > 180.0:
            u[i:] -= 360.0
        elif d < -180.0:
            u[i:] += 360.0
    # pole-encircling detection: total longitudinal winding of the closed
    # ring is ±360 for a cap, 0 for an ordinary polygon
    closing = np.mod(u[0] - u[-1] + 180.0, 360.0) - 180.0
    winding = (u[-1] - u[0]) + closing
    if abs(winding) > 180.0:  # polar cap: close through the nearer pole
        pole = 90.0 if vlat.mean() > 0 else -90.0
        # continue the winding to the pole so the two added meridional
        # edges seal the cap (the lat==pole edge is skipped by ray-cast)
        u_end = u[-1] + closing
        vlat = np.concatenate([vlat, [pole, pole]])
        u = np.concatenate([u, [u_end, u[0]]])
    # one resolution per ring, ~16 cells across its bbox (a shared one
    # would let the largest ring, e.g. a polar cap, blow up every small
    # ring's cover slop). Finer cells classify more of the cover as
    # provably interior (no per-point refine) and prune outside cells
    # tighter (fewer false candidates through the join)
    span = max(float(np.ptp(vlat)), float(np.ptp(u)), 1e-3)
    res = min(max(int(math.floor(math.log2(360.0 / span))) + 4, 0), grid.MAX_RES)
    cells, full = _cover_entries(vlat, u, ref, res)
    return res, vlat, u, ref, cells, full


_PREP_TYPE = pa.struct([
    ("__res", pa.int32()), ("vlat", pa.list_(pa.float64())),
    ("vlon_u", pa.list_(pa.float64())), ("ref", pa.float64()),
    ("cover", pa.list_(pa.int64())), ("cover_full", pa.list_(pa.bool_())),
])


def _prep(lat: pa.ListArray, lon: pa.ListArray) -> pa.Array:
    """Ring vertex lists -> :func:`_prep_ring` per ring, as one struct per
    row (an explicit Arrow type: a worker has no session to parse DDL).
    A null ring or one of < 3 vertices has no interior: null row."""
    off = lat.offsets.to_numpy()
    la = lat.values.to_numpy(zero_copy_only=False)
    lo = lon.values.to_numpy(zero_copy_only=False)
    ok = lat.is_valid().to_numpy(zero_copy_only=False) & (np.diff(off) >= 3)
    return pa.array([_prep_ring(la[a:b], lo[a:b]) if keep else None
                     for a, b, keep in zip(off[:-1], off[1:], ok)], type=_PREP_TYPE)


def _refine(lat: np.ndarray, lon: np.ndarray, vlat: pa.ListArray,
            vlon_u: pa.ListArray, ref: np.ndarray, full: np.ndarray) -> np.ndarray:
    """(point, its candidate's ring, full) -> inside, even-odd ray-cast
    of each row against its own ring slice of the batch's flat vertices.

    ``full`` rows (cover cells proven fully interior) short-circuit to
    True without touching the edge loop: Python compute follows
    boundary-cell rows only, while the plan stays a SINGLE candidate
    scan (a full/boundary union split would re-scan and re-join the
    whole point side)."""
    off = vlat.offsets.to_numpy()
    start, n = off[:-1] - off[0], np.diff(off)
    ya = vlat.flatten().to_numpy(zero_copy_only=False)
    xa = vlon_u.flatten().to_numpy(zero_copy_only=False)
    inside = full > 0
    todo = ~inside
    plon = _map_lon_into_ring(_unwrap(lon[todo], ref[todo]),
                              np.minimum.reduceat(xa, start)[todo])
    inside[todo] = _raycast(ya, xa, start[todo], n[todo], lat[todo], plon)
    return inside


def _pip_hits(pts: DataFrame, polygons: DataFrame,
              lat_col: str, lon_col: str) -> DataFrame:
    """(point rows x containing poly_id) by the module docstring's plan:
    one polygon scan through the ring-prep UDF, ONE point scan (an
    ancestor cell per ACTIVE res), one equi-join on (res, cell), one
    candidate scan into the refine UDF."""
    # once: the struct is read field by field, and Catalyst would
    # otherwise inline the UDF into every field
    prep = kernel_udf(_prep, "struct<__res: int, vlat: array<double>, "
                      "vlon_u: array<double>, ref: double, cover: array<bigint>, "
                      "cover_full: array<boolean>>", once=True)
    prepped = polygons.select(
        "poly_id", prep(F.col("ring.lat"), F.col("ring.lon")).alias("__p"),
    ).where(F.col("__p").isNotNull()).select("poly_id", "__p.*")
    # ring arrays ride on the exploded pair relation: its volume is
    # polygons x cover cells (never points), and carrying them here
    # means ONE point-side join and ONE candidate scan — a separate
    # rings join would consume the candidate relation twice
    pairs = prepped.select(
        "poly_id", "__res", "vlat", "vlon_u", "ref",
        F.explode(F.arrays_zip(
            F.col("cover").alias("c"), F.col("cover_full").alias("f"),
        )).alias("__cf"),
    ).select("poly_id", "__res", "vlat", "vlon_u", "ref",
             F.col("__cf.c").alias("__cell"), F.col("__cf.f").alias("__full"))
    # the only driver round trip: WHICH resolutions are active. One int
    # per polygon in one single-stage job; a distinct() would add an
    # exchange and a second job
    res_list = sorted({r[0] for r in prepped.select("__res").collect()})
    if not res_list:
        # no usable ring: the empty result with the operator's schema
        # (an empty F.array() below would fail analysis at the explode)
        return pts.where(F.lit(False)).withColumn(
            "poly_id", F.lit(None).cast("long"))
    cells = F.array(*[
        F.struct(F.lit(r).cast("int").alias("r"),
                 cell_id_col(lat_col, lon_col, r).alias("c"))
        for r in res_list
    ])
    ptsx = (
        pts.withColumn("__rc", F.explode(cells))
        .withColumn("__res", F.col("__rc.r"))
        .withColumn("__cell", F.col("__rc.c"))
        .drop("__rc")
    )
    cand = ptsx.join(pairs, on=["__res", "__cell"], how="inner") \
        .drop("__res", "__cell")
    refine = kernel_udf(_refine, "boolean")
    hit = cand.filter(refine(F.col(lat_col), F.col(lon_col), F.col("vlat"),
                             F.col("vlon_u"), F.col("ref"), F.col("__full")))
    return hit.drop("vlat", "vlon_u", "ref", "__full")


def point_in_polygon_join(points: DataFrame, polygons: DataFrame,
                          lat_col: str = "lat", lon_col: str = "lon",
                          how: str = "inner",
                          point_id_cols: list[str] | None = None) -> DataFrame:
    """Join each point to the polygon(s) containing it.

    ``polygons``: (poly_id, name?, ring: array<struct<lat,lon>>).
    ``how='left'`` keeps non-matching points with null poly_id (used by
    zonal stats to count unassigned tiles). On the left path,
    ``point_id_cols`` names columns forming a unique per-row key: hits
    are joined back on those key columns directly (null-safe equality)
    and no localCheckpoint materialization happens — prefer this
    whenever a natural key exists (at 10^12 rows the checkpoint is the
    dominant cost; without keys the nondeterministic-id + checkpoint
    fallback pins row identity against task retries).

    One plan for every polygon-set size (see the module docstring):
    building it runs one Spark job, the list of active cover resolutions
    (plus the localCheckpoint above on a keyless left join); no ring is
    collected driver-side.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"unsupported how={how!r}")
    # surrogate row id: the left join below must be per-ROW (duplicate
    # coordinates would multiply and null-valued columns never equal
    # themselves under a join on all point columns). With
    # point_id_cols the hits join back on the KEY COLUMNS THEMSELVES:
    # no materialization and no hashed surrogate (a 64-bit hash of the
    # key is NOT injective — at the 10^12-row scale this path exists
    # for, birthday collisions are certain and would silently mis-assign
    # poly_id).
    pts = points
    if how == "left" and not point_id_cols:
        # monotonically_increasing_id is NONdeterministic: base and hit
        # below both read this plan, and a task retry / AQE re-shuffle
        # could assign different ids per evaluation, silently
        # mis-joining. localCheckpoint pins one materialized assignment
        # for both subtrees (eager: runs a job here, acceptable fallback
        # when no natural key exists).
        pts = pts.withColumn(
            "__pt", F.monotonically_increasing_id()).localCheckpoint()

    hit = _pip_hits(pts, polygons, lat_col, lon_col)
    if how == "inner":
        return hit
    if point_id_cols:
        import functools
        import operator

        keyed = [f"__k_{i}" for i in range(len(point_id_cols))]
        hit_k = hit.select(
            *[F.col(c).alias(a) for c, a in zip(point_id_cols, keyed)],
            "poly_id")
        # null-safe equality: a null key component still identifies its row
        cond = functools.reduce(operator.and_, [
            F.col(c).eqNullSafe(F.col(a))
            for c, a in zip(point_id_cols, keyed)
        ])
        return pts.join(hit_k, cond, "left").drop(*keyed)
    return pts.join(hit.select("__pt", "poly_id"), on="__pt", how="left").drop("__pt")


def geodesic_buffer(points: DataFrame, radius, metric: str = "meter",
                    n_vertices: int = 32, exact: bool = False,
                    ellipsoid="WGS-84",
                    lat_col: str = "lat", lon_col: str = "lon",
                    out: str = "ring") -> DataFrame:
    """Per-row circular buffer polygon: ``out`` = array<struct<lat,lon>>
    of ``n_vertices`` spherical-destination points at equal bearings
    around the row's coordinate — the geofence-CONSTRUCTION primitive
    (point + radius -> zone ring consumable by
    :func:`point_in_polygon_join` or :func:`polygon_area`).

    Default mode is pure whole-stage-codegen column math (``transform``
    over a literal bearing sequence + the spherical direct formula) —
    no UDFs, no shuffle, no driver state; rings wrap the antimeridian
    and encircle poles naturally (the ray-cast join's unwrap/cap-closure
    handles both). Sphere-exact radii are within ~0.6% of the geodesic;
    ``exact=True`` swaps in the Vincenty-direct kernel (one Arrow UDF,
    vertices at the exact ellipsoidal radius).
    """
    from ..constants import unit_factor
    from ..functions.expressions import destination_sphere

    radius_m = float(radius) / unit_factor(metric)
    if radius_m < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    if n_vertices < 3:
        raise ValueError(f"n_vertices must be >= 3, got {n_vertices}")
    step = 360.0 / n_vertices
    if not exact:
        ring = F.transform(
            F.sequence(F.lit(0), F.lit(n_vertices - 1)),
            lambda i: destination_sphere(
                F.col(lat_col), F.col(lon_col),
                i.cast("double") * F.lit(step), F.lit(radius_m)),
        )
        return points.withColumn(out, ring)

    from .. import kernels as K
    from ..constants import resolve_ellipsoid
    from ..functions.udfs import points_array

    a, f = resolve_ellipsoid(ellipsoid)
    bearings = np.arange(n_vertices) * step

    def ring(lat, lon):
        la, lo, _ = K.vincenty_direct(
            np.repeat(lat, n_vertices), np.repeat(lon, n_vertices),
            np.tile(bearings, len(lat)), np.full(len(lat) * n_vertices, radius_m),
            a=a, f=f)
        return points_array(la.reshape(-1, n_vertices), lo.reshape(-1, n_vertices))

    udf = kernel_udf(ring, "array<struct<lat: double, lon: double>>")
    return points.withColumn(out, udf(F.col(lat_col), F.col(lon_col)))


def polygon_area(polygons: DataFrame, out: str = "area_km2") -> DataFrame:
    """Spherical shoelace area per polygon: (poly_id, ``out``) in km².

    Fully relational — posexplode + window-based cumulative longitude
    unwrap (the same antimeridian/polar-cap handling as the ray-cast
    join: rings whose unwrapped winding exceeds 180° are closed through
    the nearer pole) + the trapezoidal sin(lat)–lon edge model
    A = R²/2 · |Σ Δλ (sin φ₁ + sin φ₂)| on the R=6371009 sphere. Exact
    for graticule-aligned edges (rectangles, polar caps); O(|edge|²)
    edge-model approximation for oblique edges. Per-edge terms round to
    integer m² BEFORE the sum, so the aggregate is addition-order-
    independent (bit-reproducible; mirrored 1:1 by the SQL oracle).
    No UDFs, no driver collection: one window chain + one groupBy.
    """
    w = Window.partitionBy("poly_id").orderBy("idx")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # full-frame ordered window: deterministic "first vertex" lookups
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    v0 = polygons.select(
        "poly_id", F.posexplode("ring").alias("idx", "v")
    ).select("poly_id", "idx",
             F.col("v.lat").alias("vlat"), F.col("v.lon").alias("vlon"))
    ref = v0.withColumn("ref", F.first("vlon").over(w))
    rel = ref.withColumn(
        "rlon", normalize_lon(F.col("vlon") - F.col("ref")))
    dd = rel.withColumn(
        "dd", F.col("rlon") - F.coalesce(F.lag("rlon").over(w), F.col("rlon")))
    u = dd.withColumn(
        "ulon",
        F.col("rlon") - 360.0 * F.sum(
            F.when(F.col("dd") > 180.0, 1)
            .when(F.col("dd") < -180.0, -1).otherwise(0)).over(wcum))

    agg = u.groupBy("poly_id").agg(
        F.max("idx").alias("n"),
        F.avg("vlat").alias("mlat"),
        F.max_by("ulon", "idx").alias("ulast"),
        F.min_by("ulon", "idx").alias("u0"),
        F.min_by("vlat", "idx").alias("flat"),
    ).withColumn(
        "closing",
        normalize_lon(F.col("u0") - F.col("ulast")),
    ).withColumn(
        "pole", F.when(F.col("mlat") > 0.0, 90.0).otherwise(-90.0)
    ).withColumn(
        "is_cap", F.abs(F.col("ulast") - F.col("u0") + F.col("closing")) > 180.0)

    # pole-encircling rings close through the pole with THREE extra
    # vertices: the wrapped first vertex (finishing the ring's full
    # winding at its own latitude), then up to the pole, across, and the
    # final meridional descent comes from the cyclic edge back to vertex
    # 0 (Δλ = 0). A diagonal ring-end -> pole closure would undercount
    # the cap (wrong sin-lat weight on the missing ring segment).
    caps = agg.filter("is_cap")
    extra = caps.select(
        "poly_id", (F.col("n") + 1).alias("idx"),
        F.col("flat").alias("vlat"), (F.col("ulast") + F.col("closing")).alias("ulon"),
    ).unionByName(caps.select(
        "poly_id", (F.col("n") + 2).alias("idx"),
        F.col("pole").alias("vlat"), (F.col("ulast") + F.col("closing")).alias("ulon"),
    )).unionByName(caps.select(
        "poly_id", (F.col("n") + 3).alias("idx"),
        F.col("pole").alias("vlat"), F.col("u0").alias("ulon")))
    verts = u.select("poly_id", "idx", "vlat", "ulon").unionByName(extra)

    # cyclic edge pairing: lead within the ring, last edge wraps to the
    # first vertex
    paired = (
        verts.withColumn("nlat", F.coalesce(F.lead("vlat").over(w),
                                            F.first("vlat").over(wfull)))
        .withColumn("nlon", F.coalesce(F.lead("ulon").over(w),
                                       F.first("ulon").over(wfull)))
    )
    term = (
        F.radians(F.col("nlon") - F.col("ulon"))
        * (F.sin(F.radians("vlat")) + F.sin(F.radians("nlat")))
        * F.lit(EARTH_RADIUS_M * EARTH_RADIUS_M / 2.0)
    )
    return (
        paired.withColumn("__t", F.round(term, 0).cast("long"))
        .groupBy("poly_id")
        .agg(F.sum("__t").alias("__s"))
        .select("poly_id",
                F.round(F.abs(F.col("__s")) / 1e6, 3).alias(out))
    )


def zonal_stats(raster: DataFrame, polygons: DataFrame,
                value_col: str = "value",
                lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Raster->vector zonal assignment + aggregate: each tile joined to
    its containing zone, then per-zone sum/avg/count/min/max of
    ``value_col`` (SURVEY.md §2.4: cell-id equi-join + groupBy(zone)).
    """
    assigned = point_in_polygon_join(raster, polygons, lat_col=lat_col, lon_col=lon_col)
    return assigned.groupBy("poly_id").agg(
        F.count("*").alias("n_tiles"),
        F.sum(value_col).alias("sum_value"),
        F.avg(value_col).alias("avg_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )
