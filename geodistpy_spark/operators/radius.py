"""Radius queries: cell-cover prefilter + exact geodesic refine.

This is the engine's rewrite of the reference's distance-predicate
theta-join (``point_in_radius``, distance.py:390-457 — 1 x n with a
boundary-INCLUSIVE predicate, distance.py:453) into an equi-join on
covering cell ids followed by an exact Vincenty/Karney refine. The
reference itself punts on this ("consider pre-filtering with a bounding
box", docs/spatial-queries.md:286-289); here it IS the operator.

Scale notes (100 TB): the prefilter is an `isin`/broadcast semi-join on
integer cell ids — pushed to the parquet scan as an IN filter when the
candidate table is pre-indexed and partitioned by cell; the refine UDF
only sees covered rows. The many-center variant shuffles both sides on
cell id (AQE skew-join splits dense urban cells; pass ``salt`` to
additionally salt the probe side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import grid
from ..constants import HAV_ROUND_M, hav_bounds, resolve_ellipsoid, unit_factor
from ..functions.expressions import cell_id_col, great_circle_m, haversine_m
from ..functions.udfs import kernel_udf, list_array, vincenty_udf


def _hav_band(radius_m: float, ellipsoid, exact: bool) -> tuple[float, float, float, float]:
    """``(a, f, lo, hi)``: a row with ``haversine_m(radius=a) <= lo`` is
    within ``radius_m``, one with ``> hi`` is outside it
    (:func:`~geodistpy_spark.constants.hav_bounds`)."""
    a, f = resolve_ellipsoid(ellipsoid)
    inner, outer = hav_bounds(a, f, exact)
    return a, f, inner * radius_m - HAV_ROUND_M, outer * radius_m + HAV_ROUND_M


def _refine(rows: DataFrame, radius, metric: str, ellipsoid, exact: bool,
            qlat, qlon, lat, lon, out: str) -> DataFrame:
    """Rows within ``radius`` (boundary inclusive) with the distance in
    ``out``. Exact mode: the codegen prefilter ``hav <= hi`` keeps the
    cover box's corner area out of the Arrow kernel. ``exact=False``:
    only rows in the ``(lo, hi]`` band evaluate Andoyer-Lambert, never as
    a standalone filter: a filter fused into a join's codegen gets no
    common-subexpression elimination, and AL's sigma subtree is
    referenced six times (a measured 15x wall blowup on a 500 km,
    2,000-query join); haversine has no repeated subtrees."""
    radius_m = float(radius) / unit_factor(metric)
    a, f, lo, hi = _hav_band(radius_m, ellipsoid, exact)
    hav = haversine_m(qlat, qlon, lat, lon, radius=a)
    if exact:
        d = vincenty_udf(ellipsoid, once=True)(qlat, qlon, lat, lon)
        return (rows.filter(hav <= hi).withColumn(out, d * unit_factor(metric))
                .filter(F.col(out) <= float(radius)))
    d = great_circle_m(qlat, qlon, lat, lon, a, f) * unit_factor(metric)
    # the band already enforces out <= radius with the identical float
    # expression; a tail filter would re-inline the AL tree
    return rows.filter((hav <= lo) | ((hav <= hi) & (d <= float(radius)))).withColumn(out, d)


def point_in_radius(df: DataFrame, center: tuple[float, float], radius,
                    metric: str = "meter", ellipsoid="WGS-84",
                    lat_col: str = "lat", lon_col: str = "lon",
                    cell_col: str | None = None, res: int | None = None,
                    exact: bool = True, out: str = "dist") -> DataFrame:
    """All rows within ``radius`` of ``center`` (boundary inclusive),
    with distances in ``metric`` units.

    One center -> the cover set is generated driver-side (cell ids only,
    never rows) and becomes an ``IN`` predicate the optimizer can push
    into the scan. If the table is pre-indexed (``cell_col`` at ``res``)
    the existing column is used; otherwise cell ids are computed on the
    fly as column math.
    """
    clat, clon = float(center[0]), float(center[1])
    if not -90.0 <= clat <= 90.0 or not -180.0 <= clon <= 180.0:
        raise ValueError(f"center out of range: {center}")
    radius_m = float(radius) / unit_factor(metric)
    if radius_m < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")

    a, _, _, hi = _hav_band(radius_m, ellipsoid, exact)
    cres, cover = grid.cap_cover(clat, clon, hi / a, res=res)
    cell = F.col(cell_col) if cell_col else cell_id_col(lat_col, lon_col, cres)
    return _refine(df.filter(cell.isin(cover)), radius, metric, ellipsoid, exact,
                   F.lit(clat), F.lit(clon), F.col(lat_col), F.col(lon_col), out)


def _cover_join(q: DataFrame, keep: list, cover, candidates: DataFrame, res: int,
                c_lat: str, c_lon: str, on: tuple[str, ...] = ()) -> DataFrame:
    """Every (query row, candidate) pair whose candidate lies in one of
    the query's cover cells: the ``keep`` columns of ``q`` plus
    ``__cell``, one row per element of ``cover`` (an array<long> Column
    over ``q`` of cell ids at ``res``), equi-joined with the candidates
    on ``__cell`` and the ``on`` keys both sides carry."""
    q = q.select(*keep, F.explode(cover).alias("__cell"))
    c = candidates.withColumn("__cell", cell_id_col(c_lat, c_lon, res))
    return q.join(c, on=["__cell", *on])


def radius_join(queries: DataFrame, candidates: DataFrame, radius,
                metric: str = "meter", ellipsoid="WGS-84",
                q_id: str = "query_id", q_lat: str = "q_lat", q_lon: str = "q_lon",
                c_lat: str = "lat", c_lon: str = "lon",
                res: int | None = None, exact: bool = True,
                salt: int | None = None, out: str = "dist") -> DataFrame:
    """Many-to-many radius join: every (query, candidate) pair with
    geodesic distance <= radius (boundary inclusive).

    Plan: queries -> per-query cover cells (vectorized UDF) ->
    :func:`_cover_join` with the candidates (a query's cover never
    repeats a cell and a candidate sits in one cell, so no pair repeats)
    -> exact refine.

    ``salt``: replicate the query side salt-ways and split candidate rows
    among salts — for dense-cell skew beyond what AQE skew-join handles.

    Polar note: every cover row carries its own longitude span
    (:func:`~geodistpy_spark.grid.cap_covers`) — full rows only where
    the cap genuinely spans all longitudes — so polar queries stay
    proportional to the true cap area (which near a pole is inherently
    many lat/lon cells; that distortion is the quad grid's trade-off vs
    H3/S2). A query with a null or NaN coordinate has an empty cover and
    yields no rows.
    """
    radius_m = float(radius) / unit_factor(metric)
    if radius_m < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")  # same contract as point_in_radius
    cres = res if res is not None else grid.pick_resolution(radius_m)
    a, _, _, hi = _hav_band(radius_m, ellipsoid, exact)

    q = queries.select(F.col(q_id), F.col(q_lat).alias("__qlat"), F.col(q_lon).alias("__qlon"))
    c = candidates
    on: tuple[str, ...] = ()
    if salt and salt > 1:
        q = q.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        c = c.withColumn("__salt", F.pmod(F.hash(F.col(c_lat), F.col(c_lon)), F.lit(salt)))
        on = ("__salt",)

    cover = kernel_udf(lambda la, lo: list_array(*grid.cap_covers(la, lo, hi / a, cres)),
                       "array<bigint>")
    joined = _cover_join(q, q.columns, cover("__qlat", "__qlon"), c, cres, c_lat, c_lon, on)
    return (_refine(joined, radius, metric, ellipsoid, exact,
                    "__qlat", "__qlon", c_lat, c_lon, out)
            .drop("__cell", "__qlat", "__qlon", "__salt"))
