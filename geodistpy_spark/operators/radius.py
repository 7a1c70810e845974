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

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import grid
from ..constants import unit_factor
from ..functions.expressions import cell_id_col, great_circle_m, haversine_m
from ..functions.udfs import vincenty_udf


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

    cres, cover = grid.cell_cover(clat, clon, radius_m, res=res)
    cell = F.col(cell_col) if cell_col else cell_id_col(lat_col, lon_col, cres)
    pre = df.filter(cell.isin(cover))
    hav = haversine_m(F.lit(clat), F.lit(clon), F.col(lat_col), F.col(lon_col))
    m = _prefilter_margin_m(radius_m)
    if exact:
        # conservative codegen prefilter (see _prefilter_margin_m):
        # provably-outside rows — the cover box's corner area (~27% of
        # candidates) — never reach the Arrow kernel
        pre = pre.filter(hav <= radius_m + m)
        d = vincenty_udf(ellipsoid, once=True)(F.lit(clat), F.lit(clon), F.col(lat_col), F.col(lon_col))
        return (
            pre.withColumn(out, d * unit_factor(metric))
            .filter(F.col(out) <= float(radius))
        )
    # approximate mode: decide membership with the haversine BAND so the
    # expensive AL tree only evaluates (short-circuited) on the ~2%-wide
    # boundary band — Catalyst pushes this predicate below the projection
    # where no subexpression elimination exists (see _prefilter_margin_m)
    d = great_circle_m(F.lit(clat), F.lit(clon), F.col(lat_col), F.col(lon_col))
    keep = (hav <= radius_m - m) | (
        (hav <= radius_m + m) & (d * unit_factor(metric) <= float(radius)))
    # band filter already enforces out <= radius with the identical
    # float expression; a tail filter would re-inline the AL tree
    return pre.filter(keep).withColumn(out, d * unit_factor(metric))


def _prefilter_margin_m(radius_m: float) -> float:
    """Margin making the spherical-haversine prefilter CONSERVATIVE:
    haversine on the R=6371009 sphere is within 0.56% of the WGS-84
    geodesic (the O(f*s) flattening bound), so 1e-2 * r + 5 km is ~2x
    that bound at every radius — a row rejected here is provably
    outside r.

    Why haversine and NOT the Andoyer-Lambert column (which is 20x more
    accurate): a filter fused into a join's codegen consume path gets NO
    common-subexpression elimination, and AL's sigma subtree is
    referenced six times — every joined row paid ~50 StrictMath calls,
    a measured 15x wall blowup on the 500 km 2,000-query scaling job.
    Haversine is 6 trig calls with no repeated subtrees; prefilter
    accuracy only moves the margin, never correctness."""
    return radius_m * 1e-2 + 5_000.0


def _cover_cells_udf(radius_m: float, res: int):
    """Pandas UDF: (lat, lon) -> array<long> cover cells at ``res``
    (:func:`grid.cap_covers`)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _cover(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(grid.cap_covers(lat.to_numpy(), lon.to_numpy(), radius_m, res))

    return _cover


def radius_join(queries: DataFrame, candidates: DataFrame, radius,
                metric: str = "meter", ellipsoid="WGS-84",
                q_id: str = "query_id", q_lat: str = "q_lat", q_lon: str = "q_lon",
                c_lat: str = "lat", c_lon: str = "lon",
                res: int | None = None, exact: bool = True,
                salt: int | None = None, out: str = "dist") -> DataFrame:
    """Many-to-many radius join: every (query, candidate) pair with
    geodesic distance <= radius (boundary inclusive).

    Plan: queries -> per-query cover cells (vectorized UDF) -> explode ->
    equi-join with candidates on cell id -> dropDuplicates (a candidate
    can sit in 1 cover cell only, but covers of ONE query never repeat a
    cell — no dedup needed) -> exact refine.

    ``salt``: replicate the query side salt-ways and split candidate rows
    among salts — for dense-cell skew beyond what AQE skew-join handles.

    Polar note: pole-containing caps get PER-ROW longitude spans
    (grid.polar_cap_cells) — full rows only where the cap genuinely
    spans all longitudes — so polar queries stay proportional to the
    true cap area (which near a pole is inherently many lat/lon cells;
    that distortion is the quad grid's trade-off vs H3/S2).
    """
    radius_m = float(radius) / unit_factor(metric)
    if radius_m < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")  # same contract as point_in_radius
    cres = res if res is not None else grid.pick_resolution(radius_m)

    cov = _cover_cells_udf(radius_m, cres)
    q = queries.select(
        F.col(q_id),
        F.col(q_lat).alias("__qlat"),
        F.col(q_lon).alias("__qlon"),
    ).withColumn("__cell", F.explode(cov(F.col("__qlat"), F.col("__qlon"))))

    c = candidates.withColumn("__cell", cell_id_col(c_lat, c_lon, cres))

    if salt and salt > 1:
        q = q.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        c = c.withColumn("__salt", F.pmod(F.hash(F.col(c_lat), F.col(c_lon)), F.lit(salt)))
        join_keys = ["__cell", "__salt"]
    else:
        join_keys = ["__cell"]

    joined = q.join(c, on=join_keys, how="inner")
    if exact:
        # see _prefilter_margin_m: provably-outside rows skip the Arrow
        # kernel
        joined = joined.filter(
            haversine_m("__qlat", "__qlon", c_lat, c_lon)
            <= radius_m + _prefilter_margin_m(radius_m))
        d = vincenty_udf(ellipsoid, once=True)(F.col("__qlat"), F.col("__qlon"), F.col(c_lat), F.col(c_lon))
        return (
            joined.withColumn(out, d * unit_factor(metric))
            .filter(F.col(out) <= float(radius))
            .drop("__cell", "__qlat", "__qlon", "__salt")
        )
    # approximate mode: haversine band decision — AL only evaluates
    # (short-circuited) on the boundary band inside the pushed join
    # predicate; the output column evaluates once in the projection
    # where codegen subexpression elimination applies
    hav = haversine_m("__qlat", "__qlon", c_lat, c_lon)
    m = _prefilter_margin_m(radius_m)
    d = great_circle_m("__qlat", "__qlon", c_lat, c_lon)
    keep = (hav <= radius_m - m) | (
        (hav <= radius_m + m) & (d * unit_factor(metric) <= float(radius)))
    return (
        joined.filter(keep)
        .withColumn(out, d * unit_factor(metric))
        .drop("__cell", "__qlat", "__qlon", "__salt")
    )
