"""Native Catalyst Column expression builders — the FAST path.

Everything here compiles to whole-stage-codegen'd JVM column math: no
Python workers, no Arrow transfer. These cover the closed-form kernels
(haversine, Lambert great-circle, spherical bearing, cell-id integer
math, unit conversion, longitude normalization). The iterative kernels
(Vincenty/Karney) live in :mod:`geodistpy_spark.functions.udfs`.

The haversine and great-circle formulas are mirrored by the ANSI-SQL
strings ``_hav_sql`` / ``_gc_sql`` in __spark_entry__.py, which the
DuckDB contract oracles compute. The Spark SQL surface
(:mod:`geodistpy_spark.sql`) needs no mirror: it registers Catalyst's
own SQL for these builders.
"""

from __future__ import annotations

from functools import lru_cache, wraps

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..constants import EARTH_RADIUS_M, WGS84_A, WGS84_F, unit_factor


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x) if isinstance(x, str) else F.lit(x)


def _reusable(build):
    """Memoize a Column builder unless an argument is a ``Column``.

    A builder is tens of py4j round trips of pure driver wall per call
    (~80 ms for ``cell_id_col`` under the kNN join's per-call profile),
    and Column expression trees are immutable, so one tree per argument
    tuple is reused across plans and sessions (analysis re-resolves per
    plan). A ``Column`` has no value equality (``==`` builds an
    expression), so a call with one builds afresh."""
    cached = lru_cache(maxsize=512, typed=True)(build)

    @wraps(build)
    def call(*args, **kwargs):
        if any(isinstance(v, Column) for v in (*args, *kwargs.values())):
            return build(*args, **kwargs)
        return cached(*args, **kwargs)

    return call


@_reusable
def haversine_m(lat1, lon1, lat2, lon2, radius: float = EARTH_RADIUS_M) -> Column:
    """Great-circle distance on a sphere (meters) — pure column math."""
    p1, l1, p2, l2 = (F.radians(_c(v)) for v in (lat1, lon1, lat2, lon2))
    h = (
        F.pow(F.sin((p2 - p1) / 2), 2)
        + F.cos(p1) * F.cos(p2) * F.pow(F.sin((l2 - l1) / 2), 2)
    )
    # the [0, 1] clamp uses greatest/least, which SKIP nulls and rank
    # NaN above every number — unguarded, a null coordinate silently
    # becomes 0 m ("same point") and a NaN coordinate becomes the
    # antipodal distance (greatest(NaN, 0) = NaN, least(NaN, 1) = 1).
    # Faithful propagation instead: NULL in -> NULL out, NaN in -> NaN
    # out (matching the numpy kernels)
    return F.when(F.isnan(h), h).when(
        h.isNotNull(),
        2.0 * radius * F.asin(F.sqrt(
            F.least(F.greatest(h, F.lit(0.0)), F.lit(1.0)))))


@_reusable
def great_circle_m(lat1, lon1, lat2, lon2, a: float = WGS84_A, f: float = WGS84_F) -> Column:
    """Lambert (Andoyer) flattening-corrected great circle — column math.

    Same formula as kernels.great_circle (reference contract:
    geodesic.py:676-767); ~10 m mean accuracy, zero Python overhead.
    """
    p1, l1, p2, l2 = (F.radians(_c(v)) for v in (lat1, lon1, lat2, lon2))
    b1 = F.atan((1.0 - f) * F.tan(p1))
    b2 = F.atan((1.0 - f) * F.tan(p2))
    dl = l2 - l1
    y = F.sqrt(
        F.pow(F.cos(b2) * F.sin(dl), 2)
        + F.pow(F.cos(b1) * F.sin(b2) - F.sin(b1) * F.cos(b2) * F.cos(dl), 2)
    )
    x = F.sin(b1) * F.sin(b2) + F.cos(b1) * F.cos(b2) * F.cos(dl)
    sigma = F.atan2(y, x)
    sin_sigma = F.sin(sigma)
    sp2 = F.pow(F.sin((b1 + b2) / 2), 2)
    sq2 = F.pow(F.sin((b2 - b1) / 2), 2)
    cp2 = 1.0 - sp2
    cq2 = 1.0 - sq2
    ch2 = F.pow(F.cos(sigma / 2), 2)
    sh2 = F.pow(F.sin(sigma / 2), 2)
    X = F.when(ch2 > 0, (sigma - sin_sigma) * sp2 * cq2 / ch2).otherwise(0.0)
    Y = F.when(sh2 > 0, (sigma + sin_sigma) * cp2 * sq2 / sh2).otherwise(0.0)
    return a * (sigma - (f / 2.0) * (X + Y))


def bearing_sphere_deg(lat1, lon1, lat2, lon2) -> Column:
    """Spherical initial bearing, degrees [0, 360) — column math."""
    p1, l1, p2, l2 = (F.radians(_c(v)) for v in (lat1, lon1, lat2, lon2))
    dl = l2 - l1
    y = F.sin(dl) * F.cos(p2)
    x = F.cos(p1) * F.sin(p2) - F.sin(p1) * F.cos(p2) * F.cos(dl)
    return F.pmod(F.degrees(F.atan2(y, x)), F.lit(360.0))


def destination_sphere(lat, lon, bearing_deg, dist_m,
                       radius: float = EARTH_RADIUS_M) -> Column:
    """Spherical direct problem as a struct<lat,lon> column — pure
    codegen (the ellipsoidal twin is the Vincenty-direct Arrow UDF in
    ``operators.distances.destination``). Longitude normalized to
    [-180, 180)."""
    p1 = F.radians(_c(lat))
    l1 = F.radians(_c(lon))
    th = F.radians(_c(bearing_deg))
    d = _c(dist_m) / F.lit(radius)
    sp2 = F.sin(p1) * F.cos(d) + F.cos(p1) * F.sin(d) * F.cos(th)
    p2 = F.asin(F.least(F.greatest(sp2, F.lit(-1.0)), F.lit(1.0)))
    l2 = l1 + F.atan2(F.sin(th) * F.sin(d) * F.cos(p1),
                      F.cos(d) - F.sin(p1) * sp2)
    # a null or NaN input gives a null point, as on the Vincenty-direct
    # Arrow path: the asin clamp skips nulls (greatest(NULL, -1) = -1,
    # the south pole) and ranks NaN above 1 (the north pole). Guard l2
    # too: sp2 never involves lon, so an sp2-only check would give a
    # bad longitude a fabricated latitude
    return F.when(
        sp2.isNotNull() & l2.isNotNull() & ~F.isnan(sp2) & ~F.isnan(l2),
        F.struct(
            F.degrees(p2).alias("lat"),
            normalize_lon(F.degrees(l2)).alias("lon"),
        ))


def cell_x(lon, res: int) -> Column:
    n = 1 << res
    lon = _c(lon)
    x = F.floor(F.pmod(lon + 180.0, F.lit(360.0)) / 360.0 * n)
    # greatest/least skip nulls, floor() collapses NaN to a valid
    # long, and the clamp bins ±Infinity into an edge row/column, so
    # an unguarded clamp turns a null, NaN, OR infinite coordinate
    # into a real cell — a silent false equi-join key at scale. The
    # clamp is for rounding jitter at the domain edge (lat 90.0000001
    # belongs in the top row); non-finite garbage maps to NULL, which
    # drops out of every equi-join/groupBy — the safe behavior
    return F.when(
        x.isNotNull() & ~F.isnan(lon) & (F.abs(lon) != float("inf")),
        F.least(F.greatest(x, F.lit(0)), F.lit(n - 1))).cast("long")


def cell_y(lat, res: int) -> Column:
    n = 1 << res
    lat = _c(lat)
    y = F.floor((lat + 90.0) / 180.0 * n)
    return F.when(
        y.isNotNull() & ~F.isnan(lat) & (F.abs(lat) != float("inf")),
        F.least(F.greatest(y, F.lit(0)), F.lit(n - 1))).cast("long")


@_reusable
def cell_id_col(lat, lon, res: int) -> Column:
    """Quad-grid cell id = y * 2^res + x — pure integer column math.

    Identical to grid.cell_id_np and to the ANSI-SQL mirror; enables
    exact (bit-for-bit) equi-joins, partitioning, and DuckDB oracles.
    """
    n = 1 << res
    return (cell_y(lat, res) * n + cell_x(lon, res)).alias(f"cell_r{res}")


def parent_cell_col(cell, res: int, parent_res: int) -> Column:
    """Ancestor cell id at a coarser resolution (integer math)."""
    if parent_res > res:
        # JVM shiftright masks a negative count (& 63), so an inverted
        # res pair would silently return garbage instead of raising
        # like grid.parent_cell does
        raise ValueError(
            f"parent_res must be <= res, got res={res} "
            f"parent_res={parent_res}")
    n = 1 << res
    pn = 1 << parent_res
    shift = res - parent_res
    y = F.floor(_c(cell) / n).cast("long")
    x = (_c(cell) % n).cast("long")
    return (F.shiftright(y, shift) * pn + F.shiftright(x, shift)).cast("long")


def to_unit(dist_m, metric: str = "meter") -> Column:
    """Meters -> requested unit (constant-folded by Catalyst)."""
    factor = unit_factor(metric)
    return _c(dist_m) * F.lit(factor)


def normalize_lon(lon) -> Column:
    """Normalize longitude to [-180, 180) (reference: distance.py:272)."""
    return F.pmod(_c(lon) + 180.0, F.lit(360.0)) - 180.0


def validate_coords(df, lat_col: str = "lat", lon_col: str = "lon",
                    action: str = "error"):
    """Coordinate-range validation (reference contract distance.py:86-91).

    action='error': raise on first invalid row (driver-side check via a
    cheap count); action='filter': drop invalid rows; action='flag': add
    a boolean ``coord_valid`` column.
    """
    valid = (
        F.col(lat_col).between(-90.0, 90.0)
        & F.col(lon_col).between(-180.0, 180.0)
        & F.col(lat_col).isNotNull()
        & F.col(lon_col).isNotNull()
    )
    if action == "flag":
        return df.withColumn("coord_valid", valid)
    if action == "filter":
        return df.filter(valid)
    bad = df.filter(~valid).limit(1).collect()
    if bad:
        row = bad[0]
        raise ValueError(
            f"coordinates out of range: lat={row[lat_col]} lon={row[lon_col]} "
            f"(lat must be in [-90, 90], lon in [-180, 180])"
        )
    return df
