"""SQL surface: register the engine's operators as Spark SQL functions.

``register_sql_functions(spark)`` makes the closed-form kernels usable
directly from ``spark.sql(...)`` — the way a SQL-first user (BI tool,
notebook, dbt model) consumes the engine:

- **SQL UDFs** (``CREATE OR REPLACE TEMPORARY FUNCTION … RETURN expr``,
  Spark 4): the function body is a plain SQL expression, so Catalyst
  INLINES it into the calling plan — whole-stage codegen, constant
  folding, and predicate pushdown all still apply (a call over
  literals folds to a literal at plan time, and repeated
  subexpressions are deduplicated by codegen CSE). These mirror the
  Column builders in :mod:`geodistpy_spark.functions.expressions` 1:1
  and are equivalence-tested bit-for-bit against them.
- **Arrow UDFs** (``spark.udf.register``): the exact ellipsoidal
  kernels (Vincenty inverse with the Karney rescue baked into the
  batch driver, Vincenty direct, geodesic midpoint) that have no closed
  form. This crosses the JVM↔Arrow
  boundary per batch — the documented slow path relative to the
  expression functions, but identical in cost to the DataFrame-API
  operators, which use the same UDF.

Registered names (default prefix ``geo_``):

===================== ===============================================
``geo_haversine_m``   spherical distance, meters (SQL UDF, codegen)
``geo_greatcircle_m`` Lambert flattening-corrected distance (SQL UDF)
``geo_bearing_deg``   spherical initial bearing [0, 360) (SQL UDF)
``geo_destination``   spherical direct -> struct<lat,lon> (SQL UDF)
``geo_normalize_lon`` longitude -> [-180, 180) (SQL UDF)
``geo_to_unit``       meters -> meter|km|mile|nmi (SQL UDF)
``geo_cell_id``       quad-grid cell id at runtime res (SQL UDF)
``geo_parent_cell``   ancestor cell id at coarser res (SQL UDF)
``geo_vincenty_m``    exact ellipsoidal distance (Arrow UDF)
``geo_destination_vincenty`` exact ellipsoidal direct (Arrow UDF)
``geo_midpoint``      exact geodesic midpoint (Arrow UDF)
===================== ===============================================

Reference parity: these expose the same kernels as the reference's
public API (``geodist`` -> geo_vincenty_m, ``greatcircle`` ->
geo_greatcircle_m, ``bearing`` -> geo_bearing_deg; reference
distance.py:94, :684, :169) through SQL instead of Python calls.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .constants import EARTH_RADIUS_M, WGS84_A, WGS84_F

__all__ = ["register_sql_functions", "SQL_FUNCTION_NAMES"]

_R = repr(EARTH_RADIUS_M)
_A = repr(WGS84_A)
_F = repr(WGS84_F)

# --- body builders -------------------------------------------------------
# Each mirrors the corresponding Column builder in
# functions/expressions.py operation-for-operation (same order, same
# clamps), so results are bit-identical to the DataFrame API. SQL UDF
# bodies must be a single expression, so intermediates are expanded by
# Python substitution here; codegen CSE collapses the repeats.

# null/NaN guards mirror expressions.haversine_m: greatest/least skip
# nulls and rank NaN above every number, so the clamp alone would turn
# a null coordinate into 0 m and a NaN one into the antipodal distance
_HAVERSINE_H = """(pow(sin((radians(lat2) - radians(lat1)) / 2), 2)
    + cos(radians(lat1)) * cos(radians(lat2))
      * pow(sin((radians(lon2) - radians(lon1)) / 2), 2))"""
_HAVERSINE = (f"CASE WHEN isnan({_HAVERSINE_H}) THEN double('NaN') "
              f"WHEN {_HAVERSINE_H} IS NOT NULL THEN "
              f"2.0d * {_R} * asin(sqrt(least(greatest("
              f"{_HAVERSINE_H}, 0.0d), 1.0d))) END")


def _greatcircle_body() -> str:
    b1 = f"atan((1.0d - {_F}) * tan(radians(lat1)))"
    b2 = f"atan((1.0d - {_F}) * tan(radians(lat2)))"
    dl = "(radians(lon2) - radians(lon1))"
    y = (f"sqrt(pow(cos({b2}) * sin({dl}), 2)"
         f" + pow(cos({b1}) * sin({b2})"
         f" - sin({b1}) * cos({b2}) * cos({dl}), 2))")
    x = f"(sin({b1}) * sin({b2}) + cos({b1}) * cos({b2}) * cos({dl}))"
    sigma = f"atan2({y}, {x})"
    sp2 = f"pow(sin(({b1} + {b2}) / 2), 2)"
    sq2 = f"pow(sin(({b2} - {b1}) / 2), 2)"
    ch2 = f"pow(cos({sigma} / 2), 2)"
    sh2 = f"pow(sin({sigma} / 2), 2)"
    big_x = (f"CASE WHEN {ch2} > 0 THEN ({sigma} - sin({sigma}))"
             f" * {sp2} * (1.0d - {sq2}) / {ch2} ELSE 0.0d END")
    big_y = (f"CASE WHEN {sh2} > 0 THEN ({sigma} + sin({sigma}))"
             f" * (1.0d - {sp2}) * {sq2} / {sh2} ELSE 0.0d END")
    return f"{_A} * ({sigma} - ({_F} / 2.0d) * (({big_x}) + ({big_y})))"


_BEARING = """pmod(degrees(atan2(
    sin(radians(lon2) - radians(lon1)) * cos(radians(lat2)),
    cos(radians(lat1)) * sin(radians(lat2))
    - sin(radians(lat1)) * cos(radians(lat2))
      * cos(radians(lon2) - radians(lon1)))), 360.0d)"""


def _destination_body() -> str:
    p1 = "radians(lat)"
    th = "radians(bearing_deg)"
    d = f"(dist_m / {_R})"
    sp2 = (f"(sin({p1}) * cos({d})"
           f" + cos({p1}) * sin({d}) * cos({th}))")
    l2 = (f"(radians(lon) + atan2(sin({th}) * sin({d}) * cos({p1}),"
          f" cos({d}) - sin({p1}) * {sp2}))")
    # the null rule of expressions.destination_sphere: a null or NaN
    # input gives a null point (the clamp would otherwise put a null at
    # lat = -90 and a NaN at the north pole); l2 is checked too because
    # sp2 never involves lon
    return (
        f"CASE WHEN {sp2} IS NOT NULL AND {l2} IS NOT NULL "
        f"AND NOT isnan({sp2}) AND NOT isnan({l2}) "
        f"THEN named_struct("
        f"'lat', degrees(asin(least(greatest({sp2}, -1.0d), 1.0d))), "
        f"'lon', pmod(degrees({l2}) + 180.0d, 360.0d) - 180.0d) END")


def _cell_id_body() -> str:
    n = "CAST(pow(2, res) AS BIGINT)"
    xraw = f"floor(pmod(lon + 180.0d, 360.0d) / 360.0d * {n})"
    yraw = f"floor((lat + 90.0d) / 180.0d * {n})"
    # null/NaN/Infinity guards mirror expressions.cell_x/cell_y:
    # clamps skip nulls, floor() collapses NaN to a valid long, and
    # ±Infinity clamps into an edge row/column — each would silently
    # become a real cell id (a false equi-join key); all map to NULL
    x = (f"CASE WHEN {xraw} IS NOT NULL AND NOT isnan(lon) "
         f"AND abs(lon) != double('Infinity') THEN "
         f"CAST(least(greatest({xraw}, 0), {n} - 1) AS BIGINT) END")
    y = (f"CASE WHEN {yraw} IS NOT NULL AND NOT isnan(lat) "
         f"AND abs(lat) != double('Infinity') THEN "
         f"CAST(least(greatest({yraw}, 0), {n} - 1) AS BIGINT) END")
    return f"({y}) * {n} + ({x})"


def _parent_cell_body() -> str:
    n = "CAST(pow(2, res) AS BIGINT)"
    pn = "CAST(pow(2, parent_res) AS BIGINT)"
    y = f"CAST(floor(cell / {n}) AS BIGINT)"
    x = f"CAST(cell % {n} AS BIGINT)"
    # shiftright masks a negative count (& 63), so an inverted res
    # pair would silently return garbage; res args are runtime values
    # here (unlike the Python builder, which raises at build time), so
    # the invalid case maps to NULL
    return (f"CASE WHEN parent_res <= res THEN "
            f"shiftright({y}, res - parent_res) * {pn}"
            f" + shiftright({x}, res - parent_res) END")


# aliases and factors mirror constants.UNIT_FACTORS exactly ('m' too);
# a NULL metric propagates NULL (the CASE <expr> WHEN form never
# matches NULL, so it needs an explicit branch)
_TO_UNIT = """CASE
    WHEN metric IS NULL THEN CAST(NULL AS DOUBLE)
    WHEN metric IN ('meter', 'm') THEN dist_m * 1.0d
    WHEN metric = 'km' THEN dist_m * 1.0e-3d
    WHEN metric = 'mile' THEN dist_m * (1.0d / 1609.344d)
    WHEN metric = 'nmi' THEN dist_m * (1.0d / 1852.0d)
    ELSE CAST(raise_error(concat('unknown metric: ', metric)) AS DOUBLE)
END"""

_PAIR_ARGS = "lat1 DOUBLE, lon1 DOUBLE, lat2 DOUBLE, lon2 DOUBLE"

_SQL_UDFS: dict[str, tuple[str, str, str]] = {
    # name -> (arg signature, return type, body)
    "haversine_m": (_PAIR_ARGS, "DOUBLE", _HAVERSINE),
    "greatcircle_m": (_PAIR_ARGS, "DOUBLE", _greatcircle_body()),
    "bearing_deg": (_PAIR_ARGS, "DOUBLE", _BEARING),
    "destination": ("lat DOUBLE, lon DOUBLE, bearing_deg DOUBLE, "
                    "dist_m DOUBLE",
                    "STRUCT<lat: DOUBLE, lon: DOUBLE>", _destination_body()),
    "normalize_lon": ("lon DOUBLE", "DOUBLE",
                      "pmod(lon + 180.0d, 360.0d) - 180.0d"),
    "to_unit": ("dist_m DOUBLE, metric STRING", "DOUBLE", _TO_UNIT),
    "cell_id": ("lat DOUBLE, lon DOUBLE, res INT", "BIGINT",
                _cell_id_body()),
    "parent_cell": ("cell BIGINT, res INT, parent_res INT", "BIGINT",
                    _parent_cell_body()),
}

SQL_FUNCTION_NAMES = tuple(f"geo_{k}" for k in _SQL_UDFS) + (
    "geo_vincenty_m", "geo_destination_vincenty", "geo_midpoint")


def register_sql_functions(spark: SparkSession, prefix: str = "geo_",
                           ellipsoid: str = "WGS-84") -> tuple[str, ...]:
    """Register the engine's SQL functions on ``spark``; returns the
    registered names.

    Closed-form kernels become Spark SQL UDFs (inlined by Catalyst —
    full codegen); the exact kernels are registered as Arrow UDFs under
    ``{prefix}vincenty_m``, ``{prefix}destination_vincenty`` and
    ``{prefix}midpoint``. Temporary
    (session-scoped) registrations — call once per session.
    """
    names = []
    for name, (args, rtype, body) in _SQL_UDFS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {prefix}{name}({args}) "
            f"RETURNS {rtype} RETURN {body}")
        names.append(f"{prefix}{name}")
    from .functions.udfs import destination_udf, midpoint_udf, vincenty_udf

    spark.udf.register(f"{prefix}vincenty_m", vincenty_udf(ellipsoid=ellipsoid))
    spark.udf.register(f"{prefix}destination_vincenty",
                       destination_udf(ellipsoid=ellipsoid))
    spark.udf.register(f"{prefix}midpoint", midpoint_udf(ellipsoid=ellipsoid))
    names += [f"{prefix}vincenty_m", f"{prefix}destination_vincenty",
              f"{prefix}midpoint"]
    return tuple(names)
