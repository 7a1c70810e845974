"""SQL surface: register the engine's operators as Spark SQL functions.

``register_sql_functions(spark)`` makes the closed-form kernels usable
directly from ``spark.sql(...)`` — the way a SQL-first user (BI tool,
notebook, dbt model) consumes the engine:

- **SQL UDFs** (``CREATE OR REPLACE TEMPORARY FUNCTION … RETURN expr``,
  Spark 4): the function body is a plain SQL expression, so Catalyst
  INLINES it into the calling plan — whole-stage codegen, constant
  folding, and predicate pushdown all still apply (a call over
  literals folds to a literal at plan time, and repeated
  subexpressions are deduplicated by codegen CSE). Five bodies are
  rendered from the Column builders in
  :mod:`geodistpy_spark.functions.expressions` (Catalyst's own SQL for
  the analyzed builder), so each formula has one spelling and the SQL
  surface is bit-identical to the DataFrame API by construction.
  ``geo_to_unit``, ``geo_cell_id`` and ``geo_parent_cell`` take a unit
  or resolution as a runtime SQL value, which the builders fold at
  build time, so those three keep hand-written bodies.
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

from pyspark.sql import Column, SparkSession

from .constants import UNIT_FACTORS, resolve_ellipsoid
from .functions.expressions import (bearing_sphere_deg, destination_sphere,
                                    great_circle_m, haversine_m, normalize_lon)

__all__ = ["register_sql_functions", "SQL_FUNCTION_NAMES"]

_PAIR = ("lat1", "lon1", "lat2", "lon2")
_DIRECT = ("lat", "lon", "bearing_deg", "dist_m")

# name -> (return type, DOUBLE parameters, builder (a, f) -> Column over them)
_RENDERED = {
    "haversine_m": ("DOUBLE", _PAIR, lambda a, f: haversine_m(*_PAIR)),
    "greatcircle_m": ("DOUBLE", _PAIR, lambda a, f: great_circle_m(*_PAIR, a, f)),
    "bearing_deg": ("DOUBLE", _PAIR, lambda a, f: bearing_sphere_deg(*_PAIR)),
    # renders as struct(lat, lon) without field names; the RETURNS type
    # names the fields (a struct casts by position)
    "destination": ("STRUCT<lat: DOUBLE, lon: DOUBLE>", _DIRECT,
                    lambda a, f: destination_sphere(*_DIRECT)),
    "normalize_lon": ("DOUBLE", ("lon",), lambda a, f: normalize_lon("lon")),
}


def _render(spark: SparkSession, args: str, col: Column) -> str:
    """Catalyst's own SQL for ``col``, analyzed over an empty relation
    whose columns are the function's arguments ``args`` (a DDL schema)."""
    return (spark.createDataFrame([], args).select(col.alias("x"))
            ._jdf.queryExecution().analyzed().projectList().head()
            .child().sql())


# --- hand-written bodies -------------------------------------------------
# These take the resolution or the unit as a runtime SQL value; the
# Column builders fold it at build time (``1 << res``,
# ``unit_factor(metric)``).

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


# a NULL metric propagates NULL (the CASE <expr> WHEN form never
# matches NULL, so it needs an explicit branch)
_TO_UNIT = " ".join([
    "CASE WHEN metric IS NULL THEN CAST(NULL AS DOUBLE)",
    *(f"WHEN metric = '{k}' THEN dist_m * {v!r}D" for k, v in UNIT_FACTORS.items()),
    "ELSE CAST(raise_error(concat('unknown metric: ', metric)) AS DOUBLE) END"])

_HAND_WRITTEN: dict[str, tuple[str, str, str]] = {
    # name -> (arg signature, return type, body)
    "to_unit": ("dist_m DOUBLE, metric STRING", "DOUBLE", _TO_UNIT),
    "cell_id": ("lat DOUBLE, lon DOUBLE, res INT", "BIGINT",
                _cell_id_body()),
    "parent_cell": ("cell BIGINT, res INT, parent_res INT", "BIGINT",
                    _parent_cell_body()),
}

SQL_FUNCTION_NAMES = tuple(f"geo_{k}" for k in (*_RENDERED, *_HAND_WRITTEN)) + (
    "geo_vincenty_m", "geo_destination_vincenty", "geo_midpoint")


def register_sql_functions(spark: SparkSession, prefix: str = "geo_",
                           ellipsoid: str | tuple[float, float] = "WGS-84"
                           ) -> tuple[str, ...]:
    """Register the engine's SQL functions on ``spark``; returns the
    registered names.

    Closed-form kernels become Spark SQL UDFs (inlined by Catalyst —
    full codegen), ``{prefix}greatcircle_m`` on ``ellipsoid``; the exact
    kernels are registered as Arrow UDFs under ``{prefix}vincenty_m``,
    ``{prefix}destination_vincenty`` and ``{prefix}midpoint``. Temporary
    (session-scoped) registrations — call once per session.
    """
    a, f = resolve_ellipsoid(ellipsoid)
    table = {}
    for name, (rtype, params, build) in _RENDERED.items():
        args = ", ".join(f"{p} DOUBLE" for p in params)
        table[name] = (args, rtype, _render(spark, args, build(a, f)))
    table.update(_HAND_WRITTEN)
    for name, (args, rtype, body) in table.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {prefix}{name}({args}) "
            f"RETURNS {rtype} RETURN {body}")
    names = [f"{prefix}{name}" for name in table]
    from .functions.udfs import destination_udf, midpoint_udf, vincenty_udf

    spark.udf.register(f"{prefix}vincenty_m", vincenty_udf(ellipsoid=ellipsoid))
    spark.udf.register(f"{prefix}destination_vincenty",
                       destination_udf(ellipsoid=ellipsoid))
    spark.udf.register(f"{prefix}midpoint", midpoint_udf(ellipsoid=ellipsoid))
    names += [f"{prefix}vincenty_m", f"{prefix}destination_vincenty",
              f"{prefix}midpoint"]
    return tuple(names)
