"""geodistpy_spark — a PySpark-native geospatial distance + spatial-join
engine with the query/data-processing capabilities of pawangeek/geodistpy,
re-expressed Spark-first for 100 TB-scale document tables.

Layers
------
- :mod:`geodistpy_spark.kernels` — vectorized numpy geodesic kernels
  (Vincenty, Karney fallback/oracle, great-circle) — no Spark imports.
- :mod:`geodistpy_spark.grid` — hierarchical quad-grid cell index
  (H3/S2 stand-in): cell ids as plain integer math, covers, k-rings.
- :mod:`geodistpy_spark.functions` — Catalyst Column builders (codegen
  fast path) + Arrow UDFs (exact path).
- :mod:`geodistpy_spark.operators` — distance queries, radius joins,
  kNN joins, point-in-polygon, zonal stats.
- :mod:`geodistpy_spark.sources` — interleaved-document span extraction
  and synthetic fixtures.
- :mod:`geodistpy_spark.textops` — dedup / text-analysis / ANN operators
  for training-data pipelines.
- :mod:`geodistpy_spark.plans` — checkpointed, lineage-tracked chunked
  execution (kill/resume with identical output).
"""

from .constants import ELLIPSOIDS, UNIT_FACTORS, resolve_ellipsoid, unit_factor
from .session import get_spark


def __getattr__(name):
    """Lazy top-level re-exports for reference-API-parity names
    (geodist, geodesic_knn, point_in_radius, ...) without importing the
    operator modules (and their Spark deps) at package-import time."""
    from importlib import import_module

    _OPERATOR_NAMES = {
        "geodist", "geodist_matrix", "geodist_to_many", "greatcircle",
        "greatcircle_matrix", "haversine_dist", "bearing", "destination",
        "interpolate", "midpoint", "geodist_dimwise", "geodist_dimwise_haversine",
        "geodist_dimwise_harvesine", "point_in_radius",
        "radius_join", "geodesic_knn", "knn_join", "point_in_polygon_join",
        "zonal_stats",
    }
    if name in _OPERATOR_NAMES:
        return getattr(import_module(".operators", __name__), name)
    if name == "coordinates_from_df":
        return import_module(".sources.resolver", __name__).coordinates_from_df
    if name == "register_sql_functions":
        return import_module(".sql", __name__).register_sql_functions
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")

__version__ = "0.1.0"
__all__ = ["ELLIPSOIDS", "UNIT_FACTORS", "resolve_ellipsoid", "unit_factor", "get_spark", "__version__"]
