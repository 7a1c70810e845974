"""Arrow-batched pandas UDFs wrapping the numpy kernels — the exact path.

Per the north rule, ALL per-row compute crosses the JVM->Python boundary
as Arrow record batches and runs numpy-vectorized inside
(never per-row Python). Ellipsoid parameters are plain floats closed
over by the UDF (serialized once in the task closure — reference analog:
param resolution at distance.py:137-138).
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import kernels as K
from ..constants import WGS84_A, WGS84_F, resolve_ellipsoid

_POINT_SCHEMA = T.StructType([
    T.StructField("lat", T.DoubleType()),
    T.StructField("lon", T.DoubleType()),
])

_FULL_SCHEMA = T.StructType([
    T.StructField("dist_m", T.DoubleType()),
    T.StructField("az1_deg", T.DoubleType()),
    T.StructField("az2_deg", T.DoubleType()),
])


def vincenty_udf(ellipsoid="WGS-84", once: bool = False):
    """Scalar pandas UDF: exact geodesic distance in meters.

    Vectorized Vincenty with in-batch Karney rescue of non-converged
    (near-antipodal) lanes — single pass, no second job
    (reference analog: geodesic.py:204-240, :311-358).

    ``once=True`` marks the UDF non-deterministic, which stops Catalyst
    from cloning it into both a Filter and a Project (the
    compute-then-threshold shape of radius/kNN refines would otherwise
    run the Python kernel TWICE per row — visible as two ArrowEvalPython
    nodes in the plan). The kernel is in fact deterministic; the flag is
    purely an evaluate-once fence.

    String ellipsoid names hit an lru_cache: creating the pandas UDF is
    ~10 py4j round trips + a cloudpickle, paid on every radius/kNN
    refine build otherwise; the returned wrapper is a pure expression
    factory and safely reusable across plans.
    """
    if isinstance(ellipsoid, str):
        return _vincenty_udf_cached(ellipsoid, once)
    return _vincenty_udf_build(ellipsoid, once)


@lru_cache(maxsize=32)
def _vincenty_udf_cached(ellipsoid: str, once: bool):
    return _vincenty_udf_build(ellipsoid, once)


def _vincenty_udf_build(ellipsoid, once: bool):
    a, f = resolve_ellipsoid(ellipsoid)

    @F.pandas_udf(T.DoubleType())
    def _vincenty_m(lat1: pd.Series, lon1: pd.Series,
                    lat2: pd.Series, lon2: pd.Series) -> pd.Series:
        s = K.geodesic_inverse(lat1.to_numpy(), lon1.to_numpy(),
                               lat2.to_numpy(), lon2.to_numpy(), a, f)
        return pd.Series(s)

    return _vincenty_m.asNondeterministic() if once else _vincenty_m


def vincenty_full_udf(ellipsoid="WGS-84"):
    """Scalar pandas UDF returning struct<dist_m, az1_deg, az2_deg>."""
    a, f = resolve_ellipsoid(ellipsoid)

    @F.pandas_udf(_FULL_SCHEMA)
    def _vincenty_full(lat1: pd.Series, lon1: pd.Series,
                       lat2: pd.Series, lon2: pd.Series) -> pd.DataFrame:
        s, az1, az2 = K.geodesic_inverse_full(lat1.to_numpy(), lon1.to_numpy(),
                                              lat2.to_numpy(), lon2.to_numpy(), a, f)
        return pd.DataFrame({"dist_m": s, "az1_deg": az1, "az2_deg": az2})

    return _vincenty_full


def karney_udf(ellipsoid="WGS-84"):
    """Scalar pandas UDF: Karney-series inverse (accuracy oracle path)."""
    a, f = resolve_ellipsoid(ellipsoid)

    @F.pandas_udf(T.DoubleType())
    def _karney_m(lat1: pd.Series, lon1: pd.Series,
                  lat2: pd.Series, lon2: pd.Series) -> pd.Series:
        s = K.karney_inverse(lat1.to_numpy(), lon1.to_numpy(),
                             lat2.to_numpy(), lon2.to_numpy(), a, f)
        return pd.Series(s)

    return _karney_m


def destination_udf(ellipsoid="WGS-84"):
    """Scalar pandas UDF: (lat, lon, bearing_deg, dist_m) -> struct<lat, lon>.

    Vincenty direct; longitude normalized to [-180, 180]
    (reference contract distance.py:220-273).
    """
    a, f = resolve_ellipsoid(ellipsoid)

    @F.pandas_udf(_POINT_SCHEMA)
    def _destination(lat: pd.Series, lon: pd.Series,
                     bearing: pd.Series, dist_m: pd.Series) -> pd.DataFrame:
        la, lo, _ = K.vincenty_direct(lat.to_numpy(), lon.to_numpy(),
                                      bearing.to_numpy(), dist_m.to_numpy(), a, f)
        return pd.DataFrame({"lat": la, "lon": lo})

    return _destination


def midpoint_udf(ellipsoid="WGS-84"):
    """Scalar pandas UDF: (lat1, lon1, lat2, lon2) -> struct<lat, lon>
    geodesic midpoint (= interpolate with one interior waypoint;
    reference contract distance.py:359-384)."""
    a, f = resolve_ellipsoid(ellipsoid)

    @F.pandas_udf(_POINT_SCHEMA)
    def _midpoint(lat1: pd.Series, lon1: pd.Series,
                  lat2: pd.Series, lon2: pd.Series) -> pd.DataFrame:
        la, lo = K.interpolate_points(lat1.to_numpy(), lon1.to_numpy(),
                                      lat2.to_numpy(), lon2.to_numpy(),
                                      1, a, f)
        return pd.DataFrame({"lat": la[:, 0], "lon": lo[:, 0]})

    return _midpoint


def interpolate_udf(n_points: int, ellipsoid="WGS-84"):
    """Scalar pandas UDF returning array<struct<lat, lon>> of n interior
    waypoints (endpoints excluded; n+1 equal segments — reference
    contract distance.py:279-356). Pair with ``posexplode`` for a
    row-per-waypoint relation.
    """
    a, f = resolve_ellipsoid(ellipsoid)
    schema = T.ArrayType(_POINT_SCHEMA)

    @F.pandas_udf(schema)
    def _interpolate(lat1: pd.Series, lon1: pd.Series,
                     lat2: pd.Series, lon2: pd.Series) -> pd.Series:
        la, lo = K.interpolate_points(lat1.to_numpy(), lon1.to_numpy(),
                                      lat2.to_numpy(), lon2.to_numpy(),
                                      n_points, a, f)
        out = [
            [{"lat": float(la[i, j]), "lon": float(lo[i, j])} for j in range(n_points)]
            for i in range(la.shape[0])
        ]
        return pd.Series(out)

    return _interpolate

