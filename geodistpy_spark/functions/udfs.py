"""Arrow UDFs wrapping the numpy kernels — the exact path.

Per the north rule, ALL per-row compute crosses the JVM->Python boundary
as Arrow record batches and runs numpy-vectorized inside
(never per-row Python). Every UDF here is one :func:`kernel_udf` over a
numpy kernel: list columns in as Arrow ``ListArray`` and every other
column as a float64 array (null -> NaN), NaN out as null, points built
columnar by :func:`points_array`. Ellipsoid
parameters are plain floats closed over by the UDF (serialized once in
the task closure — reference analog: param resolution at
distance.py:137-138).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import kernels as K
from ..constants import resolve_ellipsoid

_POINT_SCHEMA = T.StructType([
    T.StructField("lat", T.DoubleType()),
    T.StructField("lon", T.DoubleType()),
])


def points_array(la: np.ndarray, lo: np.ndarray) -> pa.Array:
    """``(rows,)`` coordinates -> struct<lat, lon>; ``(rows, n)`` ->
    array<struct<lat, lon>> of n points per row. A point with a NaN
    lat or lon is null."""
    lat, lon = la.ravel(), lo.ravel()
    pts = pa.StructArray.from_arrays(
        [pa.array(lat, from_pandas=True), pa.array(lon, from_pandas=True)],
        names=["lat", "lon"], mask=pa.array(np.isnan(lat) | np.isnan(lon)))
    if la.ndim == 1:
        return pts
    rows, n = la.shape
    return list_array(np.arange(0, rows * n + 1, n), pts)


def list_array(offsets: np.ndarray, values) -> pa.Array:
    """Flat ``(offsets, values)`` -> one list per row: row ``i`` holds
    ``values[offsets[i]:offsets[i + 1]]`` (e.g. the
    :func:`~geodistpy_spark.grid.cap_covers` cells as array<bigint>)."""
    return pa.ListArray.from_arrays(pa.array(np.asarray(offsets, dtype=np.int32)), values)


def kernel_udf(fn, return_type, once: bool = False):
    """Scalar Arrow UDF over the numpy kernel ``fn``.

    A list column reaches ``fn`` as its Arrow ``ListArray`` (per-row
    slices ``values[offsets[i]:offsets[i + 1]]``); every other column as
    a float64 array (null -> NaN). An ndarray result goes back with
    NaN -> null, an Arrow result (e.g. :func:`points_array`,
    :func:`list_array`) as is.

    ``once=True`` marks the UDF non-deterministic, which stops Catalyst
    from cloning it into both a Filter and a Project (the
    compute-then-threshold shape of radius/kNN refines would otherwise
    run the Python kernel TWICE per row — visible as two ArrowEvalPython
    nodes in the plan). The kernels are in fact deterministic; the flag
    is purely an evaluate-once fence.
    """
    def run(*cols: pa.Array) -> pa.Array:
        out = fn(*(c if pa.types.is_list(c.type)
                   else np.asarray(c.to_numpy(zero_copy_only=False), dtype=np.float64)
                   for c in cols))
        return out if isinstance(out, pa.Array) else pa.array(out, from_pandas=True)

    udf = F.arrow_udf(run, return_type)
    return udf.asNondeterministic() if once else udf


def vincenty_udf(ellipsoid="WGS-84", once: bool = False):
    """(lat1, lon1, lat2, lon2) -> exact geodesic distance in meters.

    Vectorized Vincenty with in-batch Karney rescue of non-converged
    (near-antipodal) lanes — single pass, no second job
    (reference analog: geodesic.py:204-240, :311-358). ``once``: see
    :func:`kernel_udf`.

    Cached per resolved ellipsoid: creating the UDF is ~10 py4j round
    trips + a cloudpickle, paid on every radius/kNN refine build
    otherwise; the returned wrapper is a pure expression factory and
    safely reusable across plans.
    """
    return _vincenty_udf(*resolve_ellipsoid(ellipsoid), once)


@lru_cache(maxsize=32)
def _vincenty_udf(a: float, f: float, once: bool):
    return kernel_udf(lambda *c: K.geodesic_inverse(*c, a, f), T.DoubleType(), once)


def bearing_udf(ellipsoid="WGS-84"):
    """(lat1, lon1, lat2, lon2) -> exact initial azimuth, degrees
    [0, 360) (Vincenty inverse with Karney rescue; coincident -> 0.0)."""
    a, f = resolve_ellipsoid(ellipsoid)
    return kernel_udf(lambda *c: K.geodesic_inverse_full(*c, a, f)[1], T.DoubleType())


def destination_udf(ellipsoid="WGS-84"):
    """(lat, lon, bearing_deg, dist_m) -> struct<lat, lon>.

    Vincenty direct; longitude normalized to [-180, 180]
    (reference contract distance.py:220-273).
    """
    a, f = resolve_ellipsoid(ellipsoid)
    return kernel_udf(lambda *c: points_array(*K.vincenty_direct(*c, a, f)[:2]),
                      _POINT_SCHEMA)


def midpoint_udf(ellipsoid="WGS-84"):
    """(lat1, lon1, lat2, lon2) -> struct<lat, lon> geodesic midpoint
    (= interpolate with one interior waypoint; reference contract
    distance.py:359-384)."""
    a, f = resolve_ellipsoid(ellipsoid)
    return kernel_udf(
        lambda *c: points_array(*(x[:, 0] for x in K.interpolate_points(*c, 1, a, f))),
        _POINT_SCHEMA)


def interpolate_udf(n_points: int, ellipsoid="WGS-84"):
    """(lat1, lon1, lat2, lon2) -> array<struct<lat, lon>> of n interior
    waypoints (endpoints excluded; n+1 equal segments — reference
    contract distance.py:279-356). Pair with ``posexplode`` for a
    row-per-waypoint relation.
    """
    a, f = resolve_ellipsoid(ellipsoid)
    return kernel_udf(
        lambda *c: points_array(*K.interpolate_points(*c, n_points, a, f)),
        T.ArrayType(_POINT_SCHEMA))
