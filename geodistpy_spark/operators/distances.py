"""Distance query operators (reference API parity, DataFrame-shaped).

Reference operators re-expressed over pyspark DataFrames
(SURVEY.md §2.1): the scalar/batch wrappers of distance.py become
column appenders; the pdist/cdist dense matrices become (i, j, dist)
relations (never a materialized dense matrix at scale).

Every operator takes/returns DataFrames and composes with Catalyst —
filters/projections around these calls still push down to the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import EARTH_RADIUS_M, resolve_ellipsoid
from ..functions.expressions import great_circle_m, haversine_m, to_unit
from ..functions.udfs import (
    bearing_udf,
    destination_udf,
    interpolate_udf,
    midpoint_udf,
    vincenty_udf,
)


def _cols(df: DataFrame, names) -> list[Column]:
    return [F.col(n) for n in names]


def _distance_m(exact: bool, ellipsoid, lat1, lon1, lat2, lon2) -> Column:
    """Meters between two points: the exact Vincenty Arrow UDF, or the
    codegen great circle (closed-form, hence oracle-checkable)."""
    if exact:
        return vincenty_udf(ellipsoid)(lat1, lon1, lat2, lon2)
    return great_circle_m(lat1, lon1, lat2, lon2, *resolve_ellipsoid(ellipsoid))


def _pairs(df1: DataFrame, df2: DataFrame | None, id_col: str, lat_col: str,
           lon_col: str, feature_cols=()) -> DataFrame:
    """Cross relation of ``df1`` x ``df2`` with every column suffixed by
    side (``id_1``, ``lat_1``, ``lon_1``, ``<feat>_1``, then ``_2``);
    ``df2=None`` pairs ``df1`` with itself as the strict upper triangle
    (``id_1 < id_2``)."""
    def side(df, k):
        return df.select(F.col(id_col).alias(f"id_{k}"),
                         F.col(lat_col).alias(f"lat_{k}"),
                         F.col(lon_col).alias(f"lon_{k}"),
                         *[F.col(c).alias(f"{c}_{k}") for c in feature_cols])

    pairs = side(df1, 1).crossJoin(side(df1 if df2 is None else df2, 2))
    return pairs.filter(F.col("id_1") < F.col("id_2")) if df2 is None else pairs


def geodist(df: DataFrame, lat1: str, lon1: str, lat2: str, lon2: str,
            metric: str = "meter", ellipsoid="WGS-84",
            out: str = "dist") -> DataFrame:
    """Elementwise exact geodesic distance dist[i] = d(A[i], B[i]).

    Engine analog of ``geodist`` (reference distance.py:94-163): zipped
    coordinate columns -> scalar Arrow UDF (Vincenty + Karney rescue),
    then unit conversion as plain Catalyst arithmetic.
    """
    udf = vincenty_udf(ellipsoid)
    d = udf(*_cols(df, [lat1, lon1, lat2, lon2]))
    return df.withColumn(out, to_unit(d, metric))


def greatcircle(df: DataFrame, lat1: str, lon1: str, lat2: str, lon2: str,
                metric: str = "meter", out: str = "dist") -> DataFrame:
    """Fast approximate distance — pure whole-stage-codegen column math,
    no Python at all (reference ``greatcircle``, distance.py:684-737).
    """
    d = great_circle_m(*_cols(df, [lat1, lon1, lat2, lon2]))
    return df.withColumn(out, to_unit(d, metric))


def haversine_dist(df: DataFrame, lat1: str, lon1: str, lat2: str, lon2: str,
                   metric: str = "meter", out: str = "dist") -> DataFrame:
    """Spherical haversine distance — codegen column math."""
    d = haversine_m(*_cols(df, [lat1, lon1, lat2, lon2]))
    return df.withColumn(out, to_unit(d, metric))


def geodist_to_many(df: DataFrame, origin: tuple[float, float],
                    lat_col: str = "lat", lon_col: str = "lon",
                    metric: str = "meter", ellipsoid="WGS-84",
                    out: str = "dist", exact: bool = True) -> DataFrame:
    """Distances from ONE origin to every row (reference
    ``geodist_to_many``, distance.py:546-597). Origin enters the plan as
    literals — no join, no shuffle; key columns ride along (the engine's
    index-label propagation).
    """
    olat, olon = float(origin[0]), float(origin[1])
    if not -90.0 <= olat <= 90.0 or not -180.0 <= olon <= 180.0:
        raise ValueError(f"origin out of range: {origin}")
    d = _distance_m(exact, ellipsoid, F.lit(olat), F.lit(olon),
                    F.col(lat_col), F.col(lon_col))
    return df.withColumn(out, to_unit(d, metric))


def geodist_matrix(df1: DataFrame, df2: DataFrame | None = None,
                   id_col: str = "id", lat_col: str = "lat", lon_col: str = "lon",
                   metric: str = "meter", ellipsoid="WGS-84",
                   exact: bool = True, mirror: bool = True) -> DataFrame:
    """All-pairs distance relation (reference ``geodist_matrix``,
    distance.py:600-681, rethought for scale: the dense (n1, n2) ndarray
    becomes an (id_1, id_2, dist) relation).

    pdist mode (df2=None): computes the strict upper triangle once
    (id_1 < id_2) and mirrors by union — exactly the reference's
    compute-triangle-then-mirror trick (geodesic.py:252-257) in
    relational form. ``mirror=False`` returns just the triangle.
    cdist mode: full cross relation.

    For large inputs prefer the cell-prefiltered ``radius_join`` /
    ``knn_join`` — an all-pairs matrix is inherently O(n1*n2).
    """
    d = _distance_m(exact, ellipsoid, "lat_1", "lon_1", "lat_2", "lon_2")
    pairs = _pairs(df1, df2, id_col, lat_col, lon_col).select(
        "id_1", "id_2", to_unit(d, metric).alias("dist"))
    if df2 is None and mirror:
        pairs = pairs.unionByName(
            pairs.select(
                F.col("id_2").alias("id_1"), F.col("id_1").alias("id_2"), "dist"
            )
        )
    return pairs


def greatcircle_matrix(df1: DataFrame, df2: DataFrame | None = None,
                       id_col: str = "id", lat_col: str = "lat", lon_col: str = "lon",
                       metric: str = "meter", mirror: bool = True) -> DataFrame:
    """All-pairs great-circle relation (reference ``greatcircle_matrix``,
    distance.py:740-814) — geodist_matrix with the codegen fast path."""
    return geodist_matrix(df1, df2, id_col=id_col, lat_col=lat_col,
                          lon_col=lon_col, metric=metric, exact=False,
                          mirror=mirror)


def bearing(df: DataFrame, lat1: str, lon1: str, lat2: str, lon2: str,
            ellipsoid="WGS-84", out: str = "bearing_deg") -> DataFrame:
    """Initial forward azimuth A->B, degrees [0, 360), exact Vincenty
    inverse with Karney rescue (reference ``bearing``,
    distance.py:169-214; coincident -> 0.0, a null or NaN coordinate ->
    null).
    """
    udf = bearing_udf(ellipsoid)
    return df.withColumn(out, udf(*_cols(df, [lat1, lon1, lat2, lon2])))


def destination(df: DataFrame, lat: str, lon: str, bearing_col, distance_col,
                metric: str = "meter", ellipsoid="WGS-84",
                out_lat: str = "dest_lat", out_lon: str = "dest_lon") -> DataFrame:
    """Point reached from start + bearing + distance (Vincenty direct;
    reference ``destination``, distance.py:220-273). ``distance_col`` is
    in ``metric`` units; longitude normalized to [-180, 180].
    """
    from ..constants import unit_factor

    udf = destination_udf(ellipsoid)
    dist_m = F.col(distance_col) if isinstance(distance_col, str) else F.lit(distance_col)
    dist_m = dist_m / F.lit(unit_factor(metric))
    brg = F.col(bearing_col) if isinstance(bearing_col, str) else F.lit(bearing_col)
    dest = udf(F.col(lat), F.col(lon), brg, dist_m)
    return df.withColumn(out_lat, dest["lat"]).withColumn(out_lon, dest["lon"])


def interpolate(df: DataFrame, lat1: str, lon1: str, lat2: str, lon2: str,
                n_points: int = 1, ellipsoid="WGS-84",
                explode: bool = True) -> DataFrame:
    """n evenly-spaced interior waypoints along each row's geodesic
    (reference ``interpolate``, distance.py:279-356: endpoints excluded,
    n+1 equal segments, coincident -> repeated point).

    explode=True returns a row-per-waypoint relation with ``waypoint_idx``
    (posexplode); else an array column ``waypoints``.
    """
    if n_points < 1:
        raise ValueError(f"n_points must be >= 1, got {n_points}")
    udf = interpolate_udf(n_points, ellipsoid)
    arr = udf(*_cols(df, [lat1, lon1, lat2, lon2]))
    out = df.withColumn("waypoints", arr)
    if not explode:
        return out
    return out.select(
        *df.columns,
        F.posexplode("waypoints").alias("waypoint_idx", "waypoint"),
    ).select(
        *df.columns,
        "waypoint_idx",
        F.col("waypoint.lat").alias("wp_lat"),
        F.col("waypoint.lon").alias("wp_lon"),
    )


def midpoint(df: DataFrame, lat1: str, lon1: str, lat2: str, lon2: str,
             ellipsoid="WGS-84",
             out_lat: str = "mid_lat", out_lon: str = "mid_lon") -> DataFrame:
    """Geodesic midpoint = interpolate(n=1)[0] (reference ``midpoint``,
    distance.py:359-384); the same UDF as SQL ``geo_midpoint``."""
    udf = midpoint_udf(ellipsoid)
    mid = udf(*_cols(df, [lat1, lon1, lat2, lon2]))
    return df.withColumn(out_lat, mid["lat"]).withColumn(out_lon, mid["lon"])


def geodist_dimwise(df: DataFrame, id_col: str, lat_col: str, lon_col: str,
                    feature_cols: list[str], ellipsoid="WGS-84",
                    exact: bool = True) -> DataFrame:
    """Pairwise combined-geodesic + per-extra-dimension signed Euclidean
    diffs (reference ``geodist_dimwise``, geodesic.py:386-428) as an
    (id_1, id_2, dist_m, d_<feat>...) relation. ``exact=False`` swaps the
    Vincenty kernel for the codegen great-circle (closed-form, hence
    oracle-checkable — same fast/exact split as geodist_matrix).
    """
    d = _distance_m(exact, ellipsoid, "lat_1", "lon_1", "lat_2", "lon_2")
    return _pairs(df, df, id_col, lat_col, lon_col, feature_cols).select(
        "id_1", "id_2", d.alias("dist_m"),
        *[(F.col(f"{c}_2") - F.col(f"{c}_1")).alias(f"d_{c}") for c in feature_cols],
    )


def geodist_dimwise_haversine(df: DataFrame, id_col: str, lat_col: str,
                              lon_col: str, feature_cols: list[str] = (),
                              radius: float = EARTH_RADIUS_M) -> DataFrame:
    """Per-dimension SQUARED pairwise distances (reference
    ``geodist_dimwise_harvesine``, geodesic.py:856-919): the lat and lon
    dimensions get squared haversine meters on the R=6371009 sphere —
    the lon term uses the reference's mixed-latitude correction factor
    (1 - sin^2(dlat/2) - sin^2((lat1+lat2)/2)) — and every extra feature
    dimension gets its squared Euclidean diff. Relation form
    (id_1, id_2, sq_lat, sq_lon, sq_<feat>...), pure codegen, no UDFs.
    """
    pairs = _pairs(df, df, id_col, lat_col, lon_col, feature_cols)
    dlat2 = F.abs(F.radians(F.col("lat_1") - F.col("lat_2"))) / 2.0
    dlng2 = F.abs(F.radians(F.col("lon_1") - F.col("lon_2"))) / 2.0
    slat = F.sin(dlat2)
    sq_lat = F.pow(F.lit(2.0 * radius) * F.asin(F.abs(slat)), F.lit(2.0))
    ssum = F.sin(F.radians(F.col("lat_1") + F.col("lat_2")) / 2.0)
    inner = (F.lit(1.0) - slat * slat - ssum * ssum) * F.pow(F.sin(dlng2), F.lit(2.0))
    sq_lon = F.pow(F.lit(2.0 * radius) * F.asin(F.sqrt(inner)), F.lit(2.0))
    return pairs.select(
        "id_1", "id_2",
        sq_lat.alias("sq_lat"),
        sq_lon.alias("sq_lon"),
        *[F.pow(F.col(f"{c}_2") - F.col(f"{c}_1"), F.lit(2.0)).alias(f"sq_{c}")
          for c in feature_cols],
    )


# reference-spelling alias (geodesic.py:856 names it "harvesine")
geodist_dimwise_harvesine = geodist_dimwise_haversine
