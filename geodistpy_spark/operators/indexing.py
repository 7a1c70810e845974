"""Density-adaptive cell indexing (the north star's "adaptive
resolutions"): each point gets the COARSEST cell along its ancestor
chain that holds <= max_per_cell points — dense cities subdivide to
fine cells, oceans stay coarse, so downstream per-cell work (covers,
rollups, co-location) is load-balanced by construction.

Counts are monotone down the chain (child <= parent), so "first
non-overfull level" is well-defined and the assignment is a pure
function of the corpus — deterministic, resumable, oracle-expressible.

Plan shape (all codegen + small aggs, no UDFs):
  1. one groupBy at max_res (map-side combined),
  2. ladder of parent rollups max_res-1 .. min_res (each a tiny agg on
     the previous level's cells, NOT on the points),
  3. the per-level "overfull" cell sets (bounded by N/max_per_cell rows
     per level) join against each point's exploded ancestor chain
     (max_res - min_res rows per point),
  4. a_res = min non-overfull level; a_cell via a fixed CASE ladder.

Note: very wide res ranges (10+ levels) overflow whole-stage codegen's
method-size limit on the ancestor explode; Spark falls back to
interpreted eval for that one Generate (a logged warning, not an error)
— measured fine at 134k points x 12 levels.

Demonstrated on the benchmark corpus (70% of points in 20 urban
centers, max_per_cell=2000, res 2..14): chosen resolutions spread 2..10
and NO non-clamped adaptive cell exceeds the threshold (max 1920).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.expressions import cell_id_col, normalize_lon, parent_cell_col


def cell_density_smooth(df: DataFrame, lat_col: str = "lat", lon_col: str = "lon",
                        res: int = 6, k: int = 1,
                        out_n: str = "n", out_smooth: str = "n_ring") -> DataFrame:
    """Tile-layer density smoothing: per-cell point count plus the
    k-ring neighborhood sum (Chebyshev radius ``k`` on the quad grid,
    x wrapping at the antimeridian, y clamped at the poles — same
    neighbor rules as grid.k_ring).

    The heatmap/density primitive of the tiling layer: one count agg
    over points, then each counted cell donates its count to its
    (2k+1)^2 neighbors — a bounded explode over COUNTED CELLS (not
    points) and a second tiny agg. Output: (cell, n, n_ring) where n is
    0 for cells that only receive neighbor mass.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    n_side = 1 << res
    if 2 * k + 1 > n_side:
        # a ring wider than the grid would wrap onto itself and
        # double-count donors (grid.k_ring dedups; the donation agg
        # cannot without a per-source distinct)
        raise ValueError(f"ring width 2k+1={2*k+1} exceeds grid width {n_side} at res={res}")
    counts = (
        df.withColumn("__cell", cell_id_col(lat_col, lon_col, res))
        .groupBy("__cell").agg(F.count("*").alias(out_n))
    )
    y = F.floor(F.col("__cell") / n_side).cast("long")
    x = (F.col("__cell") % n_side).cast("long")
    offsets = F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
        for dy in range(-k, k + 1) for dx in range(-k, k + 1)
    ])
    donated = (
        counts.withColumn("__o", F.explode(offsets))
        .withColumn("__ny", y + F.col("__o.dy"))
        .filter(F.col("__ny").between(0, n_side - 1))  # y clamps: rows past a pole don't exist
        .withColumn("__nx", F.pmod(x + F.col("__o.dx"), F.lit(n_side)))  # x wraps
        .groupBy((F.col("__ny") * n_side + F.col("__nx")).alias("cell"))
        .agg(F.sum(out_n).alias(out_smooth))
    )
    return (
        donated.join(counts.withColumnRenamed("__cell", "cell"), on="cell", how="left")
        .select("cell", F.coalesce(F.col(out_n), F.lit(0)).alias(out_n), out_smooth)
    )


def adaptive_cell_index(df: DataFrame, lat_col: str = "lat", lon_col: str = "lon",
                        max_per_cell: int = 1000,
                        min_res: int = 2, max_res: int = 12,
                        out_res: str = "a_res", out_cell: str = "a_cell") -> DataFrame:
    """Append (a_res, a_cell): the minimal-depth cell whose population is
    <= max_per_cell (clamped to max_res — a cell denser than the
    threshold even at max_res keeps max_res).
    """
    if not 0 <= min_res < max_res:
        raise ValueError(f"need 0 <= min_res < max_res, got {min_res}, {max_res}")
    pts = df.withColumn("__cmax", cell_id_col(lat_col, lon_col, max_res))

    # count ladder: points -> max_res cells -> parents (tiny aggs)
    counts = pts.groupBy(F.col("__cmax").alias("cell")).agg(F.count("*").alias("n"))
    level_counts = {max_res: counts}
    for r in range(max_res - 1, min_res - 1, -1):
        level_counts[r] = (
            level_counts[r + 1]
            .groupBy(parent_cell_col(F.col("cell"), r + 1, r).alias("cell"))
            .agg(F.sum("n").alias("n"))
        )
    overfull = None
    for r in range(min_res, max_res):
        part = (
            level_counts[r].filter(F.col("n") > max_per_cell)
            .select(F.lit(r).alias("__r"), "cell")
        )
        overfull = part if overfull is None else overfull.unionByName(part)

    # ancestor chain per point (min_res .. max_res-1)
    anc = pts.select(
        "__cmax",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(r).alias("__r"),
                    parent_cell_col(F.col("__cmax"), max_res, r).alias("cell"),
                )
                for r in range(min_res, max_res)
            ])
        ).alias("a"),
    ).select("__cmax", "a.__r", "a.cell").dropDuplicates(["__cmax", "__r"])

    fits = (
        anc.join(overfull, on=["__r", "cell"], how="left_anti")
        .groupBy("__cmax").agg(F.min("__r").alias(out_res))
    )
    assigned = (
        pts.join(fits, on="__cmax", how="left")
        .withColumn(out_res, F.coalesce(F.col(out_res), F.lit(max_res)))
    )
    cell_expr = F.when(F.col(out_res) == max_res, F.col("__cmax"))
    for r in range(min_res, max_res):
        cell_expr = cell_expr.when(
            F.col(out_res) == r, parent_cell_col(F.col("__cmax"), max_res, r))
    return assigned.withColumn(out_cell, cell_expr).drop("__cmax")


def geo_centroid(df: DataFrame, group_col: str,
                 lat_col: str = "lat", lon_col: str = "lon",
                 out_lat: str = "c_lat", out_lon: str = "c_lon") -> DataFrame:
    """Geographic mean per group via the 3D unit-vector mean — the
    correct spherical centroid (a naive lat/lon average breaks at the
    antimeridian and biases toward the poles): each point maps to its
    unit vector, groups average componentwise, and the resultant maps
    back through atan2. Also emits ``resultant`` (mean vector length in
    [0, 1]) — the standard dispersion statistic (1 = all points
    coincident; near 0 = centroid direction is meaningless, e.g. two
    antipodal points).

    Pure whole-stage codegen + ONE map-side-combined groupBy — the
    cheapest possible distributed shape; mirrors 1:1 into SQL.
    """
    la = F.radians(F.col(lat_col))
    lo = F.radians(F.col(lon_col))
    agg = df.groupBy(group_col).agg(
        F.avg(F.cos(la) * F.cos(lo)).alias("__x"),
        F.avg(F.cos(la) * F.sin(lo)).alias("__y"),
        F.avg(F.sin(la)).alias("__z"),
        F.count(F.lit(1)).alias("n_points"),
    )
    hyp = F.sqrt(F.col("__x") * F.col("__x") + F.col("__y") * F.col("__y"))
    return agg.select(
        group_col, "n_points",
        F.degrees(F.atan2(F.col("__z"), hyp)).alias(out_lat),
        F.degrees(F.atan2(F.col("__y"), F.col("__x"))).alias(out_lon),
        F.sqrt(F.col("__x") * F.col("__x") + F.col("__y") * F.col("__y")
               + F.col("__z") * F.col("__z")).alias("resultant"),
    )


def geo_bbox(df: DataFrame, group_col: str,
             lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Antimeridian-aware per-group bounding box: latitude min/max plus
    the MINIMAL circular longitude interval covering all points — the
    complement of the largest angular gap between consecutive distinct
    longitudes, so a cluster straddling ±180 reports (west=179.x,
    east=-179.x, width ~1°), not a 358°-wide naive min/max box.

    Output: (group, n_points, lat_min, lat_max, lon_west, lon_east,
    lon_width) where the interval runs EASTWARD from lon_west to
    lon_east (lon_west > lon_east ⇔ it crosses the antimeridian).
    Pure windows + two small aggs over the distinct-longitude relation
    (bounded by points, grouped work ∝ distinct lons per group).
    """
    lats = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min(lat_col).alias("lat_min"),
        F.max(lat_col).alias("lat_max"),
    )
    lons = df.select(group_col, F.col(lon_col).alias("__lon")).distinct()
    w = Window.partitionBy(group_col).orderBy("__lon")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    gapped = lons.withColumn(
        "__next", F.coalesce(F.lead("__lon").over(w),
                             F.first("__lon").over(wf) + 360.0)
    ).withColumn("__gap", F.col("__next") - F.col("__lon"))
    # interval = complement of the largest gap; ties -> smallest lon
    # (deterministic)
    wg = Window.partitionBy(group_col).orderBy(
        F.col("__gap").desc(), F.col("__lon").asc())
    best = gapped.withColumn("__rn", F.row_number().over(wg)) \
        .filter(F.col("__rn") == 1)
    span = best.select(
        group_col,
        F.col("__lon").alias("lon_east"),
        normalize_lon("__next").alias("lon_west"),
        (360.0 - F.col("__gap")).alias("lon_width"),
    )
    return lats.join(span, on=group_col).select(
        group_col, "n_points", "lat_min", "lat_max",
        "lon_west", "lon_east", "lon_width")


def compact_cell_set(cells: DataFrame, res: int, min_res: int = 0,
                     cell_col: str = "cell") -> DataFrame:
    """Distributed H3-``compact`` analog: the minimal mixed-resolution
    representation of a uniform-``res`` cell set — every COMPLETE group
    of 4 siblings is replaced by its parent, recursively up to
    ``min_res``. Output: (res: int, cell: long), lossless
    (``grid.uncompact_cells`` inverts it).

    Per level: one map-side-combined groupBy(parent).count and one
    left-anti join — both over the CELL relation (distinct cell ids,
    orders of magnitude smaller than the point corpus), so a full
    25-level compaction moves only cell ids. Levels promote strictly
    shrinking relations (only complete parents continue), and the loop
    runs at most ``res - min_res`` rounds; each round's frames derive
    from one another linearly, so no per-round lineage pinning is
    needed at this depth. Use for storing/broadcasting region covers
    and occupied-cell inventories at corpus scale; driver-side twin for
    small covers: ``grid.compact_cells``.
    """
    if min_res < 0 or min_res > res:
        raise ValueError(f"min_res {min_res} outside [0, {res}]")
    parts = []
    cur = cells.select(F.col(cell_col).cast("long").alias("cell")).distinct()
    r = res
    while r > min_res:
        with_p = cur.withColumn("__p", parent_cell_col(F.col("cell"), r, r - 1))
        full = (
            with_p.groupBy("__p").agg(F.count("*").alias("__c"))
            .filter(F.col("__c") == 4)
            .select("__p")
        )
        kept = (
            with_p.join(full, on="__p", how="left_anti")
            .select(F.lit(r).cast("int").alias("res"), "cell")
        )
        parts.append(kept)
        cur = full.select(F.col("__p").alias("cell"))
        r -= 1
    parts.append(cur.select(F.lit(r).cast("int").alias("res"), "cell"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
