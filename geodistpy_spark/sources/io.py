"""Readers/writers for the engine's tables (sources & sinks).

The reference has no IO surface (in-memory arrays only, SURVEY.md §2.3);
the engine's scale story depends on physical layout, so the writers are
first-class:

- :func:`write_cell_partitioned` — points written hive-partitioned by a
  COARSE cell id (plus optional file-level sort by fine cell). Radius /
  kNN / polygon covers then prune whole partitions at the file-listing
  level (partition pruning) before any row is read — the 100 TB analog
  of the in-memory cell prefilter.
  ``spark.read.parquet`` reads the layout back; the coarse cell column
  arrives as a partition column, so ``cell_pXX IN (...)`` predicates
  never touch non-matching files.
- :func:`write_documents` / :func:`read_documents` — the interleaved
  documents table, schema-checked against the input_hint contract.

Iceberg would supply snapshots + hidden partitioning at production; its
jars aren't in this environment, so plain parquet + explicit partition
columns + the checkpoint log (plans.pipeline) stand in with the same
semantics.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import grid
from ..functions.expressions import cell_id_col, parent_cell_col
from .documents import SPANS_SCHEMA_DDL


def write_cell_partitioned(df: DataFrame, path: str,
                           lat_col: str = "lat", lon_col: str = "lon",
                           res: int = 12, partition_res: int = 4,
                           mode: str = "overwrite") -> None:
    """Write points hive-partitioned by the parent cell at
    ``partition_res``; rows inside each partition carry the fine cell at
    ``res`` and are sorted by it (row-group pruning within files).
    """
    fine = f"cell_r{res}"
    part = f"cell_p{partition_res}"
    out = (
        df.withColumn(fine, cell_id_col(lat_col, lon_col, res))
        .withColumn(part, parent_cell_col(F.col(fine), res, partition_res))
        .repartition(part)
        .sortWithinPartitions(part, fine)
    )
    out.write.mode(mode).partitionBy(part).parquet(path)


def cells_to_partitions(cover_cells: list[int], res: int, partition_res: int) -> list[int]:
    """Partition values a cover set touches (for partition-pruned scans)."""
    cells = np.asarray(cover_cells, dtype=np.int64)
    return np.unique(grid.parent_cell(cells, res, partition_res)).tolist()


def write_adaptive_partitioned(df: DataFrame, path: str,
                               lat_col: str = "lat", lon_col: str = "lon",
                               max_per_cell: int = 100_000,
                               min_res: int = 2, max_res: int = 12,
                               mode: str = "overwrite") -> None:
    """Write points hive-partitioned by their DENSITY-ADAPTIVE cell
    (operators.indexing.adaptive_cell_index): every partition holds at
    most ~max_per_cell rows regardless of how skewed the corpus is —
    urban mega-cells split fine, oceans stay coarse — so file sizes are
    balanced by construction (the fixed-res layout leaves a Tokyo
    partition 1000x an ocean partition).
    """
    from ..operators.indexing import adaptive_cell_index

    out = adaptive_cell_index(df, lat_col, lon_col, max_per_cell,
                              min_res, max_res)
    (
        out.repartition("a_res", "a_cell")
        .sortWithinPartitions("a_res", "a_cell")
        .write.mode(mode).partitionBy("a_res", "a_cell").parquet(path)
    )


def adaptive_partitions_for_cover(spark: SparkSession, path: str,
                                  cover_cells: list[int], res: int) -> list[tuple[int, int]]:
    """(a_res, a_cell) partition values of an adaptive layout that can
    contain points of the given cover (cells at ``res``): an adaptive
    cell matches iff it is an ancestor or a descendant of a cover cell.
    The partition listing is read from the written metadata (one cheap
    distinct over partition columns — file-listing only, no row data).
    """
    rows = spark.read.parquet(path).select("a_res", "a_cell").distinct().collect()
    a_res = np.array([r["a_res"] for r in rows], dtype=np.int64)
    a_cell = np.array([r["a_cell"] for r in rows], dtype=np.int64)
    cover = np.asarray(cover_cells, dtype=np.int64)
    hit = np.zeros(len(rows), dtype=bool)
    for r in np.unique(a_res):
        at = a_res == r
        # coarser: a cover cell's ancestor is the adaptive cell; finer:
        # the adaptive cell's ancestor is a cover cell
        hit[at] = (np.isin(a_cell[at], grid.parent_cell(cover, res, r)) if r <= res
                   else np.isin(grid.parent_cell(a_cell[at], r, res), cover))
    return sorted(zip(a_res[hit].tolist(), a_cell[hit].tolist()))


def read_adaptive_for_radius(spark: SparkSession, path: str,
                             center: tuple[float, float], radius_m: float) -> DataFrame:
    """Read ONLY the adaptive partitions a radius query can touch, with
    the partition predicate pushed to the file listing. The cover
    (:func:`grid.cell_cover`) assumes WGS-84. Compose with
    operators.radius.point_in_radius for the exact refine:

        pts = read_adaptive_for_radius(spark, path, (48.85, 2.35), 1e5)
        hits = point_in_radius(pts, (48.85, 2.35), 1e5)
    """
    res, cover = grid.cell_cover(center[0], center[1], radius_m)
    parts = adaptive_partitions_for_cover(spark, path, cover, res)
    df = spark.read.parquet(path)
    if not parts:
        return df.limit(0)
    cond = None
    for r, c in parts:
        clause = (F.col("a_res") == r) & (F.col("a_cell") == c)
        cond = clause if cond is None else (cond | clause)
    return df.filter(cond)


def write_documents(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write an interleaved documents table (schema-checked)."""
    got = {f.name for f in df.schema.fields}
    if got != {"doc_id", "spans"}:
        raise ValueError(f"documents table must be (doc_id, spans); got {sorted(got)}")
    df.write.mode(mode).parquet(path)


def write_bucketed_cells(df: DataFrame, table: str, path: str,
                         lat_col: str = "lat", lon_col: str = "lon",
                         res: int = 12, n_buckets: int = 64,
                         mode: str = "overwrite") -> None:
    """Write points bucketed (and sorted) by the fine cell id.

    Two tables bucketed the same way join on ``cell_r{res}`` with NO
    shuffle on either side (SortMergeJoin over pre-sorted buckets) — the
    co-located-join layout for repeated spatial joins over the same
    corpus (north rule: bucketing for co-located joins). Requires a
    catalog table (``bucketBy`` is a table-format feature); ``path``
    makes it an external table so the data lives where the caller says.
    """
    cell = f"cell_r{res}"
    (
        df.withColumn(cell, cell_id_col(lat_col, lon_col, res))
        .write.mode(mode)
        .bucketBy(n_buckets, cell)
        .sortBy(cell)
        .option("path", path)
        .saveAsTable(table, format="parquet")
    )


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Read documents with the input_hint schema enforced (mis-typed
    files fail loudly instead of silently inferring)."""
    return spark.read.schema(SPANS_SCHEMA_DDL).parquet(path)
