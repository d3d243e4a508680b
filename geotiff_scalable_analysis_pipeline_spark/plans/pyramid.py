"""Quadtree tile pyramid materialized as snapshot tables (north rule).

Every level counts distinct tiles per cell, all levels in one parent-chain
pass over the finest level's tile cells (operators/raster.pyramid_rollup).
The table is partitioned by ``(level, cell_anchor)`` where ``cell_anchor`` is
the level-``ANCHOR_LEVEL`` ancestor cell: queries for a map viewport prune
to the anchor partitions that intersect it, the storage analog of the
reference's windowed block reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cells import level_expr, parent_expr
from ..operators.raster import pyramid_rollup, tile_footprints
from .catalog import TableCatalog

ANCHOR_LEVEL = 2  # 16 coarse partitions over the frame


def build_pyramid(
    catalog: TableCatalog,
    tiles: DataFrame,
    finest: int = 8,
    coarsest: int = 4,
    table: str = "tile_pyramid",
) -> int:
    """Materialize levels finest..coarsest; returns the snapshot id."""
    base = tile_footprints(tiles, finest).select("media_ref", "cell")
    out = (
        pyramid_rollup(base, finest - coarsest + 1)
        .withColumn("level", F.expr(f"CAST({level_expr('cell')} AS INT)"))
        .withColumn("cell_anchor", F.expr(parent_expr("cell", f"level - {ANCHOR_LEVEL}")))
    )
    return catalog.commit(out, table, partition_by=["level", "cell_anchor"], mode="overwrite")


def read_viewport(
    catalog: TableCatalog,
    spark: SparkSession,
    level: int,
    anchor_cells: set[int],
    table: str = "tile_pyramid",
) -> DataFrame:
    """Manifest-pruned read: only partitions of ``level`` whose anchor is in
    the viewport's anchor-cell set are scanned."""
    return catalog.read(
        spark,
        table,
        partition_filter=lambda p: int(p.get("level", -1)) == level
        and int(p.get("cell_anchor", -1)) in anchor_cells,
    )
