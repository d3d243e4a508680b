"""Media resolution layer (SURVEY.md §2.1 S1): media_ref → payload.

The reference resolves a band name to a file via glob patterns inside a
`.SAFE` directory (reference: src/eo_core/data.py:26-44). The engine's analog
is a manifest *join*: media payloads live in a cell-partitioned snapshot
table (plans/catalog.py) keyed by ``media_ref``, and span rows resolve their
payloads with an equi-join — broadcast when the referenced working set is
small, shuffle-hash on ``media_ref`` otherwise. Unmatched refs surface on a
lineage table via left_anti (reference raises FileNotFoundError,
data.py:137, 207-208 — here it's data, not an exception).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cells import cell_id_expr
from ..plans.catalog import TableCatalog

MEDIA_ANCHOR_LEVEL = 3


def write_media_store(
    catalog: TableCatalog,
    media: DataFrame,
    tiles_meta: DataFrame,
    table: str = "media",
) -> int:
    """Persist payloads partitioned by the tile's coarse cell → viewport
    queries prune payload files before any byte is read."""
    meta = tiles_meta.select(
        "media_ref",
        F.expr(cell_id_expr("CAST(cx AS DOUBLE)", "CAST(cy AS DOUBLE)", MEDIA_ANCHOR_LEVEL))
        .alias("cell_anchor"),
    )
    df = media.join(meta, "media_ref")
    return catalog.commit(df, table, partition_by=["cell_anchor"], mode="overwrite")


def resolve_media(
    spans: DataFrame,
    media: DataFrame,
    broadcast_media: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(resolved, unmatched): span rows joined to payloads + the anti-join
    lineage of refs that resolve to nothing."""
    m = F.broadcast(media) if broadcast_media else media
    resolved = spans.join(m, "media_ref")
    unmatched = spans.join(media.select("media_ref"), "media_ref", "left_anti")
    return resolved, unmatched


def read_media_viewport(
    catalog: TableCatalog,
    spark: SparkSession,
    anchor_cells: set[int],
    table: str = "media",
) -> DataFrame:
    return catalog.read(
        spark, table,
        partition_filter=lambda p: int(p.get("cell_anchor", -1)) in anchor_cells,
    )
