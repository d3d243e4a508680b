"""Raster decode + per-tile pixel statistics (the reference's analytic core,
re-expressed as DataFrame operators).

``media_ref`` spans resolve to GeoTIFF blobs which are decoded **inside
Arrow-batched ``mapInPandas``** (never per-row Python). The reference's
radiometric calibration chain is reproduced exactly:

* radiometric offset — processing baseline ≥ 400 → ``max(DN − 1000, 0)``
  (reference: src/eo_core/data.py:350-357, 413-414)
* reflectance scale — ``DN / 10000``  (reference: src/eo_core/data.py:417)

Exactness discipline: every per-tile statistic is accumulated as an *integer*
inside the UDF (sums of uint16 DNs), so cross-partition aggregation order
cannot perturb results; doubles only appear as final exact divisions. This is
how "per-tile zonal statistics must match exactly" survives a 1000-executor
shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PIXEL_STATS_SCHEMA = (
    "media_ref string, band int, cnt long, sum_dn long, sum_sq long, "
    "min_dn int, max_dn int, sum_cal long, mean_dn double, mean_refl double"
)

HIST_BINS = 16
HIST_SCHEMA = "media_ref string, band int, bin int, cnt long"

_STATS_KEYS = (
    "media_ref", "band", "cnt", "sum_dn", "sum_sq", "min_dn", "max_dn",
    "sum_cal", "mean_dn", "mean_refl",
)


def _append_band_stats(rows: dict, ref, baseline, a: np.ndarray) -> None:
    """Append one row per band of the calibration + integer-exact stats for a
    decoded (nb, H, W) int64 array. THE single definition of the radiometric
    rule (baseline ≥ 400 → max(DN−1000, 0)) and the nine stats columns —
    shared by the fused and unfused operators so they cannot drift."""
    cal = np.maximum(a - 1000, 0) if baseline >= 400 else a
    nb = a.shape[0]
    cnt = a.shape[1] * a.shape[2]
    s = a.sum(axis=(1, 2))
    ss = (a * a).sum(axis=(1, 2))
    sc = cal.sum(axis=(1, 2))
    rows["media_ref"] += [ref] * nb
    rows["band"] += list(range(nb))
    rows["cnt"] += [cnt] * nb
    rows["sum_dn"] += s.tolist()
    rows["sum_sq"] += ss.tolist()
    rows["min_dn"] += a.min(axis=(1, 2)).tolist()
    rows["max_dn"] += a.max(axis=(1, 2)).tolist()
    rows["sum_cal"] += sc.tolist()
    rows["mean_dn"] += (s / cnt).tolist()
    rows["mean_refl"] += (sc / (10000.0 * cnt)).tolist()


def _dense_hists(a: np.ndarray, bins: int, dn_max: int) -> list[np.ndarray]:
    """Per-band dense histograms under THE single bin rule
    ``bin = DN·bins // (dn_max+1)`` (exact parity with the SQL oracle)."""
    binned = (a * bins) // (dn_max + 1)
    return [np.bincount(binned[b].ravel(), minlength=bins) for b in range(a.shape[0])]


def tile_pixel_stats(media: DataFrame) -> DataFrame:
    """One row per (media_ref, band): integer-exact pixel statistics.

    Input: (media_ref, proc_baseline, payload BINARY). The decode + stats run
    per Arrow batch; per-pixel data never leaves the UDF.
    """
    import pandas as pd

    def stats(it):
        from ..formats import tiff

        for pdf in it:
            rows = {k: [] for k in _STATS_KEYS}
            for ref, baseline, payload in zip(
                pdf["media_ref"], pdf["proc_baseline"], pdf["payload"]
            ):
                arr, _ = tiff.decode(bytes(payload))
                _append_band_stats(rows, ref, baseline, arr.astype(np.int64))
            yield pd.DataFrame(rows)

    return media.select("media_ref", "proc_baseline", "payload").mapInPandas(
        stats, PIXEL_STATS_SCHEMA
    )


def tile_histogram(media: DataFrame, bins: int = HIST_BINS, dn_max: int = 10000) -> DataFrame:
    """Fixed-bin DN histogram per (media_ref, band): bin = DN·bins // (dn_max+1).

    Integer bin rule ⇒ exact parity with the SQL oracle's ``//`` expression.
    """
    import pandas as pd

    def hist(it):
        from ..formats import tiff

        for pdf in it:
            out = {"media_ref": [], "band": [], "bin": [], "cnt": []}
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                arr, _ = tiff.decode(bytes(payload))
                for b, counts in enumerate(
                    _dense_hists(arr.astype(np.int64), bins, dn_max)
                ):
                    nz = np.nonzero(counts)[0]
                    out["media_ref"] += [ref] * len(nz)
                    out["band"] += [b] * len(nz)
                    out["bin"] += nz.tolist()
                    out["cnt"] += counts[nz].tolist()
            yield pd.DataFrame(out)

    return media.select("media_ref", "payload").mapInPandas(hist, HIST_SCHEMA)


STRETCH_SCHEMA = (
    "media_ref string, band int, p_lo_dn int, p_hi_dn int, "
    "n_below long, n_above long"
)


def tile_percentile_stretch(media: DataFrame, p_lo: int = 2, p_hi: int = 98) -> DataFrame:
    """Per-tile contrast-stretch anchors: exact nearest-rank percentiles of
    the DN distribution plus the pixel counts a [p_lo, p_hi] stretch would
    clip (the reference's preview normalization picks display bounds the
    same way; reference reporters/preview.py percentile normalize).

    Nearest-rank rule, pinned for oracle parity: the p-th percentile is the
    value at 1-based rank ``ceil(p·n/100)`` of the sorted pixels — computed
    in pure integers as ``(p·n + 99) // 100``, so no float-ceil boundary
    drift between engine and SQL. ``n_below``/``n_above`` count pixels
    strictly outside the anchors.

    Scale shape: map-only. A tile's percentile is tile-local, so the sort
    happens on the decoded array inside the UDF and NOTHING shuffles —
    per-pixel data never leaves the executor at any corpus size.
    """
    import pandas as pd

    if not (0 < p_lo < p_hi < 100):
        raise ValueError(f"need 0 < p_lo < p_hi < 100; got {p_lo}, {p_hi}")

    cols = ("media_ref", "band", "p_lo_dn", "p_hi_dn", "n_below", "n_above")

    def stretch(it):
        from ..formats import tiff

        for pdf in it:
            rows = {k: [] for k in cols}
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                arr, _ = tiff.decode(bytes(payload))
                a = arr.astype(np.int64)
                n = a.shape[1] * a.shape[2]
                i_lo = (p_lo * n + 99) // 100 - 1
                i_hi = (p_hi * n + 99) // 100 - 1
                for b in range(a.shape[0]):
                    v = np.sort(a[b].ravel())
                    lo, hi = int(v[i_lo]), int(v[i_hi])
                    rows["media_ref"].append(ref)
                    rows["band"].append(b)
                    rows["p_lo_dn"].append(lo)
                    rows["p_hi_dn"].append(hi)
                    rows["n_below"].append(int((v < lo).sum()))
                    rows["n_above"].append(int((v > hi).sum()))
            yield pd.DataFrame(rows)

    return media.select("media_ref", "payload").mapInPandas(stretch, STRETCH_SCHEMA)


OVERVIEW_SCHEMA = (
    "media_ref string, band int, level int, n_px long, sum_ov long, "
    "min_ov int, max_ov int"
)


def tile_overview_stats(media: DataFrame, levels: int = 1) -> DataFrame:
    """Average-pooled overview pyramid per tile (the GDAL/COG "average"
    overview resampler, reference preview downscale family): level L halves
    each axis L times; pooled value = floor(mean of the 2×2 block) — the
    integer floor is THE pinned rule, so engine and oracle share one
    boundary convention. Emits per (tile, band, level) integer stats of the
    overview plane (per-pixel overview data never leaves the UDF).

    Scale shape: map-only — each tile's pyramid is tile-local, zero shuffle
    at any corpus size (cross-tile pyramid AGGREGATION is the separate
    pyramid_rollup operator). ``tile_px`` must be divisible by 2**levels.
    """
    import pandas as pd

    if levels < 1:
        raise ValueError(f"levels must be >= 1; got {levels}")

    cols = ("media_ref", "band", "level", "n_px", "sum_ov", "min_ov", "max_ov")

    def overview(it):
        from ..formats import tiff

        for pdf in it:
            rows = {k: [] for k in cols}
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                arr, _ = tiff.decode(bytes(payload))
                a = arr.astype(np.int64)
                if a.shape[1] % (1 << levels) or a.shape[2] % (1 << levels):
                    raise ValueError(
                        f"tile {a.shape[1]}x{a.shape[2]} not divisible by "
                        f"2**{levels}"
                    )
                for lvl in range(1, levels + 1):
                    # one 2x2 floor-mean pool per level, applied iteratively
                    # (pinned: floor at EVERY level, like GDAL's integer
                    # average overviews, not a single floor at the end)
                    a = (
                        a[:, 0::2, 0::2] + a[:, 0::2, 1::2]
                        + a[:, 1::2, 0::2] + a[:, 1::2, 1::2]
                    ) // 4
                    for b in range(a.shape[0]):
                        rows["media_ref"].append(ref)
                        rows["band"].append(b)
                        rows["level"].append(lvl)
                        rows["n_px"].append(a.shape[1] * a.shape[2])
                        rows["sum_ov"].append(int(a[b].sum()))
                        rows["min_ov"].append(int(a[b].min()))
                        rows["max_ov"].append(int(a[b].max()))
            yield pd.DataFrame(rows)

    return media.select("media_ref", "payload").mapInPandas(overview, OVERVIEW_SCHEMA)


FUSED_SCHEMA = PIXEL_STATS_SCHEMA + ", hist array<long>"


def tile_stats_and_histogram(
    media: DataFrame, bins: int = HIST_BINS, dn_max: int = 10000
) -> DataFrame:
    """Single-decode fusion of :func:`tile_pixel_stats` + :func:`tile_histogram`.

    The TIFF decode dominates the raster-stats pipeline; running the two
    operators separately decodes every payload twice. This emits ONE row per
    (media_ref, band) carrying the full pixel-stats columns plus the dense
    ``bins``-length histogram as an array — one decode pass, both families.
    Derive the individual surfaces with :func:`fused_stats` /
    :func:`fused_histogram`; both are bit-identical to the unfused operators
    (pinned by tests/test_raster.py).
    """
    import pandas as pd

    def both(it):
        from ..formats import tiff

        for pdf in it:
            rows = {k: [] for k in _STATS_KEYS + ("hist",)}
            for ref, baseline, payload in zip(
                pdf["media_ref"], pdf["proc_baseline"], pdf["payload"]
            ):
                arr, _ = tiff.decode(bytes(payload))
                a = arr.astype(np.int64)
                _append_band_stats(rows, ref, baseline, a)
                rows["hist"] += [h.tolist() for h in _dense_hists(a, bins, dn_max)]
            yield pd.DataFrame(rows)

    return media.select("media_ref", "proc_baseline", "payload").mapInPandas(
        both, FUSED_SCHEMA
    )


def fused_stats(fused: DataFrame) -> DataFrame:
    """Pixel-stats view of :func:`tile_stats_and_histogram` (≡ tile_pixel_stats)."""
    return fused.drop("hist")


def fused_histogram(fused: DataFrame) -> DataFrame:
    """Histogram view of :func:`tile_stats_and_histogram` (≡ tile_histogram):
    explode the dense array, keep non-zero bins only."""
    return (
        fused.select("media_ref", "band", F.posexplode("hist").alias("bin", "cnt"))
        .filter(F.col("cnt") > 0)
        .select("media_ref", "band", F.col("bin").cast("int").alias("bin"), "cnt")
    )


def band_normalized_difference(
    stats: DataFrame, b_plus: int, b_minus: int
) -> DataFrame:
    """Normalized-difference band index per tile (NDVI-family band math,
    reference's band-arithmetic surface): ``(Σcal_b+ − Σcal_b−) / (Σcal_b+ +
    Σcal_b−)`` over the tile's calibrated DNs.

    Computed from the per-band *integer* sums of :func:`tile_pixel_stats`
    (one tiny conditional aggregate over the band rows — the decoded pixels
    are never re-read), so the index is one exact-operand double division
    and both engines agree bit-for-bit. Denominator 0 → NULL (both engines
    share the rule).
    """
    piv = stats.groupBy("media_ref").agg(
        F.sum(F.when(F.col("band") == b_plus, F.col("sum_cal"))).alias("s_plus"),
        F.sum(F.when(F.col("band") == b_minus, F.col("sum_cal"))).alias("s_minus"),
    )
    num = F.col("s_plus") - F.col("s_minus")
    den = F.col("s_plus") + F.col("s_minus")
    return piv.select(
        "media_ref",
        F.col("s_plus").alias("sum_cal_plus"),
        F.col("s_minus").alias("sum_cal_minus"),
        F.when(den != 0, num.cast("double") / den.cast("double")).alias("ndi"),
    )


def tile_footprints(media_meta: DataFrame, level: int) -> DataFrame:
    """Cell cover of each tile footprint (bbox → covering cells, pure Catalyst).

    Input needs (media_ref, x0, y0, x1, y1). Output: (media_ref, cell, level)
    — the "tile assignments" surface the north rule checks exactly.
    """
    from .pip_join import cover_cells_rect

    boxed = media_meta.select(
        "media_ref",
        F.col("x0").alias("minx"),
        F.col("y0").alias("miny"),
        # half-open footprint: the pixel at x1/y1 belongs to the next tile
        (F.col("x1") - 1).alias("maxx"),
        (F.col("y1") - 1).alias("maxy"),
    )
    return cover_cells_rect(boxed, level).select(
        "media_ref", "cell", F.lit(level).alias("level")
    )


def pyramid_rollup(footprints: DataFrame, n_levels: int) -> DataFrame:
    """Quadtree tile pyramid: distinct-tile counts per cell at the base level
    and its ``n_levels - 1`` parent levels, in ONE pass.

    Input: (media_ref, cell) pairs at the base level (distinct per tile by
    construction of the cell cover). Each pair explodes into its parent chain
    — the cell id's low bits encode the level, so (media_ref, cell) stays a
    global key across levels — then a single distinct-aggregate counts tiles
    per cell. Two shuffles total regardless of ``n_levels`` (dedup on
    (cell, media_ref), count on cell), versus one distinct + one groupBy *per
    level* in the naive hierarchical rollup: on a local[32] driver bench that
    naive shape paid ~11 × the per-stage scheduling floor for 245 k rows
    (13 s for trivial data); at cluster scale it is n_levels sequential
    shuffle barriers instead of two.

    The rollup is semantically the hierarchical one (each coarser count
    aggregates distinct tiles, reference tiling pyramid semantics): counting
    distinct (media_ref, parent^i(cell)) pairs is identical to iterating
    parent + distinct per level, because parent() is a function — the chain
    explode just materializes all levels of the lattice at once.
    """
    from ..functions.cells import parent_expr

    chain = footprints.selectExpr(
        "media_ref",
        f"explode(array({', '.join(parent_expr('cell', s) for s in range(n_levels))})) AS cell",
    )
    return chain.groupBy("cell").agg(F.count_distinct("media_ref").alias("n_tiles"))
