"""Driver-facing spatial query catalogue (SURVEY.md §2 J4/J5/A5/R1 + north rule).

Each ``q_*`` function takes (spark, sf_dir) and returns a DataFrame; the
matching ``SQL_*`` string is the DuckDB oracle recomputing the identical
result from the same deterministic integer formulas (datagen.py). Column
names and exact values match — the driver's order-insensitive value hash is
satisfied bit-for-bit.

The golden corpus size is FIXED (GoldenConfig defaults scaled down to keep
the sf0.01 correctness run fast); sf_dir is ignored by these queries (the
relational catalogue uses it). bench.py scales the same operators up
independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import datagen as dg
from .functions.cells import cell_id_sql, cell_res, level_expr
from .operators import chunking, knn, pip_join, raster, spans, warp, zonal

# fixed correctness-scale corpus (driver runs these at sf0.01)
CFG = dg.GoldenConfig(n_tiles=2000, n_points=500, n_docs=5000, n_media_tiles=200)
LEVEL = 6  # footprint / rollup level
PIP_LEVEL = 5


# ---------------------------------------------------------------------------
# PIP joins (J4)
# ---------------------------------------------------------------------------


def q_pip_rect(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = dg.tiles_df(spark, CFG).select("media_ref", "cx", "cy")
    out = pip_join.pip_join_rect(t, dg.rect_zones_df(spark, CFG), x="cx", y="cy", level=PIP_LEVEL)
    return out.select("media_ref", "zone_id")


SQL_PIP_RECT = f"""WITH {dg.tiles_sql(CFG)}, {dg.rect_zones_sql(CFG)}
SELECT t.media_ref, z.zone_id
FROM tiles_geo t JOIN rzones z
  ON t.cx BETWEEN z.minx AND z.maxx AND t.cy BETWEEN z.miny AND z.maxy"""


def q_pip_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = dg.tiles_df(spark, CFG).select("media_ref", "cx", "cy")
    out = pip_join.pip_join_poly(t, dg.poly_zones_df(spark, CFG), x="cx", y="cy", level=PIP_LEVEL)
    return out.select("media_ref", "zone_id")


_CROSS = "( (ex2-ex1)*(t.cy-ey1) - (t.cx-ex1)*(ey2-ey1) )"
SQL_PIP_POLY = f"""WITH {dg.tiles_sql(CFG)}, {dg.poly_edges_sql(CFG)}
SELECT t.media_ref, e.zone_id
FROM tiles_geo t JOIN pedges e ON TRUE
GROUP BY t.media_ref, e.zone_id
HAVING SUM(CASE WHEN ((ey1 > t.cy) <> (ey2 > t.cy))
                 AND (CASE WHEN ey2 > ey1 THEN {_CROSS} > 0 ELSE {_CROSS} < 0 END)
           THEN 1 ELSE 0 END) % 2 = 1"""


def q_pip_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join lineage surface (J7): tiles falling in NO rect zone."""
    t = dg.tiles_df(spark, CFG).select("media_ref", "cx", "cy")
    matched = pip_join.pip_join_rect(
        t, dg.rect_zones_df(spark, CFG), x="cx", y="cy", level=PIP_LEVEL
    ).select("media_ref")
    return t.join(matched, "media_ref", "left_anti").select("media_ref")


SQL_PIP_UNMATCHED = f"""WITH {dg.tiles_sql(CFG)}, {dg.rect_zones_sql(CFG)}
SELECT t.media_ref FROM tiles_geo t
WHERE NOT EXISTS (SELECT 1 FROM rzones z
  WHERE t.cx BETWEEN z.minx AND z.maxx AND t.cy BETWEEN z.miny AND z.maxy)"""


def q_overlay_rect_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layer-vs-layer spatial overlay (operators/overlay.py): every
    positive-area intersection between the two rect-zone layers, emitted
    exactly once via the reference-point rule — no distinct shuffle."""
    from .operators import overlay

    return overlay.overlay_rect_join(
        dg.rect_zones_df(spark, CFG), dg.rect_zones_b_df(spark, CFG), level=PIP_LEVEL
    )


SQL_OVERLAY = f"""WITH {dg.rect_zones_sql(CFG)}, {dg.rect_zones_b_sql(CFG)}
SELECT a.zone_id AS zone_a, b.zone_id AS zone_b,
       CAST(LEAST(a.maxx, b.maxx) - GREATEST(a.minx, b.minx) AS BIGINT) AS inter_w,
       CAST(LEAST(a.maxy, b.maxy) - GREATEST(a.miny, b.miny) AS BIGINT) AS inter_h,
       CAST((LEAST(a.maxx, b.maxx) - GREATEST(a.minx, b.minx))
          * (LEAST(a.maxy, b.maxy) - GREATEST(a.miny, b.miny)) AS BIGINT) AS inter_area
FROM rzones a JOIN bzones b
  ON GREATEST(a.minx, b.minx) < LEAST(a.maxx, b.maxx)
 AND GREATEST(a.miny, b.miny) < LEAST(a.maxy, b.maxy)"""


def q_tile_overviews(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile average-pooled overview pyramid (levels 1-2), iterative
    integer floor-mean — map-only, operators/raster.py."""
    return raster.tile_overview_stats(dg.media_df(spark, CFG), levels=2)


def _sql_tile_overviews() -> str:
    px, nb = CFG.tile_px, CFG.n_bands
    dn = dg.dn_sql("t.tile_k", "b.band", "r.i", "c.i")
    return f"""WITH {dg.tiles_sql(CFG)},
pxl AS (
  SELECT t.media_ref, b.band, r.i AS R, c.i AS C, {dn} AS dn
  FROM tiles_geo t, range(0, {nb}) b(band),
       range(0, {px}) r(i), range(0, {px}) c(i)
  WHERE t.tile_k < {CFG.n_media_tiles}),
ov1 AS (
  SELECT media_ref, band, R//2 AS R, C//2 AS C, SUM(dn)//4 AS v
  FROM pxl GROUP BY media_ref, band, R//2, C//2),
ov2 AS (
  SELECT media_ref, band, R//2 AS R, C//2 AS C, SUM(v)//4 AS v
  FROM ov1 GROUP BY media_ref, band, R//2, C//2)
SELECT media_ref, CAST(band AS INTEGER) AS band, CAST(1 AS INTEGER) AS level,
       count(*) AS n_px, CAST(sum(v) AS BIGINT) AS sum_ov,
       CAST(min(v) AS INTEGER) AS min_ov, CAST(max(v) AS INTEGER) AS max_ov
FROM ov1 GROUP BY media_ref, band
UNION ALL
SELECT media_ref, CAST(band AS INTEGER) AS band, CAST(2 AS INTEGER) AS level,
       count(*) AS n_px, CAST(sum(v) AS BIGINT) AS sum_ov,
       CAST(min(v) AS INTEGER) AS min_ov, CAST(max(v) AS INTEGER) AS max_ov
FROM ov2 GROUP BY media_ref, band"""


DIST_RADIUS = 3000


def q_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-distance join (operators/distance_join.py): every (query point,
    tile-center) pair within 3 km — grid-partitioned equi-join, never a
    CartesianProduct."""
    from .operators import distance_join

    q = dg.points_df(spark, CFG)
    t = dg.tiles_df(spark, CFG).select("media_ref", "cx", "cy")
    out = distance_join.distance_join(q, t, radius=DIST_RADIUS)
    return out.select("q_id", "media_ref", F.col("dist_sq").cast("long").alias("dist_sq"))


SQL_DISTANCE_JOIN = f"""WITH {dg.tiles_sql(CFG)}, {dg.points_sql(CFG)}
SELECT q.q_id, t.media_ref,
       CAST((q.qx-t.cx)*(q.qx-t.cx) + (q.qy-t.cy)*(q.qy-t.cy) AS BIGINT) AS dist_sq
FROM qpts q JOIN tiles_geo t
  ON (q.qx-t.cx)*(q.qx-t.cx) + (q.qy-t.cy)*(q.qy-t.cy) <= {DIST_RADIUS * DIST_RADIUS}"""


# ---------------------------------------------------------------------------
# IDW interpolation (operators/interpolate.py)
# ---------------------------------------------------------------------------

IDW_RADIUS = 6000
IDW_SEED = 41  # deterministic per-tile observation value v = ihash(k,41) % 10000


def q_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point IDW surface estimate at each query point from the tile
    observations within 6 km (operators/interpolate.py): integer 1/d²
    weights, exact-hit short-circuit, NULL estimate outside coverage (the
    far-margin points exercise the no-neighbor path)."""
    from .operators import interpolate

    obs = dg.tiles_df(spark, CFG).select(
        "cx",
        "cy",
        (dg.ihash_col(F.col("tile_k"), IDW_SEED) % 10000).alias("v"),
        F.col("tile_k").alias("obs_id"),
    )
    return interpolate.idw(dg.points_df(spark, CFG), obs, radius=IDW_RADIUS, oid="obs_id")


_IDW_D2 = "(q.qx-o.cx)*(q.qx-o.cx)+(q.qy-o.cy)*(q.qy-o.cy)"
_IDW_W = f"CAST(100000000000 AS BIGINT) // d2"
SQL_IDW = f"""WITH {dg.tiles_sql(CFG)}, {dg.points_sql(CFG)},
obs AS (
  SELECT cx, cy, {dg.ihash_sql('tile_k', IDW_SEED)} % 10000 AS v, tile_k AS obs_id
  FROM tiles_geo),
pairs AS (
  SELECT q.q_id, o.v, o.obs_id, {_IDW_D2} AS d2
  FROM qpts q JOIN obs o ON {_IDW_D2} <= {IDW_RADIUS * IDW_RADIUS}),
agg AS (
  SELECT q_id, count(*) AS n_obs,
         CASE WHEN max(CASE WHEN d2 = 0 THEN 1 ELSE 0 END) = 1
              THEN arg_min(v, CASE WHEN d2 = 0 THEN obs_id END)
              WHEN sum(CASE WHEN d2 > 0 THEN {_IDW_W} END) > 0
              THEN sum(CASE WHEN d2 > 0 THEN ({_IDW_W}) * v END)
                   // sum(CASE WHEN d2 > 0 THEN {_IDW_W} END)
         END AS est
  FROM pairs GROUP BY q_id)
SELECT q.q_id, CAST(COALESCE(a.n_obs, 0) AS BIGINT) AS n_obs,
       CAST(a.est AS BIGINT) AS est
FROM qpts q LEFT JOIN agg a USING (q_id)"""


# ---------------------------------------------------------------------------
# KDE density surface (operators/density.py)
# ---------------------------------------------------------------------------

KDE_CELL = 4000
KDE_RADIUS = 6000


def q_kde_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epanechnikov kernel-density heatmap of the query-point layer on the
    4 km grid (operators/density.py): map-side bounded array expand (5×5
    neighborhood) → one map-combined groupBy(cell) — zero joins, exact
    integer weights R²−d²."""
    from .operators import density

    return density.kde_surface(
        dg.points_df(spark, CFG), cell=KDE_CELL, radius=KDE_RADIUS
    )


def _sql_kde() -> str:
    from .operators import density

    return density.kde_surface_sql(
        dg.points_sql(CFG), "qpts", cell=KDE_CELL, radius=KDE_RADIUS
    )


# ---------------------------------------------------------------------------
# Moran's I (operators/spatial_stats.py)
# ---------------------------------------------------------------------------

MORAN_CELL = 4000


def q_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global spatial autocorrelation of tile density on the 4 km grid:
    the four exact integer components of Moran's I (rook weights,
    occupied cells) — I = (n/W)·(num/den), division left to the caller
    so no cross-engine rounding surface exists. The hotspot-clustered
    tile placement makes I strongly positive."""
    from .operators import spatial_stats

    t = dg.tiles_df(spark, CFG)
    cells = (
        t.select(
            F.expr(f"cx div {MORAN_CELL}").alias("ci"),
            F.expr(f"cy div {MORAN_CELL}").alias("cj"),
        )
        .groupBy("ci", "cj")
        .agg(F.count("*").alias("x"))
    )
    return spatial_stats.morans_i_components(cells)


def _sql_morans_i() -> str:
    from .operators import spatial_stats

    cte = f"""{dg.tiles_sql(CFG)},
mcells AS (
  SELECT cx // {MORAN_CELL} AS ci, cy // {MORAN_CELL} AS cj, count(*) AS x
  FROM tiles_geo GROUP BY 1, 2)"""
    return spatial_stats.morans_i_sql(cte, "mcells")


def q_local_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell LISA components over the same 4 km tile-density grid:
    hot spots / cold spots / outliers from the signs of (u, nbr_sum_u) —
    no division, no float."""
    from .operators import spatial_stats

    t = dg.tiles_df(spark, CFG)
    cells = (
        t.select(
            F.expr(f"cx div {MORAN_CELL}").alias("ci"),
            F.expr(f"cy div {MORAN_CELL}").alias("cj"),
        )
        .groupBy("ci", "cj")
        .agg(F.count("*").alias("x"))
    )
    return spatial_stats.local_moran_components(cells)


def _sql_local_moran() -> str:
    from .operators import spatial_stats

    cte = f"""{dg.tiles_sql(CFG)},
mcells AS (
  SELECT cx // {MORAN_CELL} AS ci, cy // {MORAN_CELL} AS cj, count(*) AS x
  FROM tiles_geo GROUP BY 1, 2)"""
    return spatial_stats.local_moran_sql(cte, "mcells")


EHS_TB = 250  # acquisition-index width of one time bucket (8 buckets)


def q_emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emerging-hotspot analysis (the ArcGIS space-time-cube workflow) as
    a COMPOSITION of two engine operators: local Moran LISA components
    over total tile density × the Mann-Kendall trend of each cell's
    per-time-bucket counts. ``emerging-hot`` = spatial hot spot (u>0,
    lag>0) with a rising density trend (S>0) — all integer signs, no
    float, each building block independently oracle-checked elsewhere."""
    from .operators import spatial_stats, temporal

    t = dg.tiles_df(spark, CFG)
    base = t.select(
        F.expr(f"cx div {MORAN_CELL}").alias("ci"),
        F.expr(f"cy div {MORAN_CELL}").alias("cj"),
        F.expr(f"tile_k div {EHS_TB}").alias("tb"),
    )
    cnt = base.groupBy("ci", "cj", "tb").agg(F.count("*").alias("x"))
    total = cnt.groupBy("ci", "cj").agg(F.sum("x").alias("x"))
    lisa = spatial_stats.local_moran_components(total)
    trend = temporal.mann_kendall_s(cnt, keys=("ci", "cj"), ts="tb", value="x")
    cls = (
        F.when(
            (F.col("u") > 0) & (F.col("nbr_sum_u") > 0) & (F.col("mk_s") > 0),
            "emerging-hot",
        )
        .when((F.col("u") > 0) & (F.col("nbr_sum_u") > 0), "hot")
        .when((F.col("u") < 0) & (F.col("nbr_sum_u") < 0), "cold")
        .otherwise("other")
    )
    return lisa.join(trend, ["ci", "cj"]).select(
        "ci", "cj", "u", "nbr_sum_u", "n_obs", "mk_s", cls.alias("hotspot_class")
    )


def _sql_emerging_hotspots() -> str:
    sign = "CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END"
    return f"""WITH {dg.tiles_sql(CFG)},
tb AS (
  SELECT cx // {MORAN_CELL} AS ci, cy // {MORAN_CELL} AS cj,
         tile_k // {EHS_TB} AS tb
  FROM tiles_geo),
cnt AS (SELECT ci, cj, tb, count(*) AS x FROM tb GROUP BY 1, 2, 3),
total AS (SELECT ci, cj, sum(x) AS x FROM cnt GROUP BY 1, 2),
tot AS (SELECT count(*) AS n, sum(x) AS sx FROM total),
u AS (SELECT ci, cj, t.n * c.x - t.sx AS u FROM total c CROSS JOIN tot t),
nbr AS (
  SELECT u.ci + o.di AS ci, u.cj + o.dj AS cj, u.u AS u_nbr
  FROM u CROSS JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(di, dj)),
lag AS (
  SELECT n.ci, n.cj, sum(n.u_nbr) AS nbr_sum_u, count(*) AS n_nbrs
  FROM nbr n JOIN u ON u.ci = n.ci AND u.cj = n.cj GROUP BY n.ci, n.cj),
r AS (SELECT ci, cj, x, row_number() OVER (PARTITION BY ci, cj ORDER BY tb, x) AS rn
      FROM cnt),
s AS (SELECT a.ci, a.cj, sum({sign}) AS mk_s
      FROM r a JOIN r b ON b.ci = a.ci AND b.cj = a.cj AND b.rn > a.rn
      GROUP BY a.ci, a.cj),
n AS (SELECT ci, cj, count(*) AS n_obs FROM cnt GROUP BY 1, 2)
SELECT u.ci, u.cj, CAST(u.u AS BIGINT) AS u,
       CAST(COALESCE(l.nbr_sum_u, 0) AS BIGINT) AS nbr_sum_u,
       CAST(n.n_obs AS BIGINT) AS n_obs,
       CAST(COALESCE(s.mk_s, 0) AS BIGINT) AS mk_s,
       CASE WHEN u.u > 0 AND COALESCE(l.nbr_sum_u, 0) > 0
              AND COALESCE(s.mk_s, 0) > 0 THEN 'emerging-hot'
            WHEN u.u > 0 AND COALESCE(l.nbr_sum_u, 0) > 0 THEN 'hot'
            WHEN u.u < 0 AND COALESCE(l.nbr_sum_u, 0) < 0 THEN 'cold'
            ELSE 'other' END AS hotspot_class
FROM u
LEFT JOIN lag l ON l.ci = u.ci AND l.cj = u.cj
JOIN n ON n.ci = u.ci AND n.cj = u.cj
LEFT JOIN s ON s.ci = u.ci AND s.cj = u.cj"""


# ---------------------------------------------------------------------------
# corridor join (operators/corridor.py)
# ---------------------------------------------------------------------------

CORRIDOR_RADIUS = 3000
N_SEGMENTS = 60


def q_corridor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (query point, polyline segment) pair within 3 km, with the
    exact integer point-segment predicate (operators/corridor.py): grid
    cover of the r-expanded segment bbox ⋈ point home cell — exactly-once
    by construction, never a CartesianProduct."""
    from .operators import corridor

    out = corridor.segment_distance_join(
        dg.points_df(spark, CFG).select("q_id", "qx", "qy"),
        dg.segments_df(spark, N_SEGMENTS),
        radius=CORRIDOR_RADIUS,
    )
    return out.select("q_id", "seg_id", "nearest", "dist_sq")


def _sql_corridor() -> str:
    from .operators import corridor

    inner = corridor.segment_distance_join_sql(
        dg.points_sql(CFG),
        "qpts",
        dg.segments_sql(N_SEGMENTS),
        "segs",
        radius=CORRIDOR_RADIUS,
    )
    return f"SELECT q_id, seg_id, nearest, dist_sq FROM ({inner})"


# ---------------------------------------------------------------------------
# DBSCAN spatial clustering (operators/dbscan.py)
# ---------------------------------------------------------------------------

DBSCAN_EPS = 6000
DBSCAN_MIN_PTS = 6  # counts the point itself (textbook |N_eps(p)|)


def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Euclidean DBSCAN over the query-point layer: grid-partitioned
    ε-self-join → degree → core predicate → large/small-star CC over
    core–core edges → min-rule border assignment (operators/dbscan.py).
    At eps=6000/min_pts=6 the golden corpus splits 282 core / 131 border /
    87 noise across 16 clusters — every code path exercised."""
    from .operators import dbscan

    return dbscan.dbscan(dg.points_df(spark, CFG), eps=DBSCAN_EPS, min_pts=DBSCAN_MIN_PTS)


# The oracle recomputes DBSCAN from first principles: brute-force ε-pairs,
# degree-counted cores, transitive closure over core–core edges via a
# recursive CTE (min-label reach, same pattern as SQL_SEMANTIC_DEDUP), and
# the engine's documented deterministic min-rule for border points.
SQL_DBSCAN = f"""WITH RECURSIVE {dg.points_sql(CFG)},
pairs AS MATERIALIZED (
  SELECT a.q_id AS u, b.q_id AS v
  FROM qpts a JOIN qpts b
    ON (a.qx-b.qx)*(a.qx-b.qx) + (a.qy-b.qy)*(a.qy-b.qy)
       <= {DBSCAN_EPS * DBSCAN_EPS}),
core AS MATERIALIZED (
  SELECT u AS q_id FROM pairs GROUP BY u HAVING count(*) >= {DBSCAN_MIN_PTS}),
cedges AS MATERIALIZED (
  SELECT p.u, p.v FROM pairs p
  JOIN core ca ON ca.q_id = p.u
  JOIN core cb ON cb.q_id = p.v),
reach(node, lab) AS (
  SELECT q_id, q_id FROM core
  UNION
  SELECT e.v, r.lab FROM reach r JOIN cedges e ON e.u = r.node),
rep AS (SELECT node AS q_id, min(lab) AS cluster_id FROM reach GROUP BY node),
border AS (
  SELECT p.u AS q_id, min(r.cluster_id) AS cluster_id
  FROM pairs p JOIN rep r ON r.q_id = p.v
  WHERE p.u NOT IN (SELECT q_id FROM core)
  GROUP BY p.u)
SELECT q.q_id,
       CASE WHEN rep.q_id IS NOT NULL THEN 'core'
            WHEN border.q_id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(COALESCE(rep.cluster_id, border.cluster_id, -1) AS BIGINT) AS cluster_id
FROM qpts q
LEFT JOIN rep USING (q_id)
LEFT JOIN border ON border.q_id = q.q_id"""


# ---------------------------------------------------------------------------
# kNN (J5)
# ---------------------------------------------------------------------------


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = knn.knn_join(dg.points_df(spark, CFG), dg.tiles_df(spark, CFG), k=CFG.knn_k)
    return out.select("q_id", F.col("rank").cast("long").alias("rank"), "media_ref", "dist_sq")


_D = "(q.qx-t.cx)*(q.qx-t.cx)+(q.qy-t.cy)*(q.qy-t.cy)"
SQL_KNN = f"""WITH {dg.tiles_sql(CFG)}, {dg.points_sql(CFG)},
scored AS (
  SELECT q.q_id, t.media_ref, {_D} AS dist_sq,
         row_number() OVER (PARTITION BY q.q_id ORDER BY {_D}, t.media_ref) AS rank
  FROM qpts q CROSS JOIN tiles_geo t)
SELECT q_id, rank, media_ref, dist_sq FROM scored WHERE rank <= {CFG.knn_k}"""


# ---------------------------------------------------------------------------
# tile assignments / pyramid (north rule: cell encoding + quadtree rollup)
# ---------------------------------------------------------------------------


def q_tile_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    return raster.tile_footprints(dg.tiles_df(spark, CFG), LEVEL).select(
        "media_ref", "cell", F.col("level").cast("int").alias("level")
    )


def _sql_tile_cells(level: int) -> str:
    res = cell_res(level)
    return f"""WITH {dg.tiles_sql(CFG)},
latt AS (SELECT media_ref,
    CAST(FLOOR(x0 / {res}) AS BIGINT) AS ix0, CAST(FLOOR((x1-1) / {res}) AS BIGINT) AS ix1,
    CAST(FLOOR(y0 / {res}) AS BIGINT) AS iy0, CAST(FLOOR((y1-1) / {res}) AS BIGINT) AS iy1
  FROM tiles_geo)
SELECT l.media_ref,
       {cell_id_sql(f"(l.ix0 + gx.i) * {res}", f"(l.iy0 + gy.i) * {res}", level)} AS cell,
       CAST({level} AS INTEGER) AS level
FROM latt l
JOIN range(0, 64) gx(i) ON gx.i <= l.ix1 - l.ix0
JOIN range(0, 64) gy(i) ON gy.i <= l.iy1 - l.iy0"""


SQL_TILE_CELLS = _sql_tile_cells(LEVEL)


def q_pyramid_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadtree pyramid: distinct-tile counts per cell at levels
    LEVEL..LEVEL-3, single-pass parent-chain explode (two shuffles for all
    levels — see operators/raster.pyramid_rollup)."""
    base = raster.tile_footprints(dg.tiles_df(spark, CFG), LEVEL).select("media_ref", "cell")
    return raster.pyramid_rollup(base, n_levels=4).withColumn(
        "level", F.expr(f"CAST({level_expr('cell')} AS INT)")
    )


def _sql_pyramid() -> str:
    parts = []
    for lv in range(LEVEL, LEVEL - 4, -1):
        res = cell_res(lv)
        parts.append(
            f"""SELECT cell, CAST(count(*) AS BIGINT) AS n_tiles, CAST({lv} AS INTEGER) AS level
FROM (SELECT DISTINCT l.media_ref,
       {cell_id_sql(f"(CAST(FLOOR(l.x0 / {res}) AS BIGINT) + gx.i) * {res}",
                    f"(CAST(FLOOR(l.y0 / {res}) AS BIGINT) + gy.i) * {res}", lv)} AS cell
  FROM tiles_geo l
  JOIN range(0, 64) gx(i) ON gx.i <= CAST(FLOOR((l.x1-1) / {res}) AS BIGINT) - CAST(FLOOR(l.x0 / {res}) AS BIGINT)
  JOIN range(0, 64) gy(i) ON gy.i <= CAST(FLOOR((l.y1-1) / {res}) AS BIGINT) - CAST(FLOOR(l.y0 / {res}) AS BIGINT))
GROUP BY cell"""
        )
    return f"WITH {dg.tiles_sql(CFG)}\n" + "\nUNION ALL\n".join(parts)


SQL_PYRAMID = _sql_pyramid()


# ---------------------------------------------------------------------------
# raster statistics (decode path — Spark decodes real TIFF bytes; the oracle
# recomputes from the DN formula, proving the whole encode/decode chain)
# ---------------------------------------------------------------------------


def q_tile_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return raster.tile_pixel_stats(dg.media_df(spark, CFG)).select(
        "media_ref",
        "band",
        "cnt",
        "sum_dn",
        "sum_sq",
        F.col("min_dn").cast("int").alias("min_dn"),
        F.col("max_dn").cast("int").alias("max_dn"),
        "sum_cal",
        "mean_dn",
        "mean_refl",
    )


_DN = dg.dn_sql("t.tile_k", "b.band", "r.i", "c.i")
_PX_CTE = f"""px AS (
  SELECT t.tile_k, t.media_ref, b.band, {_DN} AS dn,
         CASE WHEN t.tile_k % 2 = 1 THEN GREATEST({_DN} - 1000, 0) ELSE {_DN} END AS cal
  FROM tiles_geo t, range(0, {CFG.n_bands}) b(band),
       range(0, {CFG.tile_px}) r(i), range(0, {CFG.tile_px}) c(i)
  WHERE t.tile_k < {CFG.n_media_tiles})"""

SQL_TILE_PIXEL_STATS = f"""WITH {dg.tiles_sql(CFG)}, {_PX_CTE}
SELECT media_ref, CAST(band AS INTEGER) AS band, count(*) AS cnt,
       CAST(sum(dn) AS BIGINT) AS sum_dn, CAST(sum(dn*dn) AS BIGINT) AS sum_sq,
       CAST(min(dn) AS INTEGER) AS min_dn, CAST(max(dn) AS INTEGER) AS max_dn,
       CAST(sum(cal) AS BIGINT) AS sum_cal,
       CAST(sum(dn) AS DOUBLE) / count(*) AS mean_dn,
       CAST(sum(cal) AS DOUBLE) / (10000.0 * count(*)) AS mean_refl
FROM px GROUP BY media_ref, band"""


def q_tile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return raster.tile_histogram(dg.media_df(spark, CFG)).select(
        "media_ref", F.col("band").cast("int").alias("band"),
        F.col("bin").cast("int").alias("bin"), "cnt"
    )


SQL_TILE_HISTOGRAM = f"""WITH {dg.tiles_sql(CFG)}, {_PX_CTE}
SELECT media_ref, CAST(band AS INTEGER) AS band,
       CAST((dn * {raster.HIST_BINS}) // 10001 AS INTEGER) AS bin, count(*) AS cnt
FROM px GROUP BY media_ref, band, bin"""


def q_tile_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-difference band math (band 3 vs band 0) from the integer
    per-band calibrated sums — the oracle recomputes the same sums from the
    DN formula, proving decode + calibration + band algebra end-to-end."""
    stats = raster.tile_pixel_stats(dg.media_df(spark, CFG))
    return raster.band_normalized_difference(stats, b_plus=3, b_minus=0)


SQL_TILE_BAND_INDEX = f"""WITH {dg.tiles_sql(CFG)}, {_PX_CTE},
s AS (
  SELECT media_ref,
         CAST(sum(CASE WHEN band = 3 THEN cal END) AS BIGINT) AS sum_cal_plus,
         CAST(sum(CASE WHEN band = 0 THEN cal END) AS BIGINT) AS sum_cal_minus
  FROM px GROUP BY media_ref)
SELECT media_ref, sum_cal_plus, sum_cal_minus,
       CASE WHEN sum_cal_plus + sum_cal_minus <> 0
            THEN CAST(sum_cal_plus - sum_cal_minus AS DOUBLE)
                 / CAST(sum_cal_plus + sum_cal_minus AS DOUBLE) END AS ndi
FROM s"""


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = dg.tiles_df(spark, CFG).select("media_ref", "cx", "cy")
    pairs = pip_join.pip_join_rect(t, dg.rect_zones_df(spark, CFG), x="cx", y="cy", level=PIP_LEVEL)
    stats = raster.tile_pixel_stats(dg.media_df(spark, CFG))
    return zonal.zonal_stats(pairs, stats).select(
        "zone_id", F.col("band").cast("int").alias("band"), "n_tiles", "px_cnt",
        "sum_dn", "sum_sq",
        F.col("min_dn").cast("int").alias("min_dn"),
        F.col("max_dn").cast("int").alias("max_dn"),
        "sum_cal", "mean_dn", "mean_refl",
    )


SQL_ZONAL_STATS = f"""WITH {dg.tiles_sql(CFG)}, {dg.rect_zones_sql(CFG)}, {_PX_CTE},
tstats AS (
  SELECT media_ref, band, count(*) AS cnt, sum(dn) AS sum_dn, sum(dn*dn) AS sum_sq,
         min(dn) AS min_dn, max(dn) AS max_dn, sum(cal) AS sum_cal
  FROM px GROUP BY media_ref, band),
prs AS (
  SELECT t.media_ref, z.zone_id FROM tiles_geo t JOIN rzones z
  ON t.cx BETWEEN z.minx AND z.maxx AND t.cy BETWEEN z.miny AND z.maxy)
SELECT p.zone_id, CAST(s.band AS INTEGER) AS band, count(*) AS n_tiles,
       CAST(sum(s.cnt) AS BIGINT) AS px_cnt, CAST(sum(s.sum_dn) AS BIGINT) AS sum_dn,
       CAST(sum(s.sum_sq) AS BIGINT) AS sum_sq,
       CAST(min(s.min_dn) AS INTEGER) AS min_dn, CAST(max(s.max_dn) AS INTEGER) AS max_dn,
       CAST(sum(s.sum_cal) AS BIGINT) AS sum_cal,
       CAST(sum(s.sum_dn) AS DOUBLE) / sum(s.cnt) AS mean_dn,
       CAST(sum(s.sum_cal) AS DOUBLE) / (10000.0 * sum(s.cnt)) AS mean_refl
FROM prs p JOIN tstats s USING (media_ref)
GROUP BY p.zone_id, s.band"""


def q_zonal_stats_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Area-weighted zonal statistics (partial-coverage A5): tiles weighted
    by their exact tile∩zone overlap area instead of all-or-nothing centroid
    membership. Candidates come from the same cell-bucketed broadcast
    equi-join as the PIP path (zones exploded to covering cells, tiles to
    footprint cells — overlapping rectangles always share a covering cell),
    then the exact integer overlap predicate filters and weights. Zone boxes
    are closed [minx, maxx] ≡ half-open [minx, maxx+1) against the tiles'
    half-open [x0, x1) pixel footprints."""
    t = (
        dg.tiles_df(spark, CFG)
        .filter(F.col("tile_k") < CFG.n_media_tiles)
        .select("media_ref", "x0", "y0", "x1", "y1")
    )
    tc = raster.tile_footprints(t, PIP_LEVEL).select("media_ref", "cell")
    z = dg.rect_zones_df(spark, CFG)
    zc = F.broadcast(
        pip_join.cover_cells_rect(z, PIP_LEVEL).select(
            "zone_id", "minx", "miny", "maxx", "maxy", "cell"
        )
    )
    ox = F.least(F.col("x1"), F.col("maxx") + 1) - F.greatest(F.col("x0"), F.col("minx"))
    oy = F.least(F.col("y1"), F.col("maxy") + 1) - F.greatest(F.col("y0"), F.col("miny"))
    pairs = (
        t.join(tc, "media_ref")
        .join(zc, "cell")
        .filter((ox > 0) & (oy > 0))
        .groupBy("media_ref", "zone_id")  # dedup multi-cell matches; w is
        .agg(F.max(ox * oy).alias("w"))  # identical across a pair's cells
    )
    stats = raster.tile_pixel_stats(dg.media_df(spark, CFG))
    out = zonal.zonal_stats_weighted(pairs, stats)
    return out.select(
        "zone_id", F.col("band").cast("int").alias("band"), "n_tiles",
        "w_total", "wsum_dn", "wpx_cnt", "wsum_cal", "wmean_dn", "wmean_cal",
    )


SQL_ZONAL_WEIGHTED = f"""WITH {dg.tiles_sql(CFG)}, {dg.rect_zones_sql(CFG)}, {_PX_CTE},
tstats AS (
  SELECT media_ref, band, count(*) AS cnt, sum(dn) AS sum_dn, sum(cal) AS sum_cal
  FROM px GROUP BY media_ref, band),
prs AS (
  SELECT t.media_ref, z.zone_id,
         (least(t.x1, z.maxx + 1) - greatest(t.x0, z.minx))
         * (least(t.y1, z.maxy + 1) - greatest(t.y0, z.miny)) AS w
  FROM tiles_geo t JOIN rzones z
    ON t.x0 <= z.maxx AND t.x1 - 1 >= z.minx
   AND t.y0 <= z.maxy AND t.y1 - 1 >= z.miny
  WHERE t.tile_k < {CFG.n_media_tiles})
SELECT p.zone_id, CAST(s.band AS INTEGER) AS band, count(*) AS n_tiles,
       CAST(sum(p.w) AS BIGINT) AS w_total,
       CAST(sum(p.w * s.sum_dn) AS BIGINT) AS wsum_dn,
       CAST(sum(p.w * s.cnt) AS BIGINT) AS wpx_cnt,
       CAST(sum(p.w * s.sum_cal) AS BIGINT) AS wsum_cal,
       CAST(sum(p.w * s.sum_dn) AS DOUBLE) / CAST(sum(p.w * s.cnt) AS DOUBLE) AS wmean_dn,
       CAST(sum(p.w * s.sum_cal) AS DOUBLE) / CAST(sum(p.w * s.cnt) AS DOUBLE) AS wmean_cal
FROM prs p JOIN tstats s USING (media_ref)
GROUP BY p.zone_id, s.band"""


# ---------------------------------------------------------------------------
# interleaved corpus (input_hint invariant + media resolution)
# ---------------------------------------------------------------------------


def q_span_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = dg.documents_df(spark, CFG)
    flat = spans.explode_spans(docs)
    rebuilt = spans.reassemble_spans(flat)  # full explode→shuffle→rebuild cycle
    return rebuilt.select("doc_id", spans.span_fingerprint("spans").alias("fp"))


SQL_SPAN_FINGERPRINTS = f"""WITH {dg.spans_flat_sql(CFG)}
SELECT doc_id, string_agg(
    kind || ':' || coalesce(text, '') || ':' || coalesce(media_ref, '') || ':' ||
    CAST("offset" AS VARCHAR), '|' ORDER BY "offset", j) AS fp
FROM spans_flat GROUP BY doc_id"""


def q_media_span_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship interleaved query: docs → media spans → tile → PIP zone →
    per-zone doc/span counts. Exercises the whole span→media→spatial chain."""
    docs = dg.documents_df(spark, CFG)
    m = spans.media_spans(docs)
    t = dg.tiles_df(spark, CFG).select("media_ref", "cx", "cy")
    pairs = pip_join.pip_join_rect(t, dg.rect_zones_df(spark, CFG), x="cx", y="cy", level=PIP_LEVEL)
    return (
        m.join(pairs.select("media_ref", "zone_id"), "media_ref")
        .groupBy("zone_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct("media_ref").alias("n_tiles"),
        )
    )


SQL_MEDIA_SPAN_ZONES = f"""WITH {dg.spans_flat_sql(CFG)}, {dg.tiles_sql(CFG)}, {dg.rect_zones_sql(CFG)},
prs AS (
  SELECT t.media_ref, z.zone_id FROM tiles_geo t JOIN rzones z
  ON t.cx BETWEEN z.minx AND z.maxx AND t.cy BETWEEN z.miny AND z.maxy)
SELECT p.zone_id, count(*) AS n_spans,
       count(DISTINCT s.doc_id) AS n_docs, count(DISTINCT s.media_ref) AS n_tiles
FROM spans_flat s JOIN prs p USING (media_ref)
WHERE s.kind = 'media'
GROUP BY p.zone_id"""


def q_chunk_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk/window grid (R1) — pure Catalyst sequence/explode."""
    tiles = dg.tiles_df(spark, CFG).filter(F.col("tile_k") < 100).select("media_ref")
    return chunking.chunk_grid(tiles, height_px=256, width_px=256, zor=64, halo=16).select(
        "media_ref",
        F.col("chunk_r").cast("int").alias("chunk_r"),
        F.col("chunk_c").cast("int").alias("chunk_c"),
        F.col("win_r0").cast("int").alias("win_r0"),
        F.col("win_c0").cast("int").alias("win_c0"),
        F.col("win_h").cast("int").alias("win_h"),
        F.col("win_w").cast("int").alias("win_w"),
    )


SQL_CHUNK_GRID = f"""WITH {dg.tiles_sql(CFG)}
SELECT media_ref,
       CAST(r.i * 64 AS INTEGER) AS chunk_r, CAST(c.i * 64 AS INTEGER) AS chunk_c,
       CAST(r.i * 64 - 16 AS INTEGER) AS win_r0, CAST(c.i * 64 - 16 AS INTEGER) AS win_c0,
       CAST(96 AS INTEGER) AS win_h, CAST(96 AS INTEGER) AS win_w
FROM tiles_geo, range(0, 4) r(i), range(0, 4) c(i)
WHERE tile_k < 100"""


# ---------------------------------------------------------------------------
# float-pipeline queries, oracle-paired via golden fixture (SURVEY.md §5):
# the float32 softmax + sin² overlap-add chain is not SQL-expressible
# (transcendental, float32), so — exactly like the reference's own golden
# tile/zonal-stat fixtures — the oracle is a VALUES literal generated by
# tests/oracle.py (the independent plain-loop transliteration) via
# scripts/gen_golden_probs.py. Outputs are quantized to int64
# (round(x·10⁹), Spark HALF_UP) so the value hash is float-format-proof.
# ---------------------------------------------------------------------------

_PQ = 10**9  # must match scripts/gen_golden_probs.py QSCALE


def _golden_probs_fixture() -> dict:
    import json
    from pathlib import Path

    p = Path(__file__).resolve().parent.parent / "tests" / "golden" / "global_probs.json"
    return json.loads(p.read_text())


def _raw_global_class_probs(spark: SparkSession) -> DataFrame:
    cfg = dg.GoldenConfig(n_tiles=32, tile_px=64, n_media_tiles=32)
    media = dg.media_df(spark, cfg)
    stats = chunking.chunk_class_stats(media, zor=32, halo=8, patch=16, stride=8)
    return chunking.global_class_probs(stats)


def q_global_class_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 global average pooling, quantized for the golden-fixture oracle."""
    gp = _raw_global_class_probs(spark)
    return gp.select(
        "media_ref",
        "class",
        F.round(F.col("mean_prob") * _PQ).cast("long").alias("q_mean_prob"),
        F.round(F.col("prob_min") * _PQ).cast("long").alias("q_prob_min"),
        F.round(F.col("prob_max") * _PQ).cast("long").alias("q_prob_max"),
        "px_cnt",
    )


def q_class_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9-P13 per-tile metrics (argmax/conf/entropy/gap), quantized."""
    m = chunking.class_metrics(_raw_global_class_probs(spark))
    return m.select(
        "media_ref",
        "argmax_class",
        F.round(F.col("max_prob") * _PQ).cast("long").alias("q_max_prob"),
        F.round(F.col("entropy") * _PQ).cast("long").alias("q_entropy"),
        F.round(F.col("pred_gap") * _PQ).cast("long").alias("q_pred_gap"),
        F.round(F.col("binary_gradient") * _PQ).cast("long").alias("q_binary_gradient"),
    )


def _sql_global_class_probs() -> str:
    fx = _golden_probs_fixture()
    vals = ",\n".join(
        f"('{r['media_ref']}', {r['class']}, {r['q_mean_prob']}, "
        f"{r['q_prob_min']}, {r['q_prob_max']}, {r['px_cnt']})"
        for r in fx["global_class_probs"]
    )
    return (
        "SELECT media_ref, CAST(\"class\" AS INTEGER) AS \"class\", "
        "CAST(q_mean_prob AS BIGINT) AS q_mean_prob, "
        "CAST(q_prob_min AS BIGINT) AS q_prob_min, "
        "CAST(q_prob_max AS BIGINT) AS q_prob_max, "
        "CAST(px_cnt AS BIGINT) AS px_cnt FROM (VALUES\n" + vals + "\n) AS "
        "t(media_ref, \"class\", q_mean_prob, q_prob_min, q_prob_max, px_cnt)"
    )


def _sql_class_metrics() -> str:
    fx = _golden_probs_fixture()
    vals = ",\n".join(
        f"('{r['media_ref']}', {r['argmax_class']}, {r['q_max_prob']}, "
        f"{r['q_entropy']}, {r['q_pred_gap']}, "
        f"{'NULL' if r['q_binary_gradient'] is None else r['q_binary_gradient']})"
        for r in fx["class_metrics"]
    )
    return (
        "SELECT media_ref, CAST(argmax_class AS INTEGER) AS argmax_class, "
        "CAST(q_max_prob AS BIGINT) AS q_max_prob, "
        "CAST(q_entropy AS BIGINT) AS q_entropy, "
        "CAST(q_pred_gap AS BIGINT) AS q_pred_gap, "
        "CAST(q_binary_gradient AS BIGINT) AS q_binary_gradient FROM (VALUES\n"
        + vals
        + "\n) AS t(media_ref, argmax_class, q_max_prob, q_entropy, q_pred_gap, "
        "q_binary_gradient)"
    )


# ---------------------------------------------------------------------------
# temporal pairing (J6), series scan (S4), mosaic-max (A4/J1), top-k class
# metrics (P9/P10/P12), window∩bounds intersection (J2)
# ---------------------------------------------------------------------------

_TS_CTE = """acq AS (
  SELECT media_ref, tile_k, CAST(tile_k AS BIGINT) AS ts_h FROM tiles_geo)"""


def q_asof_acquisitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of pairing (J6): per tile, the most recent earlier acquisition in
    the same level-6 cell (acq time = tile_k hours, deterministic)."""
    from pyspark.sql import Window

    t = dg.tiles_df(spark, CFG)
    cells = raster.tile_footprints(t, LEVEL).select("media_ref", "cell")
    acq = t.select("media_ref", F.col("tile_k").cast("long").alias("ts_h")).join(cells, "media_ref")
    w = Window.partitionBy("cell").orderBy("ts_h", "media_ref")
    return acq.select(
        "media_ref",
        "cell",
        "ts_h",
        F.lag("media_ref", 1).over(w).alias("prev_ref"),
        F.lag("ts_h", 1).over(w).alias("prev_ts_h"),
    )


def q_range_join_campaigns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join (operators/range_join.py): each acquisition
    paired with every observation-campaign window containing its time —
    a bucketed equi-join, never a BroadcastNestedLoop/Cartesian theta join."""
    from .operators import range_join

    acq = dg.tiles_df(spark, CFG).select(
        "media_ref", F.col("tile_k").cast("long").alias("ts_h")
    )
    out = range_join.range_join_point_interval(
        acq,
        dg.campaigns_df(spark, CFG),
        v="ts_h",
        lo="lo_h",
        hi="hi_h",
        bucket_width=201,  # max campaign length by construction (datagen):
        # explicit domain knowledge, so no eager max-length pre-job runs
    )
    return out.select("campaign_id", "media_ref", "ts_h")


SQL_RANGE_JOIN = f"""WITH {dg.tiles_sql(CFG)}, {dg.campaigns_sql(CFG)}
SELECT c.campaign_id, t.media_ref, CAST(t.tile_k AS BIGINT) AS ts_h
FROM tiles_geo t JOIN campaigns c ON t.tile_k BETWEEN c.lo_h AND c.hi_h"""


def _sql_cells_cte(level: int) -> str:
    res = cell_res(level)
    return f"""cells AS (
  SELECT l.media_ref,
         {cell_id_sql(f"(CAST(FLOOR(l.x0 / {res}) AS BIGINT) + gx.i) * {res}",
                      f"(CAST(FLOOR(l.y0 / {res}) AS BIGINT) + gy.i) * {res}", level)} AS cell
  FROM tiles_geo l
  JOIN range(0, 64) gx(i) ON gx.i <= CAST(FLOOR((l.x1-1) / {res}) AS BIGINT) - CAST(FLOOR(l.x0 / {res}) AS BIGINT)
  JOIN range(0, 64) gy(i) ON gy.i <= CAST(FLOOR((l.y1-1) / {res}) AS BIGINT) - CAST(FLOOR(l.y0 / {res}) AS BIGINT))"""


SQL_ASOF = f"""WITH {dg.tiles_sql(CFG)}, {_sql_cells_cte(LEVEL)}
SELECT t.media_ref, c.cell, CAST(t.tile_k AS BIGINT) AS ts_h,
       lag(t.media_ref) OVER w AS prev_ref,
       lag(CAST(t.tile_k AS BIGINT)) OVER w AS prev_ts_h
FROM tiles_geo t JOIN cells c USING (media_ref)
WINDOW w AS (PARTITION BY c.cell ORDER BY CAST(t.tile_k AS BIGINT), t.media_ref)"""


GAPFILL_STOP, GAPFILL_STEP = 240, 48  # media acq hours are tile_k < 200


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable gap-fill (operators/temporal.py::gap_fill_locf): per
    level-6 footprint cell, the media acquisitions (irregular ts_h = tile_k
    hours) are resampled to the regular 48 h tick grid with
    last-observation-carried-forward; ticks before a cell's first
    acquisition report NULLs. The TimescaleDB time_bucket_gapfill+locf
    semantics as one window over a union — no driver loop, per-cell state."""
    from .operators import temporal

    t = dg.tiles_df(spark, CFG).filter(F.col("tile_k") < CFG.n_media_tiles)
    cells = raster.tile_footprints(t, LEVEL).select("media_ref", "cell")
    obs = t.select("media_ref", F.col("tile_k").cast("long").alias("ts_h")).join(
        cells, "media_ref"
    )
    return temporal.gap_fill_locf(
        obs, start=0, stop=GAPFILL_STOP, step=GAPFILL_STEP, keys=("cell",)
    )


SQL_GAP_FILL = f"""WITH {dg.tiles_sql(CFG)}, {_sql_cells_cte(LEVEL)},
obs AS (
  SELECT c.cell, CAST(t.tile_k AS BIGINT) AS ts_h, t.media_ref
  FROM tiles_geo t JOIN cells c USING (media_ref)
  WHERE t.tile_k < {CFG.n_media_tiles}),
ser AS (
  SELECT cell, ts_h AS t, 0 AS tick, ts_h AS obs_ts, media_ref FROM obs
  UNION ALL
  SELECT g.cell, r.i * {GAPFILL_STEP}, 1, NULL, NULL
  FROM (SELECT DISTINCT cell FROM obs) g,
       range(0, {GAPFILL_STOP // GAPFILL_STEP + 1}) r(i)),
filled AS (
  SELECT cell, t, tick,
         last_value(obs_ts IGNORE NULLS) OVER w AS last_ts,
         last_value(media_ref IGNORE NULLS) OVER w AS media_ref
  FROM ser
  WINDOW w AS (PARTITION BY cell ORDER BY t, tick ROWS UNBOUNDED PRECEDING))
SELECT cell, CAST(t AS BIGINT) AS ts_h, media_ref,
       CAST(last_ts AS BIGINT) AS last_ts, CAST(t - last_ts AS BIGINT) AS gap
FROM filled WHERE tick = 1"""



def _ewma_obs(spark: SparkSession) -> DataFrame:
    t = dg.tiles_df(spark, CFG).filter(F.col("tile_k") < CFG.n_media_tiles)
    cells = raster.tile_footprints(t, LEVEL).select("media_ref", "cell")
    return (
        t.select(
            "media_ref",
            F.col("tile_k").cast("long").alias("ts_h"),
            (dg.ihash_col(F.col("tile_k"), EWMA_VSEED) % 10000).alias("v"),
        )
        .join(cells, "media_ref")
        .select("cell", "ts_h", "v")
    )


_SQL_EWMA_OBS = f"""obs AS (
  SELECT c.cell, CAST(t.tile_k AS BIGINT) AS ts_h,
         {{vexpr}} % 10000 AS v
  FROM tiles_geo t JOIN cells c USING (media_ref)
  WHERE t.tile_k < {{n_media}})"""


def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares trend slope per footprint cell's acquisition-value
    series (operators/temporal.py::ols_trend): exact integer slope
    components over the rank regressor, one IEEE division for the slope
    — the parametric companion to the Mann-Kendall query, same series."""
    from .operators import temporal

    return temporal.ols_trend(_ewma_obs(spark), keys=("cell",), ts="ts_h", value="v")


def _sql_ols_trend() -> str:
    obs = _SQL_EWMA_OBS.format(
        vexpr=dg.ihash_sql("t.tile_k", EWMA_VSEED), n_media=CFG.n_media_tiles
    )
    # independent formulation: Σt/Σt² by direct window-rank summation,
    # cross-checking the engine's closed-form n(n−1)/2, n(n−1)(2n−1)/6
    return f"""WITH {dg.tiles_sql(CFG)}, {_sql_cells_cte(LEVEL)},
{obs},
r AS (SELECT cell, v,
             row_number() OVER (PARTITION BY cell ORDER BY ts_h, v) - 1 AS t
      FROM obs),
a AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_obs,
             CAST(SUM(v) AS BIGINT) AS sum_v,
             CAST(SUM(t * v) AS BIGINT) AS sum_tv,
             CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(t * t) AS BIGINT) AS stt
      FROM r GROUP BY cell)
SELECT cell, n_obs, sum_v,
       n_obs * sum_tv - st * sum_v AS slope_num,
       n_obs * stt - st * st AS slope_den,
       CASE WHEN n_obs >= 2
            THEN CAST(n_obs * sum_tv - st * sum_v AS DOUBLE)
               / CAST(n_obs * stt - st * st AS DOUBLE)
            END AS slope
FROM a"""


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend statistic S per footprint cell's
    acquisition-value series (operators/temporal.py::mann_kendall_s):
    exact integer pairwise sign sum, one order-pinned fold per cell —
    the non-parametric trend test a change-monitoring pipeline runs."""
    from .operators import temporal

    return temporal.mann_kendall_s(
        _ewma_obs(spark), keys=("cell",), ts="ts_h", value="v"
    )


def _sql_mann_kendall() -> str:
    obs = _SQL_EWMA_OBS.format(
        vexpr=dg.ihash_sql("t.tile_k", EWMA_VSEED), n_media=CFG.n_media_tiles
    )
    return f"""WITH {dg.tiles_sql(CFG)}, {_sql_cells_cte(LEVEL)},
{obs},
r AS (SELECT cell, v, row_number() OVER (PARTITION BY cell ORDER BY ts_h, v) AS rn
      FROM obs),
s AS (SELECT a.cell,
             sum(CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END) AS mk_s
      FROM r a JOIN r b ON b.cell = a.cell AND b.rn > a.rn GROUP BY a.cell),
n AS (SELECT cell, count(*) AS n_obs FROM obs GROUP BY cell)
SELECT n.cell, CAST(n.n_obs AS BIGINT) AS n_obs,
       CAST(COALESCE(s.mk_s, 0) AS BIGINT) AS mk_s
FROM n LEFT JOIN s USING (cell)"""


def q_campaign_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-instrument union length of the campaign windows
    (operators/temporal.py::interval_coverage): the duty-cycle /
    total-covered-time aggregate a naive sum(hi−lo) double-counts under
    overlap. The oracle counts DISTINCT covered unit ticks from an
    exploded series — an independent formulation, not a sweep mirror."""
    from .operators import temporal

    c = dg.campaigns_df(spark, CFG).withColumn(
        "instrument", F.col("campaign_id") % 10
    )
    return temporal.interval_coverage(c, keys=("instrument",), lo="lo_h", hi="hi_h")


SQL_CAMPAIGN_COVERAGE = f"""WITH {dg.campaigns_sql(CFG)},
t AS (SELECT campaign_id % 10 AS instrument, lo_h, hi_h FROM campaigns),
ticks AS (
  SELECT instrument, unnest(range(lo_h, hi_h)) AS x FROM t)
SELECT instrument,
       CAST(count(DISTINCT x) AS BIGINT) AS covered,
       (SELECT count(*) FROM t t2 WHERE t2.instrument = ticks.instrument)
         AS n_intervals,
       (SELECT min(lo_h) FROM t t2 WHERE t2.instrument = ticks.instrument)
         AS span_lo,
       (SELECT max(hi_h) FROM t t2 WHERE t2.instrument = ticks.instrument)
         AS span_hi
FROM ticks GROUP BY instrument"""


EWMA_NUM, EWMA_DEN, EWMA_SCALE = 2, 10, 1000
EWMA_VSEED = 41


def q_ewma_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point EWMA smoothing (α=0.2, state at 1000×) of each
    footprint cell's acquisition-value series
    (operators/temporal.py::ewma): one order-pinned aggregate fold per
    cell — the hypertable smoothing pass after resampling."""
    from .operators import temporal

    return temporal.ewma(
        _ewma_obs(spark),
        keys=("cell",),
        ts="ts_h",
        value="v",
        num=EWMA_NUM,
        den=EWMA_DEN,
        scale=EWMA_SCALE,
    )


CUSUM_TARGET, CUSUM_SLACK, CUSUM_H = 5000, 500, 3000


def q_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided tabular CUSUM drift detection (Page 1954) over each
    footprint cell's acquisition-value series
    (operators/temporal.py::cusum): exact integer hi/lo statistics with
    an in-plan alarm rule — the sequential change detector a monitoring
    pipeline runs after resampling, companion to the EWMA/Mann-Kendall/
    OLS queries over the same series."""
    from .operators import temporal

    return temporal.cusum(
        _ewma_obs(spark),
        keys=("cell",),
        ts="ts_h",
        value="v",
        target=CUSUM_TARGET,
        slack=CUSUM_SLACK,
        threshold=CUSUM_H,
    )


def _sql_cusum() -> str:
    obs = _SQL_EWMA_OBS.format(
        vexpr=dg.ihash_sql("t.tile_k", EWMA_VSEED), n_media=CFG.n_media_tiles
    )
    up = f"greatest(0, e.hi + r.v - {CUSUM_TARGET} - {CUSUM_SLACK})"
    dn = f"greatest(0, e.lo + {CUSUM_TARGET} - {CUSUM_SLACK} - r.v)"
    return f"""WITH RECURSIVE {dg.tiles_sql(CFG)}, {_sql_cells_cte(LEVEL)},
{obs},
ranked AS (
  SELECT cell, ts_h, v,
         row_number() OVER (PARTITION BY cell ORDER BY ts_h, v) AS rn
  FROM obs),
e(cell, rn, ts_h, v, hi, lo) AS (
  SELECT cell, rn, ts_h, v,
         greatest(0, v - {CUSUM_TARGET} - {CUSUM_SLACK}),
         greatest(0, {CUSUM_TARGET} - {CUSUM_SLACK} - v)
  FROM ranked WHERE rn = 1
  UNION ALL
  SELECT r.cell, r.rn, r.ts_h, r.v, {up}, {dn}
  FROM ranked r JOIN e ON e.cell = r.cell AND r.rn = e.rn + 1)
SELECT cell, ts_h, v, CAST(hi AS BIGINT) AS cusum_hi,
       CAST(lo AS BIGINT) AS cusum_lo,
       (hi >= {CUSUM_H} OR lo >= {CUSUM_H}) AS alarm
FROM e"""


SQL_EWMA = f"""WITH RECURSIVE {dg.tiles_sql(CFG)}, {_sql_cells_cte(LEVEL)},
obs AS (
  SELECT c.cell, CAST(t.tile_k AS BIGINT) AS ts_h,
         {dg.ihash_sql('t.tile_k', EWMA_VSEED)} % 10000 AS v
  FROM tiles_geo t JOIN cells c USING (media_ref)
  WHERE t.tile_k < {CFG.n_media_tiles}),
ranked AS (
  SELECT cell, ts_h, v,
         row_number() OVER (PARTITION BY cell ORDER BY ts_h, v) AS rn
  FROM obs),
e(cell, rn, ts_h, v, a) AS (
  SELECT cell, rn, ts_h, v, v * {EWMA_SCALE} FROM ranked WHERE rn = 1
  UNION ALL
  SELECT r.cell, r.rn, r.ts_h, r.v,
         ({EWMA_NUM} * r.v * {EWMA_SCALE} + {EWMA_DEN - EWMA_NUM} * e.a)
         // {EWMA_DEN}
  FROM ranked r JOIN e ON e.cell = r.cell AND r.rn = e.rn + 1)
SELECT cell, ts_h, v, CAST(a AS BIGINT) AS ewma_q FROM e"""


def q_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal change detection: per cell, consecutive acquisitions are
    paired (the as-of lag) and the per-band calibrated-DN delta between the
    tile and its predecessor is computed from the *integer* sums of the
    decode-backed pixel stats (reference's multi-temporal surface, S4/J6,
    applied to band values instead of timestamps).

    Scale shape: the pairing window partitions BY CELL (state bounded by
    acquisitions-per-cell, never corpus size). The stats side appears ONCE
    in the plan — each pair explodes into its two (ref, role) rows which
    equi-join the single decode pass, then a pivot-back aggregate reunites
    the pair (a naive cur/prev self-join of tile_pixel_stats would run the
    whole TIFF decode twice — the exact cost the fused raster operator
    exists to avoid). d_mean_cal = mean(cur) − mean(prev), each mean its
    own exact-operand division (correct even if tile pixel counts ever
    differ between the two acquisitions)."""
    from pyspark.sql import Window

    t = dg.tiles_df(spark, CFG).filter(F.col("tile_k") < CFG.n_media_tiles)
    cells = raster.tile_footprints(t, LEVEL).select("media_ref", "cell")
    acq = t.select("media_ref", F.col("tile_k").cast("long").alias("ts_h")).join(
        cells, "media_ref"
    )
    w = Window.partitionBy("cell").orderBy("ts_h", "media_ref")
    pairs = acq.select(
        "cell",
        "media_ref",
        "ts_h",
        F.lag("media_ref", 1).over(w).alias("prev_ref"),
        F.lag("ts_h", 1).over(w).alias("prev_ts_h"),
    ).filter(F.col("prev_ref").isNotNull())
    sides = pairs.select(
        "cell", "media_ref", "prev_ref", "ts_h", "prev_ts_h",
        F.explode(
            F.array(
                F.struct(F.col("media_ref").alias("ref"), F.lit(1).alias("is_cur")),
                F.struct(F.col("prev_ref").alias("ref"), F.lit(0).alias("is_cur")),
            )
        ).alias("side"),
    ).select("cell", "media_ref", "prev_ref", "ts_h", "prev_ts_h", "side.*")
    s = raster.tile_pixel_stats(dg.media_df(spark, CFG)).select(
        F.col("media_ref").alias("ref"), "band", "sum_cal", "cnt"
    )
    j = sides.join(s, "ref")
    piv = j.groupBy("cell", "media_ref", "prev_ref", "ts_h", "prev_ts_h", "band").agg(
        F.sum(F.when(F.col("is_cur") == 1, F.col("sum_cal"))).alias("s_cur"),
        F.sum(F.when(F.col("is_cur") == 0, F.col("sum_cal"))).alias("s_prev"),
        F.sum(F.when(F.col("is_cur") == 1, F.col("cnt"))).alias("c_cur"),
        F.sum(F.when(F.col("is_cur") == 0, F.col("cnt"))).alias("c_prev"),
    )
    return piv.select(
        "cell", "media_ref", "prev_ref", "ts_h", "prev_ts_h",
        F.col("band").cast("int").alias("band"),
        (F.col("s_cur") - F.col("s_prev")).alias("d_sum_cal"),
        (
            F.col("s_cur").cast("double") / F.col("c_cur").cast("double")
            - F.col("s_prev").cast("double") / F.col("c_prev").cast("double")
        ).alias("d_mean_cal"),
    )


def _sql_change_detection() -> str:
    return f"""WITH {dg.tiles_sql(CFG)}, {_sql_cells_cte(LEVEL)}, {_PX_CTE},
s AS (SELECT media_ref, band, CAST(sum(cal) AS BIGINT) AS sum_cal, count(*) AS cnt
      FROM px GROUP BY 1, 2),
pairs AS (
  SELECT c.cell, t.media_ref, CAST(t.tile_k AS BIGINT) AS ts_h,
         lag(t.media_ref) OVER w AS prev_ref,
         lag(CAST(t.tile_k AS BIGINT)) OVER w AS prev_ts_h
  FROM tiles_geo t JOIN cells c USING (media_ref)
  WHERE t.tile_k < {CFG.n_media_tiles}
  WINDOW w AS (PARTITION BY c.cell ORDER BY CAST(t.tile_k AS BIGINT), t.media_ref))
SELECT p.cell, p.media_ref, p.prev_ref, p.ts_h, p.prev_ts_h,
       CAST(a.band AS INTEGER) AS band,
       a.sum_cal - b.sum_cal AS d_sum_cal,
       CAST(a.sum_cal AS DOUBLE) / CAST(a.cnt AS DOUBLE)
         - CAST(b.sum_cal AS DOUBLE) / CAST(b.cnt AS DOUBLE) AS d_mean_cal
FROM pairs p
JOIN s a ON a.media_ref = p.media_ref
JOIN s b ON b.media_ref = p.prev_ref AND b.band = a.band
WHERE p.prev_ref IS NOT NULL"""


SQL_CHANGE_DETECTION = _sql_change_detection()


def q_series_per_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-temporal series scan (S4): time-ordered acquisition list per
    cell — ``sort_array(collect_list(...))`` per SURVEY §2.1."""
    t = dg.tiles_df(spark, CFG)
    cells = raster.tile_footprints(t, LEVEL).select("media_ref", "cell")
    acq = t.select("media_ref", F.col("tile_k").cast("long").alias("ts_h")).join(cells, "media_ref")
    return acq.groupBy("cell").agg(
        F.count("*").alias("n_acq"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts_h", "media_ref"))),
                lambda s: s["media_ref"],
            ),
        ).alias("series"),
    )


SQL_SERIES = f"""WITH {dg.tiles_sql(CFG)}, {_sql_cells_cte(LEVEL)}
SELECT c.cell, count(*) AS n_acq,
       string_agg(t.media_ref, ',' ORDER BY CAST(t.tile_k AS BIGINT), t.media_ref) AS series
FROM tiles_geo t JOIN cells c USING (media_ref)
GROUP BY c.cell"""


def q_cell_mosaic_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mosaic-max (A4/J1 semantics): overlapping sources per cell resolved by
    per-(cell, band) max of the tile statistic."""
    t = dg.tiles_df(spark, CFG).filter(F.col("tile_k") < CFG.n_media_tiles)
    cells = raster.tile_footprints(t, LEVEL).select("media_ref", "cell")
    stats = raster.tile_pixel_stats(dg.media_df(spark, CFG))
    return (
        stats.join(cells, "media_ref")
        .groupBy("cell", "band")
        .agg(
            F.max("sum_dn").alias("max_sum_dn"),
            F.min("min_dn").cast("int").alias("min_dn"),
            F.count("*").alias("n_sources"),
        )
        .withColumn("band", F.col("band").cast("int"))
    )


SQL_CELL_MOSAIC_MAX = f"""WITH {dg.tiles_sql(CFG)}, {_PX_CTE},
tstats AS (
  SELECT media_ref, band, sum(dn) AS sum_dn, min(dn) AS min_dn
  FROM px GROUP BY media_ref, band),
{_sql_cells_cte(LEVEL).replace('FROM tiles_geo l', f'FROM (SELECT * FROM tiles_geo WHERE tile_k < {CFG.n_media_tiles}) l')}
SELECT c.cell, CAST(s.band AS INTEGER) AS band, CAST(max(s.sum_dn) AS BIGINT) AS max_sum_dn,
       CAST(min(s.min_dn) AS INTEGER) AS min_dn, count(*) AS n_sources
FROM tstats s JOIN cells c USING (media_ref)
GROUP BY c.cell, s.band"""


def q_tile_class_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant class / confidence / top-2 gap (P9, P10, P12) computed from
    the per-band means (exact doubles), deterministic band-asc tiebreak."""
    from pyspark.sql import Window

    stats = raster.tile_pixel_stats(dg.media_df(spark, CFG)).select(
        "media_ref", "band", "mean_dn"
    )
    w = Window.partitionBy("media_ref").orderBy(F.desc("mean_dn"), "band")
    ranked = stats.withColumn("rk", F.row_number().over(w))
    top1 = ranked.filter(F.col("rk") == 1).select(
        "media_ref",
        F.col("band").cast("int").alias("argmax_band"),
        F.col("mean_dn").alias("top1"),
    )
    top2 = ranked.filter(F.col("rk") == 2).select("media_ref", F.col("mean_dn").alias("top2"))
    return top1.join(top2, "media_ref").select(
        "media_ref", "argmax_band", "top1", "top2", (F.col("top1") - F.col("top2")).alias("gap")
    )


SQL_TILE_CLASS_TOPK = f"""WITH {dg.tiles_sql(CFG)}, {_PX_CTE},
tstats AS (
  SELECT media_ref, band, CAST(sum(dn) AS DOUBLE) / count(*) AS mean_dn
  FROM px GROUP BY media_ref, band),
ranked AS (
  SELECT media_ref, band, mean_dn,
         row_number() OVER (PARTITION BY media_ref ORDER BY mean_dn DESC, band) AS rk
  FROM tstats)
SELECT a.media_ref, CAST(a.band AS INTEGER) AS argmax_band, a.mean_dn AS top1,
       b.mean_dn AS top2, a.mean_dn - b.mean_dn AS gap
FROM ranked a JOIN ranked b ON a.media_ref = b.media_ref AND a.rk = 1 AND b.rk = 2"""


def q_zonal_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal MAJORITY filter (the GIS zonal-statistics mode variant): per
    rect zone, the modal dominant-class among media tiles whose centers
    fall inside the zone, tie-break (count DESC, band ASC) pinned.

    Scale shape: one decode pass (per-tile argmax from exact mean doubles),
    broadcast PIP candidates, then a two-level aggregate — (zone, class)
    counts are map-combined, and the final mode window partitions by zone
    with ≤ n_bands rows per zone (state bounded by the class count, never
    the corpus)."""
    from pyspark.sql import Window

    t = (
        dg.tiles_df(spark, CFG)
        .filter(F.col("tile_k") < CFG.n_media_tiles)
        .select("media_ref", "cx", "cy")
    )
    stats = raster.tile_pixel_stats(dg.media_df(spark, CFG)).select(
        "media_ref", "band", "mean_dn"
    )
    w = Window.partitionBy("media_ref").orderBy(F.desc("mean_dn"), "band")
    top1 = (
        stats.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("media_ref", F.col("band").alias("cls"))
    )
    pairs = pip_join.pip_join_rect(
        t, dg.rect_zones_df(spark, CFG), x="cx", y="cy", level=PIP_LEVEL
    ).select("media_ref", "zone_id")
    counts = pairs.join(top1, "media_ref").groupBy("zone_id", "cls").agg(
        F.count("*").alias("n_tiles")
    )
    wz = Window.partitionBy("zone_id").orderBy(F.desc("n_tiles"), "cls")
    return (
        counts.withColumn("rk", F.row_number().over(wz))
        .filter(F.col("rk") == 1)
        .select("zone_id", F.col("cls").cast("int").alias("majority_band"), "n_tiles")
    )


SQL_ZONAL_MAJORITY = f"""WITH {dg.tiles_sql(CFG)}, {dg.rect_zones_sql(CFG)}, {_PX_CTE},
tstats AS (
  SELECT media_ref, band, CAST(sum(dn) AS DOUBLE) / count(*) AS mean_dn
  FROM px GROUP BY media_ref, band),
top1 AS (
  SELECT media_ref, band AS cls FROM (
    SELECT media_ref, band, row_number() OVER (
      PARTITION BY media_ref ORDER BY mean_dn DESC, band) AS rk
    FROM tstats) WHERE rk = 1),
zcnt AS (
  SELECT z.zone_id, s.cls, count(*) AS n_tiles
  FROM tiles_geo t
  JOIN rzones z ON t.cx BETWEEN z.minx AND z.maxx AND t.cy BETWEEN z.miny AND z.maxy
  JOIN top1 s USING (media_ref)
  WHERE t.tile_k < {CFG.n_media_tiles}
  GROUP BY z.zone_id, s.cls)
SELECT zone_id, CAST(cls AS INTEGER) AS majority_band, n_tiles FROM (
  SELECT zone_id, cls, n_tiles, row_number() OVER (
    PARTITION BY zone_id ORDER BY n_tiles DESC, cls) AS rk
  FROM zcnt) WHERE rk = 1"""


def q_window_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-window ∩ image-bounds intersection + reflect-pad amounts (J2/P5
    arithmetic — reference data.py:155-162, 241-245) as pure Catalyst."""
    tiles = dg.tiles_df(spark, CFG).filter(F.col("tile_k") < 100).select("media_ref")
    g = chunking.chunk_grid(tiles, height_px=256, width_px=256, zor=96, halo=16)
    H = W = 256
    return g.select(
        "media_ref",
        F.col("chunk_r").cast("int").alias("chunk_r"),
        F.col("chunk_c").cast("int").alias("chunk_c"),
        F.greatest(F.col("win_r0"), F.lit(0)).cast("int").alias("read_r0"),
        F.greatest(F.col("win_c0"), F.lit(0)).cast("int").alias("read_c0"),
        F.least(F.col("win_r0") + F.col("win_h"), F.lit(H)).cast("int").alias("read_r1"),
        F.least(F.col("win_c0") + F.col("win_w"), F.lit(W)).cast("int").alias("read_c1"),
        (F.greatest(F.col("win_r0"), F.lit(0)) - F.col("win_r0")).cast("int").alias("pad_top"),
        (F.col("win_r0") + F.col("win_h") - F.least(F.col("win_r0") + F.col("win_h"), F.lit(H)))
        .cast("int")
        .alias("pad_bottom"),
    )


SQL_WINDOW_INTERSECTION = f"""WITH {dg.tiles_sql(CFG)},
grid AS (
  SELECT media_ref, CAST(r.i * 96 AS INTEGER) AS chunk_r, CAST(c.i * 96 AS INTEGER) AS chunk_c
  FROM tiles_geo, range(0, 3) r(i), range(0, 3) c(i)
  WHERE tile_k < 100)
SELECT media_ref, chunk_r, chunk_c,
  CAST(GREATEST(chunk_r - 16, 0) AS INTEGER) AS read_r0,
  CAST(GREATEST(chunk_c - 16, 0) AS INTEGER) AS read_c0,
  CAST(LEAST(chunk_r - 16 + 128, 256) AS INTEGER) AS read_r1,
  CAST(LEAST(chunk_c - 16 + 128, 256) AS INTEGER) AS read_c1,
  CAST(GREATEST(chunk_r - 16, 0) - (chunk_r - 16) AS INTEGER) AS pad_top,
  CAST((chunk_r - 16 + 128) - LEAST(chunk_r - 16 + 128, 256) AS INTEGER) AS pad_bottom
FROM grid"""


_POLY_CFG = dg.GoldenConfig(n_tiles=60, tile_px=16, n_media_tiles=60)


def q_polygonize_class_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """raster→vector polygonization (north_star), SQL-checked through a
    topological invariant: the signed shoelace areas of the traced boundary
    rings (holes opposite orientation) must sum, per class, to the class's
    pixel count — which the oracle computes directly from the DN formula
    with zero knowledge of rings, components, or the tracer. A bad edge
    walk, dropped hole, or mis-merged collinear run breaks the equality."""
    from .operators import raster_vector as rv

    import numpy as np

    media = dg.media_df(spark, _POLY_CFG)
    polys = rv.polygonize(
        media, lambda arr: (arr[0].astype(np.int64) * 4) // 10001
    )
    comp = polys.groupBy("media_ref", "class", "component").agg(
        F.abs(F.sum("signed_area_px2")).alias("area2")
    )
    return (
        comp.groupBy("media_ref", F.col("class").alias("class"))
        .agg((F.sum("area2") / F.lit(2)).cast("long").alias("n_px"))
        .select("media_ref", F.col("class").cast("int").alias("class"), "n_px")
    )


def _sql_polygonize_areas() -> str:
    cfg = _POLY_CFG
    dn = dg.dn_sql("t.tile_k", "0", "r.i", "c.i")
    return f"""WITH {dg.tiles_sql(cfg)}
SELECT media_ref, CAST(({dn} * 4) // 10001 AS INTEGER) AS class, count(*) AS n_px
FROM tiles_geo t, range(0, {cfg.tile_px}) r(i), range(0, {cfg.tile_px}) c(i)
WHERE t.tile_k < {cfg.n_media_tiles}
GROUP BY 1, 2"""


SQL_POLYGONIZE_AREAS = _sql_polygonize_areas()


def q_mask_pixel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vector→raster masking (north_star): per (tile, polygon-zone) pair the
    count of pixel centers inside the zone — the Spark side rasterizes real
    uint8 masks; the oracle ray-casts the same centers in SQL."""
    from .operators import raster_vector as rv

    cfg = dg.GoldenConfig(n_tiles=150, tile_px=16)
    tiles = dg.tiles_df(spark, cfg)
    meta = tiles.select(
        "media_ref", "x0", "y1",
        F.lit(cfg.tile_px).alias("width"), F.lit(cfg.tile_px).alias("height"),
        F.lit(float(cfg.px_size)).alias("px"),
    )
    polys = dg.poly_zones_df(spark, cfg)
    zb = polys.select(
        "zone_id",
        F.expr("aggregate(ring, cast('inf' as double), (a, p) -> least(a, p.x))").alias("zminx"),
        F.expr("aggregate(ring, cast('-inf' as double), (a, p) -> greatest(a, p.x))").alias("zmaxx"),
        F.expr("aggregate(ring, cast('inf' as double), (a, p) -> least(a, p.y))").alias("zminy"),
        F.expr("aggregate(ring, cast('-inf' as double), (a, p) -> greatest(a, p.y))").alias("zmaxy"),
    )
    cand = (
        tiles.crossJoin(F.broadcast(zb))
        .filter((F.col("x0") <= F.col("zmaxx")) & (F.col("x1") >= F.col("zminx"))
                & (F.col("y0") <= F.col("zmaxy")) & (F.col("y1") >= F.col("zminy")))
        .select("media_ref", "zone_id")
    )
    return rv.rasterize_zones(meta, polys, cand).select("media_ref", "zone_id", "n_inside")


def _sql_mask_counts() -> str:
    cfg = dg.GoldenConfig(n_tiles=150, tile_px=16)
    e = cfg.extent
    cross = "( (ex2-ex1)*(py-ey1) - (px-ex1)*(ey2-ey1) )"
    tiles_cte = dg.tiles_sql(cfg)
    return f"""WITH {tiles_cte}, {dg.poly_edges_sql(cfg)},
zb AS (
  SELECT zone_id, min(least(ex1, ex2)) AS zminx, max(greatest(ex1, ex2)) AS zmaxx,
         min(least(ey1, ey2)) AS zminy, max(greatest(ey1, ey2)) AS zmaxy
  FROM pedges GROUP BY zone_id),
cand AS (
  SELECT t.media_ref, t.x0, t.y1, z.zone_id
  FROM tiles_geo t JOIN zb z
  ON t.x0 <= z.zmaxx AND t.x1 >= z.zminx AND t.y0 <= z.zmaxy AND t.y1 >= z.zminy),
centers AS (
  SELECT c.media_ref, c.zone_id,
         c.x0 + (cc.i + 0.5) * {cfg.px_size} AS px,
         c.y1 - (rr.i + 0.5) * {cfg.px_size} AS py
  FROM cand c, range(0, {cfg.tile_px}) rr(i), range(0, {cfg.tile_px}) cc(i)),
hits AS (
  SELECT s.media_ref, s.zone_id, s.px, s.py
  FROM centers s JOIN pedges e USING (zone_id)
  GROUP BY s.media_ref, s.zone_id, s.px, s.py
  HAVING SUM(CASE WHEN ((ey1 > s.py) <> (ey2 > s.py))
                   AND (CASE WHEN ey2 > ey1 THEN {cross.replace('px','s.px').replace('py','s.py')} > 0
                        ELSE {cross.replace('px','s.px').replace('py','s.py')} < 0 END)
             THEN 1 ELSE 0 END) % 2 = 1)
SELECT c.media_ref, c.zone_id, count(h.px) AS n_inside
FROM cand c LEFT JOIN hits h ON h.media_ref = c.media_ref AND h.zone_id = c.zone_id
GROUP BY c.media_ref, c.zone_id"""


SQL_MASK_COUNTS = _sql_mask_counts()


# ---------------------------------------------------------------------------
# warp / resample to a reference grid + mosaic-max (S3/J1 pixel math —
# reference data.py:140-205 bilinear, data.py:401-410 nearest)
# ---------------------------------------------------------------------------

WARP_CFG = dg.GoldenConfig(n_tiles=40, tile_px=32, n_bands=2, n_media_tiles=40)
WARP_CHUNK, WARP_DPS = 32, 5  # 32×32-px dest chunks at 5 m (2× upsample of 10 m)


def _warp_inputs(spark: SparkSession):
    tiles = dg.tiles_df(spark, WARP_CFG).filter(
        F.col("tile_k") < WARP_CFG.n_media_tiles
    )
    return (
        tiles.select("media_ref", "x0", "y0", "x1", "y1"),
        dg.media_df(spark, WARP_CFG),
    )


def q_warp_mosaic_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, m = _warp_inputs(spark)
    return warp.warp_mosaic_stats(t, m, WARP_CHUNK, WARP_DPS, "nearest")


def q_warp_mosaic_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, m = _warp_inputs(spark)
    return warp.warp_mosaic_stats(t, m, WARP_CHUNK, WARP_DPS, "bilinear")


def _sql_warp(method: str) -> str:
    cfg = WARP_CFG
    ps, dps, ch = cfg.px_size, WARP_DPS, WARP_CHUNK
    ext, d, bias, w = ch * dps, 2 * cfg.px_size, warp.BIAS, cfg.tile_px
    nx = f"(2*(p.chx*{ext} - m.x0) + (2*p.cc + 1)*{dps})"
    ny = f"(2*(m.y1 - (p.chy + 1)*{ext}) + (2*p.rr + 1)*{dps})"
    cs = f"(({nx} + {bias * d}) // {d} - {bias})"
    rs = f"(({ny} + {bias * d}) // {d} - {bias})"
    if method == "nearest":
        val = dg.dn_sql("m.tile_k", "p.band", rs, cs)
    else:
        mx, my = f"({nx} - {ps})", f"({ny} - {ps})"
        ix0 = f"(({mx} + {bias * d}) // {d} - {bias})"
        iy0 = f"(({my} + {bias * d}) // {d} - {bias})"
        fx = f"({mx} - {d}*{ix0})"
        fy = f"({my} - {d}*{iy0})"
        cx0 = f"GREATEST(LEAST({ix0}, {w - 1}), 0)"
        cx1 = f"GREATEST(LEAST({ix0} + 1, {w - 1}), 0)"
        cy0 = f"GREATEST(LEAST({iy0}, {w - 1}), 0)"
        cy1 = f"GREATEST(LEAST({iy0} + 1, {w - 1}), 0)"
        dn = lambda rr, cc: f"({dg.dn_sql('m.tile_k', 'p.band', rr, cc)})"
        val = (
            f"(({d} - {fy}) * (({d} - {fx}) * {dn(cy0, cx0)} + {fx} * {dn(cy0, cx1)})"
            f" + {fy} * (({d} - {fx}) * {dn(cy1, cx0)} + {fx} * {dn(cy1, cx1)}))"
        )
    return f"""WITH {dg.tiles_sql(cfg)},
media AS (SELECT * FROM tiles_geo WHERE tile_k < {cfg.n_media_tiles}),
chunks AS (
  SELECT DISTINCT (m.x0 // {ext}) + gx.i AS chx, (m.y0 // {ext}) + gy.i AS chy
  FROM media m
  JOIN range(0, 4) gx(i) ON gx.i <= (m.x1 - 1) // {ext} - m.x0 // {ext}
  JOIN range(0, 4) gy(i) ON gy.i <= (m.y1 - 1) // {ext} - m.y0 // {ext}),
cand AS (
  SELECT (m.x0 // {ext}) + gx.i AS chx, (m.y0 // {ext}) + gy.i AS chy,
         m.tile_k, m.x0, m.y1
  FROM media m
  JOIN range(0, 4) gx(i) ON gx.i <= (m.x1 - 1) // {ext} - m.x0 // {ext}
  JOIN range(0, 4) gy(i) ON gy.i <= (m.y1 - 1) // {ext} - m.y0 // {ext}),
pix AS (
  SELECT c.chx, c.chy, b.band, r.i AS rr, cc.i AS cc
  FROM chunks c, range(0, {cfg.n_bands}) b(band),
       range(0, {ch}) r(i), range(0, {ch}) cc(i)),
vals AS (
  SELECT p.chx, p.chy, p.band, p.rr, p.cc, max({val}) AS v
  FROM pix p JOIN cand m ON m.chx = p.chx AND m.chy = p.chy
  WHERE {cs} BETWEEN 0 AND {w - 1} AND {rs} BETWEEN 0 AND {w - 1}
  GROUP BY p.chx, p.chy, p.band, p.rr, p.cc),
nsrc AS (SELECT chx, chy, count(*) AS n_sources FROM cand GROUP BY chx, chy)
SELECT p.chx, p.chy, CAST(p.band AS INTEGER) AS band, count(*) AS px_cnt,
       CAST(sum(COALESCE(v.v, 0)) AS BIGINT) AS sum_v,
       CAST(max(COALESCE(v.v, 0)) AS BIGINT) AS max_v,
       n.n_sources
FROM pix p
LEFT JOIN vals v ON v.chx = p.chx AND v.chy = p.chy AND v.band = p.band
                AND v.rr = p.rr AND v.cc = p.cc
JOIN nsrc n ON n.chx = p.chx AND n.chy = p.chy
GROUP BY p.chx, p.chy, p.band, n.n_sources"""


SQL_WARP_NEAREST = _sql_warp("nearest")
SQL_WARP_BILINEAR = _sql_warp("bilinear")


# GCP deformation-grid warp (reference data.py:174-195 — S1 sources carry
# ground control points, not an affine transform). Control lattice every
# GCP_GS source pixels; half-pixel offsets from the deterministic integer
# formula below, synthesized identically in both engines.
GCP_GS = 16
_GCP_GN = WARP_CFG.tile_px // GCP_GS  # lattice cells per axis (nodes = GN+1)


def _gcp_off_col(tile_k, i, j, a: int, b: int):
    return (tile_k * dg.M1 + i * a + j * b) % 7 - 3


def _gcp_warp_inputs(spark: SparkSession):
    t, m = _warp_inputs(spark)
    rng = F.sequence(F.lit(0), F.lit(_GCP_GN))
    tk = F.col("tile_k")
    m = m.withColumn(
        "gcp_du",
        F.transform(rng, lambda i: F.transform(rng, lambda j: _gcp_off_col(tk, i, j, 31, 17))),
    ).withColumn(
        "gcp_dv",
        F.transform(rng, lambda i: F.transform(rng, lambda j: _gcp_off_col(tk, i, j, 13, 41))),
    )
    return t, m


def q_warp_mosaic_gcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, m = _gcp_warp_inputs(spark)
    return warp.warp_mosaic_stats_gcp(t, m, WARP_CHUNK, WARP_DPS, GCP_GS)


def q_warp_mosaic_gcp_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, m = _gcp_warp_inputs(spark)
    return warp.warp_mosaic_stats_gcp(t, m, WARP_CHUNK, WARP_DPS, GCP_GS, "bilinear")


def q_warp_mosaic_gcp_bilinear_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-precision GCP bilinear (reference data.py:174-195
    resampling=bilinear): weights at the exact deformed remainder, no
    HALF_UP re-quantization; chunk sums as exact (hi, lo) int64 pairs."""
    t, m = _gcp_warp_inputs(spark)
    return warp.warp_mosaic_stats_gcp_full(t, m, WARP_CHUNK, WARP_DPS, GCP_GS)


def _sql_warp_gcp(method: str = "nearest") -> str:
    cfg = WARP_CFG
    ps, dps, ch, gs, gn = cfg.px_size, WARP_DPS, WARP_CHUNK, GCP_GS, _GCP_GN
    ext, bias, w = ch * dps, warp.BIAS, cfg.tile_px
    L = 2 * ps * gs
    Lsq = L * L
    D = 2 * ps * Lsq
    du = lambda i, j: f"((tile_k * {dg.M1} + ({i}) * 31 + ({j}) * 17) % 7 - 3)"
    dv = lambda i, j: f"((tile_k * {dg.M1} + ({i}) * 13 + ({j}) * 41) % 7 - 3)"
    d, hp = 2 * ps, ps * Lsq
    if method == "nearest":
        bil_cols = ""
        val = dg.dn_sql("d.tile_k", "b.band", "d.rs", "d.cs")
    else:
        ix0 = f"((U - {hp} + {bias * D}) // {D} - {bias})"
        iy0 = f"((V - {hp} + {bias * D}) // {D} - {bias})"
        if method == "bilinear_full":
            # full-precision weights: the exact deformed remainder ∈ [0, D),
            # no re-quantization — mirrors warp_np_gcp's bilinear_full branch
            fx_expr = f"U - {hp} - {D}*{ix0}"
            fy_expr = f"V - {hp} - {D}*{iy0}"
            d = D
        else:
            # HALF_UP re-quantization of the deformed remainder to 2·ps
            # units — mirrors warp_np_gcp's bilinear branch bit-for-bit
            fx_expr = f"(U - {hp} - {D}*{ix0} + {Lsq // 2}) // {Lsq}"
            fy_expr = f"(V - {hp} - {D}*{iy0} + {Lsq // 2}) // {Lsq}"
        bil_cols = (
            f", {fx_expr} AS fx"
            f", {fy_expr} AS fy"
            f", GREATEST(LEAST({ix0}, {w - 1}), 0) AS cx0"
            f", GREATEST(LEAST({ix0} + 1, {w - 1}), 0) AS cx1"
            f", GREATEST(LEAST({iy0}, {w - 1}), 0) AS cy0"
            f", GREATEST(LEAST({iy0} + 1, {w - 1}), 0) AS cy1"
        )
        dn = lambda rr, cc: f"({dg.dn_sql('d.tile_k', 'b.band', rr, cc)})"
        val = (
            f"(({d} - d.fy) * (({d} - d.fx) * {dn('d.cy0', 'd.cx0')}"
            f" + d.fx * {dn('d.cy0', 'd.cx1')})"
            f" + d.fy * (({d} - d.fx) * {dn('d.cy1', 'd.cx0')}"
            f" + d.fx * {dn('d.cy1', 'd.cx1')}))"
        )
    if method == "bilinear_full":
        # per-pixel hi/lo split keeps both sums inside BIGINT — no HUGEINT
        # in an output position (DRIVER_CHECKS.md type discipline)
        sum_cols = (
            "CAST(sum(COALESCE(v.v, 0) // 4294967296) AS BIGINT) AS sum_hi,\n"
            "       CAST(sum(COALESCE(v.v, 0) % 4294967296) AS BIGINT) AS sum_lo,"
        )
    else:
        sum_cols = "CAST(sum(COALESCE(v.v, 0)) AS BIGINT) AS sum_v,"
    return f"""WITH {dg.tiles_sql(cfg)},
media AS (SELECT * FROM tiles_geo WHERE tile_k < {cfg.n_media_tiles}),
cand AS (
  SELECT (m.x0 // {ext}) + gx.i AS chx, (m.y0 // {ext}) + gy.i AS chy,
         m.tile_k, m.x0, m.y1
  FROM media m
  JOIN range(0, 4) gx(i) ON gx.i <= (m.x1 - 1) // {ext} - m.x0 // {ext}
  JOIN range(0, 4) gy(i) ON gy.i <= (m.y1 - 1) // {ext} - m.y0 // {ext}),
chunks AS (SELECT DISTINCT chx, chy FROM cand),
d0 AS (
  SELECT m.chx, m.chy, m.tile_k, r.i AS rr, cc.i AS cc,
         2*(m.chx*{ext} - m.x0) + (2*cc.i + 1)*{dps} AS nx,
         2*(m.y1 - (m.chy + 1)*{ext}) + (2*r.i + 1)*{dps} AS ny
  FROM cand m, range(0, {ch}) r(i), range(0, {ch}) cc(i)),
d1 AS (
  SELECT *, GREATEST(LEAST((nx + {bias * L}) // {L} - {bias}, {max(gn - 1, 0)}), 0) AS jg,
            GREATEST(LEAST((ny + {bias * L}) // {L} - {bias}, {max(gn - 1, 0)}), 0) AS ig
  FROM d0),
d2 AS (SELECT *, nx - {L}*jg AS tx, ny - {L}*ig AS ty FROM d1),
d3 AS (
  SELECT chx, chy, tile_k, rr, cc,
    nx*{Lsq} + {ps} * (({L}-ty)*(({L}-tx)*{dv('ig','jg')} + tx*{dv('ig','jg+1')})
                       + ty*(({L}-tx)*{dv('ig+1','jg')} + tx*{dv('ig+1','jg+1')})) AS U,
    ny*{Lsq} + {ps} * (({L}-ty)*(({L}-tx)*{du('ig','jg')} + tx*{du('ig','jg+1')})
                       + ty*(({L}-tx)*{du('ig+1','jg')} + tx*{du('ig+1','jg+1')})) AS V
  FROM d2),
d4 AS (
  SELECT chx, chy, tile_k, rr, cc,
         (U + {bias * D}) // {D} - {bias} AS cs,
         (V + {bias * D}) // {D} - {bias} AS rs{bil_cols}
  FROM d3),
pix AS (
  SELECT c.chx, c.chy, b.band, r.i AS rr, cc.i AS cc
  FROM chunks c, range(0, {cfg.n_bands}) b(band),
       range(0, {ch}) r(i), range(0, {ch}) cc(i)),
vals AS (
  SELECT d.chx, d.chy, b.band, d.rr, d.cc,
         max({val}) AS v
  FROM d4 d, range(0, {cfg.n_bands}) b(band)
  WHERE d.cs BETWEEN 0 AND {w - 1} AND d.rs BETWEEN 0 AND {w - 1}
  GROUP BY d.chx, d.chy, b.band, d.rr, d.cc),
nsrc AS (SELECT chx, chy, count(*) AS n_sources FROM cand GROUP BY chx, chy)
SELECT p.chx, p.chy, CAST(p.band AS INTEGER) AS band, count(*) AS px_cnt,
       {sum_cols}
       CAST(max(COALESCE(v.v, 0)) AS BIGINT) AS max_v,
       n.n_sources
FROM pix p
LEFT JOIN vals v ON v.chx = p.chx AND v.chy = p.chy AND v.band = p.band
                AND v.rr = p.rr AND v.cc = p.cc
JOIN nsrc n ON n.chx = p.chx AND n.chy = p.chy
GROUP BY p.chx, p.chy, p.band, n.n_sources"""


SQL_WARP_GCP = _sql_warp_gcp()
SQL_WARP_GCP_BILINEAR = _sql_warp_gcp("bilinear")
SQL_WARP_GCP_BILINEAR_FULL = _sql_warp_gcp("bilinear_full")


# ---------------------------------------------------------------------------
# temporal replicate/reshape/pad (R3+R4 — reference prithvi_adapter.py:380-413)
# ---------------------------------------------------------------------------

N_FRAMES = 4


def q_temporal_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (cell, band) time series of tile statistics reshaped to exactly
    N_FRAMES frames: truncate long series, pad short ones by repeating the
    last acquisition (single acquisition ⇒ replicate)."""
    from .operators import temporal

    t = dg.tiles_df(spark, CFG).filter(F.col("tile_k") < CFG.n_media_tiles)
    cells = raster.tile_footprints(t, LEVEL).select("media_ref", "cell")
    stats = raster.tile_pixel_stats(dg.media_df(spark, CFG)).select(
        "media_ref", "band", F.col("sum_dn").alias("v")
    )
    acq = (
        stats.join(t.select("media_ref", F.col("tile_k").cast("long").alias("ts_h")), "media_ref")
        .join(cells, "media_ref")
    )
    out = temporal.temporal_stack(acq, N_FRAMES, keys=("cell", "band"))
    return out.select(
        "cell", F.col("band").cast("int").alias("band"), "n_acq", "t", "v"
    )


SQL_TEMPORAL_STACK = f"""WITH {dg.tiles_sql(CFG)}, {_PX_CTE},
tstats AS (
  SELECT media_ref, band, CAST(sum(dn) AS BIGINT) AS v
  FROM px GROUP BY media_ref, band),
{_sql_cells_cte(LEVEL).replace('FROM tiles_geo l', f'FROM (SELECT * FROM tiles_geo WHERE tile_k < {CFG.n_media_tiles}) l')},
ser AS (
  SELECT c.cell, s.band, count(*) AS n_acq,
         list(s.v ORDER BY t.tile_k, s.media_ref) AS vals
  FROM tstats s
  JOIN tiles_geo t USING (media_ref)
  JOIN cells c USING (media_ref)
  GROUP BY c.cell, s.band)
SELECT cell, CAST(band AS INTEGER) AS band, n_acq, CAST(ft.t AS INTEGER) AS t,
       vals[CAST(least(ft.t, n_acq - 1) + 1 AS INTEGER)] AS v
FROM ser, range(0, {N_FRAMES}) ft(t)"""


FOCAL_GC, FOCAL_GR = 20, 10  # 200 media tiles as a dense 20×10 scene mosaic


def q_focal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed 3×3 focal mean across tile seams (perimeter-only halo
    exchange, operators/focal.py). The reference pads each tile with its OWN
    reflected border (src/eo_core/data.py:241-245) because its windows never
    leave one rasterio dataset; here the windows genuinely cross executor
    boundaries and the halos are shuffled strips."""
    from .operators import focal

    media = dg.media_df(spark, CFG)
    out = focal.focal_stats(media, FOCAL_GC, FOCAL_GR, CFG.tile_px, radius=1)
    return out.orderBy("media_ref", "band")


def _sql_focal_stats() -> str:
    """Oracle: the focal mean recomputed per mosaic pixel straight from the
    DN formula — nine guarded inline terms, no joins, no halos. Any seam or
    truncation error in the distributed exchange diverges from this."""
    px, gc, gr, nb = CFG.tile_px, FOCAL_GC, FOCAL_GR, CFG.n_bands
    H, W = gr * px, gc * px

    def dn_at(r_expr: str, c_expr: str) -> str:
        tk = f"((({r_expr})//{px})*{gc} + (({c_expr})//{px}))"
        return dg.dn_sql(tk, "b", f"(({r_expr})%{px})", f"(({c_expr})%{px})")

    terms, cnts = [], []
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            g = f"R+({dr}) BETWEEN 0 AND {H - 1} AND C+({dc}) BETWEEN 0 AND {W - 1}"
            terms.append(
                f"CASE WHEN {g} THEN {dn_at(f'R+({dr})', f'C+({dc})')} ELSE 0 END"
            )
            cnts.append(f"CASE WHEN {g} THEN 1 ELSE 0 END")
    return f"""
WITH px AS (
  SELECT R, C, b,
         ({' + '.join(terms)}) AS wsum,
         ({' + '.join(cnts)}) AS wcnt
  FROM range(0, {H}) rr(R), range(0, {W}) cc(C), range(0, {nb}) bb(b)),
fm AS (SELECT (R//{px})*{gc} + (C//{px}) AS tk, b, wsum // wcnt AS fm FROM px)
SELECT 'tile' || lpad(CAST(tk AS VARCHAR), 8, '0') AS media_ref,
       CAST(b AS INTEGER) AS band, count(*) AS n_px,
       CAST(sum(fm) AS BIGINT) AS sum_fm,
       CAST(min(fm) AS INTEGER) AS min_fm, CAST(max(fm) AS INTEGER) AS max_fm
FROM fm GROUP BY tk, b"""


def q_focal_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3×3 focal median across tile seams (SAR despeckle), lower-median
    rule — same halo-exchange shape as the other focal queries."""
    from .operators import focal

    media = dg.media_df(spark, CFG)
    return focal.focal_median_stats(media, FOCAL_GC, FOCAL_GR, CFG.tile_px, radius=1)


def _sql_focal_median() -> str:
    """Oracle: per mosaic pixel, the lower median of the present 3×3 window
    recomputed from the DN formula via a sorted inline list — no halos."""
    px, gc, gr, nb = CFG.tile_px, FOCAL_GC, FOCAL_GR, CFG.n_bands
    H, W = gr * px, gc * px

    def dn_at(r_expr: str, c_expr: str) -> str:
        tk = f"((({r_expr})//{px})*{gc} + (({c_expr})//{px}))"
        return dg.dn_sql(tk, "b", f"(({r_expr})%{px})", f"(({c_expr})%{px})")

    terms = []
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            g = f"R+({dr}) BETWEEN 0 AND {H - 1} AND C+({dc}) BETWEEN 0 AND {W - 1}"
            terms.append(
                f"CASE WHEN {g} THEN {dn_at(f'R+({dr})', f'C+({dc})')} ELSE NULL END"
            )
    return f"""
WITH pxl AS (
  SELECT R, C, b,
         list_sort(list_filter([{', '.join(terms)}], x -> x IS NOT NULL)) AS vs
  FROM range(0, {H}) rr(R), range(0, {W}) cc(C), range(0, {nb}) bb(b)),
fm AS (SELECT (R//{px})*{gc} + (C//{px}) AS tk, b,
              vs[(len(vs)+1)//2] AS med FROM pxl)
SELECT 'tile' || lpad(CAST(tk AS VARCHAR), 8, '0') AS media_ref,
       CAST(b AS INTEGER) AS band, count(*) AS n_px,
       CAST(sum(med) AS BIGINT) AS sum_med,
       CAST(min(med) AS INTEGER) AS min_med, CAST(max(med) AS INTEGER) AS max_med
FROM fm GROUP BY tk, b"""


def q_tile_percentile_stretch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile contrast-stretch anchors (P-family): exact nearest-rank
    p2/p98 DN percentiles + clip counts, map-only (operators/raster.py)."""
    media = dg.media_df(spark, CFG)
    return raster.tile_percentile_stretch(media, p_lo=2, p_hi=98)


SQL_PERCENTILE_STRETCH = f"""WITH {dg.tiles_sql(CFG)}, {_PX_CTE},
rk AS (
  SELECT media_ref, band, dn,
         row_number() OVER (PARTITION BY media_ref, band ORDER BY dn) AS rnk,
         count(*) OVER (PARTITION BY media_ref, band) AS n
  FROM px),
anch AS (
  SELECT media_ref, band,
         max(CASE WHEN rnk = (2 * n + 99) // 100 THEN dn END) AS p_lo_dn,
         max(CASE WHEN rnk = (98 * n + 99) // 100 THEN dn END) AS p_hi_dn
  FROM rk GROUP BY media_ref, band)
SELECT a.media_ref, CAST(a.band AS INTEGER) AS band,
       CAST(a.p_lo_dn AS INTEGER) AS p_lo_dn,
       CAST(a.p_hi_dn AS INTEGER) AS p_hi_dn,
       CAST(sum(CASE WHEN p.dn < a.p_lo_dn THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
       CAST(sum(CASE WHEN p.dn > a.p_hi_dn THEN 1 ELSE 0 END) AS BIGINT) AS n_above
FROM anch a JOIN px p USING (media_ref, band)
GROUP BY a.media_ref, a.band, a.p_lo_dn, a.p_hi_dn"""


def q_focal_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terrain-derivative surface (slope precursor): per (tile, band) stats
    of the squared central-difference gradient magnitude across tile seams
    — same halo-exchange shape as focal_mean_stats, integer-exact."""
    from .operators import focal

    media = dg.media_df(spark, CFG)
    return focal.focal_gradient_stats(media, FOCAL_GC, FOCAL_GR, CFG.tile_px)


def _sql_focal_gradient() -> str:
    """Oracle: every mosaic pixel's gx/gy recomputed straight from the DN
    formula with explicit bounds guards — no halos, no joins. Any seam
    error or fabricated edge gradient in the distributed form diverges."""
    px, gc, gr, nb = CFG.tile_px, FOCAL_GC, FOCAL_GR, CFG.n_bands
    H, W = gr * px, gc * px

    def dn_at(r_expr: str, c_expr: str) -> str:
        tk = f"((({r_expr})//{px})*{gc} + (({c_expr})//{px}))"
        return dg.dn_sql(tk, "b", f"(({r_expr})%{px})", f"(({c_expr})%{px})")

    gx = f"({dn_at('R', 'C+1')} - {dn_at('R', 'C-1')})"
    gy = f"({dn_at('R+1', 'C')} - {dn_at('R-1', 'C')})"
    return f"""
WITH g AS (
  SELECT (R//{px})*{gc} + (C//{px}) AS tk, b,
         {gx}*{gx} + {gy}*{gy} AS g2
  FROM range(1, {H - 1}) rr(R), range(1, {W - 1}) cc(C), range(0, {nb}) bb(b))
SELECT 'tile' || lpad(CAST(tk AS VARCHAR), 8, '0') AS media_ref,
       CAST(b AS INTEGER) AS band, count(*) AS n_valid,
       CAST(sum(g2) AS BIGINT) AS sum_g2, CAST(max(g2) AS BIGINT) AS max_g2
FROM g GROUP BY tk, b"""


QUERIES = {
    "pip_join_rect": (q_pip_rect, SQL_PIP_RECT),
    "pip_join_poly": (q_pip_poly, SQL_PIP_POLY),
    "pip_unmatched_lineage": (q_pip_unmatched, SQL_PIP_UNMATCHED),
    "overlay_rect_areas": (q_overlay_rect_areas, SQL_OVERLAY),
    "knn_ring_expansion": (q_knn, SQL_KNN),
    "distance_join_pairs": (q_distance_join, SQL_DISTANCE_JOIN),
    "dbscan_clusters": (q_dbscan, SQL_DBSCAN),
    "idw_surface": (q_idw, SQL_IDW),
    "kde_density_surface": (q_kde_surface, _sql_kde()),
    "corridor_join_segments": (q_corridor_join, _sql_corridor()),
    "morans_i_tiles": (q_morans_i, _sql_morans_i()),
    "local_moran_cells": (q_local_moran, _sql_local_moran()),
    "emerging_hotspots": (q_emerging_hotspots, _sql_emerging_hotspots()),
    "tile_footprint_cells": (q_tile_cells, SQL_TILE_CELLS),
    "pyramid_rollup": (q_pyramid_rollup, SQL_PYRAMID),
    "tile_pixel_stats": (q_tile_pixel_stats, SQL_TILE_PIXEL_STATS),
    "tile_band_index": (q_tile_band_index, SQL_TILE_BAND_INDEX),
    "tile_histogram": (q_tile_histogram, SQL_TILE_HISTOGRAM),
    "tile_overview_stats": (q_tile_overviews, _sql_tile_overviews()),
    "zonal_stats": (q_zonal_stats, SQL_ZONAL_STATS),
    "zonal_stats_weighted": (q_zonal_stats_weighted, SQL_ZONAL_WEIGHTED),
    "zonal_majority": (q_zonal_majority, SQL_ZONAL_MAJORITY),
    "span_fingerprints": (q_span_fingerprints, SQL_SPAN_FINGERPRINTS),
    "media_span_zones": (q_media_span_zones, SQL_MEDIA_SPAN_ZONES),
    "chunk_grid": (q_chunk_grid, SQL_CHUNK_GRID),
    "asof_acquisitions": (q_asof_acquisitions, SQL_ASOF),
    "gap_fill_locf": (q_gap_fill, SQL_GAP_FILL),
    "ewma_series": (q_ewma_series, SQL_EWMA),
    "cusum_alarms": (q_cusum_alarms, _sql_cusum()),
    "campaign_coverage": (q_campaign_coverage, SQL_CAMPAIGN_COVERAGE),
    "mann_kendall_trend": (q_mann_kendall, _sql_mann_kendall()),
    "ols_trend_cells": (q_ols_trend, _sql_ols_trend()),
    "range_join_campaigns": (q_range_join_campaigns, SQL_RANGE_JOIN),
    "change_detection": (q_change_detection, SQL_CHANGE_DETECTION),
    "series_per_cell": (q_series_per_cell, SQL_SERIES),
    "cell_mosaic_max": (q_cell_mosaic_max, SQL_CELL_MOSAIC_MAX),
    "tile_class_topk": (q_tile_class_topk, SQL_TILE_CLASS_TOPK),
    "window_intersection": (q_window_intersection, SQL_WINDOW_INTERSECTION),
    "mask_pixel_counts": (q_mask_pixel_counts, SQL_MASK_COUNTS),
    "polygonize_class_areas": (q_polygonize_class_areas, SQL_POLYGONIZE_AREAS),
    "warp_mosaic_nearest": (q_warp_mosaic_nearest, SQL_WARP_NEAREST),
    "warp_mosaic_bilinear": (q_warp_mosaic_bilinear, SQL_WARP_BILINEAR),
    "warp_mosaic_gcp": (q_warp_mosaic_gcp, SQL_WARP_GCP),
    "warp_mosaic_gcp_bilinear": (q_warp_mosaic_gcp_bilinear, SQL_WARP_GCP_BILINEAR),
    "warp_mosaic_gcp_bilinear_full": (
        q_warp_mosaic_gcp_bilinear_full,
        SQL_WARP_GCP_BILINEAR_FULL,
    ),
    "temporal_stack_frames": (q_temporal_stack, SQL_TEMPORAL_STACK),
    "global_class_probs": (q_global_class_probs, _sql_global_class_probs()),
    "class_metrics": (q_class_metrics, _sql_class_metrics()),
    "focal_mean_stats": (q_focal_stats, _sql_focal_stats()),
    "focal_gradient_stats": (q_focal_gradient, _sql_focal_gradient()),
    "tile_percentile_stretch": (q_tile_percentile_stretch, SQL_PERCENTILE_STRETCH),
    "focal_median_stats": (q_focal_median, _sql_focal_median()),
}
