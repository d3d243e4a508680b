"""The benchmark workloads.

Each workload has a ``prepare`` step (write the seeded corpus, compute the
expected digests; untimed) and a ``job`` that calls the engine's public
operators and ends in one action returning an order-insensitive digest per
output. A digest is ``(rows, sum h71, sum h72)`` over an integer fold of each
row, computed by Spark in the job and by numpy in ``oracle.digest_np``.

Calls into a layer go through the tracer (``trace.Tracer``), which tags the
Spark jobs they start with the layer's name and records spans; the engine
code is not touched.
"""

from __future__ import annotations

import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotiff_scalable_analysis_pipeline_spark import datagen as dg
from geotiff_scalable_analysis_pipeline_spark.operators import (
    chunking,
    dbscan,
    knn,
    pip_join,
    raster,
    spans,
    zonal,
)
from geotiff_scalable_analysis_pipeline_spark.plans import memory_model, pyramid, skew
from geotiff_scalable_analysis_pipeline_spark.plans.catalog import TableCatalog

from . import corpus, oracle

# ---------------------------------------------------------------------------
# digests
# ---------------------------------------------------------------------------


def fold_expr(cols: list[str]) -> str:
    k = "CAST(0 AS BIGINT)"
    for c in cols:
        k = f"pmod(pmod({k} * {oracle.FOLD}, {oracle.MOD}) + pmod(CAST({c} AS BIGINT), {oracle.MOD}), {oracle.MOD})"
    return k


def hist_fold(col: str) -> str:
    """Fold of an integer array column, element by element."""
    return (f"aggregate({col}, CAST(0 AS BIGINT), (a, x) -> "
            f"pmod(pmod(a * {oracle.FOLD}, {oracle.MOD}) + x, {oracle.MOD}))")


def digest_df(df: DataFrame, cols: list[str], label: str) -> DataFrame:
    """One row (label, rows, s1, s2): the Spark side of ``oracle.digest_np``."""
    k = fold_expr(cols)
    return df.selectExpr(f"{k} AS _k").selectExpr(
        f"{dg.ihash_expr('_k', 71)} AS h1", f"{dg.ihash_expr('_k', 72)} AS h2"
    ).agg(
        F.lit(label).alias("part"),
        F.count("*").alias("n"),
        F.coalesce(F.sum("h1"), F.lit(0)).alias("s1"),
        F.coalesce(F.sum("h2"), F.lit(0)).alias("s2"),
    )


def collect_digests(parts: list[DataFrame]) -> dict[str, tuple[int, int, int]]:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return {r["part"]: (r["n"], r["s1"], r["s2"]) for r in out.collect()}


def tile_key(col: str = "media_ref") -> str:
    """Local tile index from a ``tileNNNNNNNN`` reference."""
    return f"CAST(substring({col}, 5, 8) AS BIGINT)"


ROLE_CODE = "CASE role WHEN 'core' THEN 0 WHEN 'border' THEN 1 ELSE 2 END"

# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


@dataclass
class Workload:
    name: str
    units: int = 0  # work units one job completes
    tables: dict[str, Path] = field(default_factory=dict)
    expected: dict[str, tuple[int, int, int] | None] = field(default_factory=dict)
    # (regex over a plan node's text, layer): marks the stages a layer runs
    # inside another layer's action; first match wins
    markers: list[tuple[str, str]] = field(default_factory=list)
    params: dict = field(default_factory=dict)
    read_s: list[float] = field(default_factory=list)
    stored_bytes: list[int] = field(default_factory=list)

    def read(self, spark, name):
        return spark.read.parquet(str(self.tables[name]))


# "bench" is what the timed runs use, "tiny" the self-test
SIZES = {
    "vector_catalog": {"bench": dict(n_tiles=20_000, n_docs=100_000),
                       "tiny": dict(n_tiles=2_000, n_docs=5_000)},
    "raster_neighbour": {"bench": dict(n_media=384, n_chunk=64, n_tiles=20_000, n_points=5_000,
                                       eps=1500),
                         "tiny": dict(n_media=32, n_chunk=8, n_tiles=2_000, n_points=400,
                                      eps=6000)},
}

DBSCAN_MIN_PTS = 4
KNN_K = 5
CHUNK = dict(zor=64, halo=16, patch=32, stride=16)
VIEW_ANCHORS = {int(c) for c in oracle.cell_id(np.array([0, 1, 0, 1]), np.array([0, 0, 1, 1]),
                                               pyramid.ANCHOR_LEVEL)}
# pyramid levels, finest first. Three, not the five of 8..4: each level costs
# the same fixed stage latency, and levels 5 and 4 added about 2 s to a 8 s
# job (28%) without loading any code the first three do not.
LEVELS = range(8, 5, -1)


def prepare(name: str, size: str, seed: int, root: Path) -> Workload:
    """Write the seeded corpus under ``root`` and compute expected digests
    (None: no oracle affordable at this size; the first job's digest is the
    reference every later job must equal)."""
    p = SIZES[name][size]
    w = Workload(name, params=p)

    def put(table, data):
        w.tables[table] = root / table
        corpus.write(data, root / table)

    t = corpus.tiles(p["n_tiles"], seed)
    rz = corpus.rect_zones(seed)
    put("tiles", t)
    put("rect_zones", rz)
    pairs = oracle.pip_pairs(t, rz)
    if name == "vector_catalog":
        put("poly_zones", corpus.poly_table())
        sp = corpus.media_spans(p["n_docs"], p["n_tiles"], seed)
        put("documents", corpus.documents_table(sp, p["n_docs"]))
        w.expected["rollup"] = oracle.digest_np(*oracle.zone_rollup(sp, pairs))
        w.expected["pairs"] = oracle.digest_np(pairs[0], pairs[1])
        pyr = oracle.pyramid(t, LEVELS[0], LEVELS[-1])
        view = np.isin(oracle.anchor(pyr["cell"], pyr["level"], pyramid.ANCHOR_LEVEL),
                       list(VIEW_ANCHORS))
        for lv in LEVELS:
            sel = view & (pyr["level"] == lv)
            w.expected[f"view{lv}"] = oracle.digest_np(pyr["cell"][sel], pyr["n_tiles"][sel])
        w.units = p["n_tiles"] + p["n_docs"]
        w.markers = [(r"posexplode\(spans", "spans"), (r"MapInPandas exact", "pip_join"),
                     (r"_salt", "skew")]
    else:
        put("media", corpus.media_table(t, p["n_media"], seed))
        put("points", corpus.points(p["n_points"], seed))
        st = oracle.tile_stats(corpus.media_keys(p["n_media"], seed))
        hist_k = np.zeros(len(st["tile"]), dtype=np.int64)
        for b in range(st["hist"].shape[1]):
            hist_k = ((hist_k * oracle.FOLD) % oracle.MOD + st["hist"][:, b]) % oracle.MOD
        w.expected["stats"] = oracle.digest_np(
            st["tile"], st["band"], st["cnt"], st["sum_dn"], st["sum_sq"], st["min_dn"],
            st["max_dn"], st["sum_cal"], hist_k)
        rect = pairs[1] < corpus.N_RECT_ZONES
        z = oracle.zonal((pairs[0][rect], pairs[1][rect]), st, p["n_media"])
        w.expected["zonal"] = oracle.digest_np(*z.values())
        w.expected.update(probs=None, knn=None, dbscan=None)
        w.units = p["n_media"] + p["n_points"]
        w.markers = [(r"MapInPandas both", "raster"), (r"MapInPandas stats", "raster"),
                     (r"MapInPandas run", "chunking"), (r"_salt", "zonal")]
    return w


def job(w: Workload, spark, tr, scratch: Path) -> dict[str, tuple[int, int, int]]:
    """One job of workload ``w``; returns its digests by output name."""
    if w.name == "vector_catalog":
        return _vector_catalog(w, spark, tr, scratch)
    return {**_raster_zonal(w, spark, tr), **_neighbours(w, spark, tr)}


def _vector_catalog(w, spark, tr, scratch):
    """docs → media spans → PIP (rect + poly) → salted per-zone span/doc
    rollup; the PIP pairs are committed to the table catalog as an append
    snapshot beside the tile pyramid, then map viewports are read back."""
    docs, tiles = w.read(spark, "documents"), w.read(spark, "tiles")
    m = tr.call("spans", spans.media_spans, docs)
    pairs = tr.call("pip_join", pip_join.pip_join, tiles.select("media_ref", "cx", "cy"),
                    w.read(spark, "rect_zones"), w.read(spark, "poly_zones"), x="cx", y="cy")
    # the span explode and the PIP join each feed three consumers: persist
    # the 16-byte projections once, as the flagship pipeline does
    mk = m.selectExpr(f"{tile_key()} AS tk",
                      "CAST(substring(doc_id, 4, 10) AS BIGINT) AS dk").persist()
    pk = pairs.selectExpr(f"{tile_key()} AS tk", "zone_id").persist()
    hist = skew.key_histogram(mk, "tk").withColumnRenamed("cnt", "nt").persist()
    root = scratch / f"catalog-{time.monotonic_ns()}"
    cat = TableCatalog(root)
    try:
        plan = tr.call("skew", lambda: skew.materialize_plan(
            skew.salt_plan(hist.withColumnRenamed("nt", "cnt"), "tk", threshold=32.0)))
        n_spans = (hist.join(pk.hint("shuffle_hash"), "tk").groupBy("zone_id")
                   .agg(F.sum("nt").alias("n_spans")))
        n_docs = (tr.call("skew", skew.salted_join, mk, pk, "tk", plan, seed_col="dk")
                  .dropDuplicates(["zone_id", "dk"]).groupBy("zone_id")
                  .agg(F.count("*").alias("n_docs")))
        out = tr.action("rollup", collect_digests,
                        [digest_df(n_spans.join(n_docs, "zone_id"),
                                   ["zone_id", "n_spans", "n_docs"], "rollup")])
        tr.call("catalog:commit", cat.commit, pk, "pip_pairs", mode="append")
        tr.call("pyramid", pyramid.build_pyramid, cat, tiles, finest=LEVELS[0],
                coarsest=LEVELS[-1])
        for lv in LEVELS:
            t0 = time.perf_counter()
            view = tr.call("catalog:read", pyramid.read_viewport, cat, spark, lv, VIEW_ANCHORS)
            out.update(tr.action("catalog:read", collect_digests,
                                 [digest_df(view, ["cell", "n_tiles"], f"view{lv}")]))
            w.read_s.append(time.perf_counter() - t0)
        out.update(tr.action("catalog:read", collect_digests,
                             [digest_df(cat.read(spark, "pip_pairs"), ["tk", "zone_id"], "pairs")]))
        tr.count("catalog.files_total", lambda: sum(
            len(cat.manifest(t)["files"]) for t in ("pip_pairs", "tile_pyramid")))
        w.stored_bytes.append(sum(f.stat().st_size for f in root.rglob("*") if f.is_file()))
        return out
    finally:
        for f in (hist, mk, pk):
            f.unpersist()
        shutil.rmtree(root, ignore_errors=True)


def _raster_zonal(w, spark, tr):
    """Payload decode → per-tile stats and histogram; the overlap-add chunk
    pipeline over a key range of tiles; rect PIP → salted zonal rollup."""
    with media_conf(spark):
        return _raster_zonal_job(w, spark, tr)


def _raster_zonal_job(w, spark, tr):
    media, tiles = w.read(spark, "media"), w.read(spark, "tiles")
    fused = tr.call("raster", raster.tile_stats_and_histogram, media)
    sub = media.filter(F.col("tile_k") < w.params["n_chunk"])  # a key range, not limit()
    probs = tr.call("chunking", lambda: chunking.global_class_probs(
        chunking.chunk_class_stats(sub, **CHUNK)))
    pairs = tr.call("pip_join", pip_join.pip_join_rect, tiles.select("media_ref", "cx", "cy"),
                    w.read(spark, "rect_zones"), x="cx", y="cy")
    zon = tr.call("zonal", zonal.two_stage_zonal, pairs,
                  tr.call("raster", raster.tile_pixel_stats, media))
    return tr.action("digest", collect_digests, [
        digest_df(fused, [tile_key(), "band", "cnt", "sum_dn", "sum_sq", "min_dn", "max_dn",
                          "sum_cal", hist_fold("hist")], "stats"),
        digest_df(zon, ["zone_id", "band", "n_tiles", "px_cnt", "sum_dn", "sum_sq", "min_dn",
                        "max_dn", "sum_cal"], "zonal"),
        digest_df(probs, [tile_key(), "class", "px_cnt", "CAST(round(mean_prob * 1e9) AS BIGINT)",
                          "CAST(round(prob_min * 1e9) AS BIGINT)",
                          "CAST(round(prob_max * 1e9) AS BIGINT)"], "probs"),
    ])


def _neighbours(w, spark, tr):
    """Exact kNN of the query points among the tile centres, then DBSCAN
    over the query points: both iterate with many short driver actions."""
    pts, tiles = w.read(spark, "points"), w.read(spark, "tiles")
    nn = tr.call("knn", knn.knn_join, pts, tiles, k=KNN_K,
                 level=knn.pick_level(w.params["n_tiles"]))
    cl = tr.call("dbscan", dbscan.dbscan, pts, eps=w.params["eps"], min_pts=DBSCAN_MIN_PTS)
    return tr.action("digest", collect_digests, [
        digest_df(nn, ["q_id", "rank", tile_key(), "dist_sq"], "knn"),
        digest_df(cl, ["q_id", ROLE_CODE, "cluster_id"], "dbscan"),
    ])


@contextmanager
def media_conf(spark):
    """Size Arrow batches and scan splits for the ~128 KiB payload rows
    (``memory_model.autotune_conf``) around the raster pipeline only, as the
    media benches of ``bench.py`` do, and restore the previous values."""
    conf = memory_model.autotune_conf(corpus.TILE_PX * corpus.TILE_PX * corpus.N_BANDS * 2)
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
