"""Expected outputs computed in numpy straight from the generated arrays.

Nothing here calls the engine: point-in-polygon, cell covers and raster
statistics are written out again from their documented rules, so a digest
match means the engine's plan and the independent arithmetic agree.
"""

from __future__ import annotations

import numpy as np

from geotiff_scalable_analysis_pipeline_spark import datagen as dg

from . import corpus

MOD = 1 << 31
FOLD = 1_000_003


def digest_np(*cols: np.ndarray) -> tuple[int, int, int]:
    """(rows, sum h71, sum h72) over rows of integer columns — the numpy
    twin of ``workloads.digest_df``; row order does not matter."""
    k = np.zeros(len(cols[0]), dtype=np.int64)
    for c in cols:
        k = ((k * FOLD) % MOD + np.asarray(c, dtype=np.int64) % MOD) % MOD
    return (len(k), int(dg.ihash_np(k, 71).sum()), int(dg.ihash_np(k, 72).sum()))


def in_polygon(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast toward +x with integer cross products; an edge
    counts when exactly one endpoint lies strictly above the point."""
    x1, y1 = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    inside = np.zeros(len(px), dtype=bool)
    for a, b, c, d in zip(x1, y1, x2, y2):
        straddle = (b > py) != (d > py)
        cross = (c - a) * (py - b) - (px - a) * (d - b)
        inside ^= straddle & ((cross > 0) if d > b else (cross < 0))
    return inside


def pip_pairs(t: dict, rz: dict) -> tuple[np.ndarray, np.ndarray]:
    """(tile index, zone id) for every tile centre inside a zone, rectangle
    edges inclusive."""
    cx, cy = t["cx"][:, None], t["cy"][:, None]
    hit = (cx >= rz["minx"]) & (cx <= rz["maxx"]) & (cy >= rz["miny"]) & (cy <= rz["maxy"])
    ti, zi = np.nonzero(hit)
    tiles_, zones_ = [ti], [rz["zone_id"][zi]]
    for zid, ring in corpus.poly_zones().items():
        idx = np.nonzero(in_polygon(t["cx"], t["cy"], ring))[0]
        tiles_.append(idx)
        zones_.append(np.full(len(idx), zid, dtype=np.int64))
    return np.concatenate(tiles_), np.concatenate(zones_)


def zone_rollup(sp: dict, pairs: tuple[np.ndarray, np.ndarray]) -> tuple[np.ndarray, ...]:
    """Per zone: media spans landing in it and distinct documents behind them."""
    media = ~sp["is_text"]
    doc, tile = sp["doc"][media], sp["tile"][media]
    ptile, pzone = pairs
    order = np.argsort(ptile, kind="stable")
    ptile, pzone = ptile[order], pzone[order]
    lo = np.searchsorted(ptile, tile, "left")
    hi = np.searchsorted(ptile, tile, "right")
    n = hi - lo
    span_idx = np.repeat(np.arange(len(tile)), n)
    pair_idx = np.concatenate([np.arange(a, b) for a, b in zip(lo[n > 0], hi[n > 0])]) if n.any() \
        else np.zeros(0, dtype=np.int64)
    z = pzone[pair_idx]
    zones, n_spans = np.unique(z, return_counts=True)
    zd = np.unique(z * (doc.max() + 1) + doc[span_idx])
    _, n_docs = np.unique(zd // (doc.max() + 1), return_counts=True)
    return zones, n_spans, n_docs


def tile_stats(keys: np.ndarray, bins: int = 16, dn_max: int = 10000) -> dict[str, np.ndarray]:
    """Per (tile, band) integer pixel stats and the dense histogram of the
    payload rasters, recomputed from the DN formula (never from bytes)."""
    rows = {k: [] for k in ("tile", "band", "cnt", "sum_dn", "sum_sq", "min_dn", "max_dn",
                            "sum_cal", "hist")}
    for i, key in enumerate(keys):
        a = corpus.dn(int(key)).astype(np.int64)
        cal = np.maximum(a - 1000, 0) if key % 2 == 1 else a  # odd key → baseline 500
        for b in range(corpus.N_BANDS):
            rows["tile"].append(i)
            rows["band"].append(b)
            rows["cnt"].append(a[b].size)
            rows["sum_dn"].append(int(a[b].sum()))
            rows["sum_sq"].append(int((a[b] * a[b]).sum()))
            rows["min_dn"].append(int(a[b].min()))
            rows["max_dn"].append(int(a[b].max()))
            rows["sum_cal"].append(int(cal[b].sum()))
            rows["hist"].append(np.bincount((a[b] * bins // (dn_max + 1)).ravel(), minlength=bins))
    return {k: np.asarray(v) for k, v in rows.items()}


def zonal(pairs: tuple[np.ndarray, np.ndarray], st: dict, n_media: int) -> dict[str, np.ndarray]:
    """Per (zone, band) rollup of the tile stats over the PIP pairs of the
    payload tiles."""
    ptile, pzone = pairs
    keep = ptile < n_media
    ptile, pzone = ptile[keep], pzone[keep]
    out = {k: [] for k in ("zone", "band", "n_tiles", "cnt", "sum_dn", "sum_sq", "min_dn",
                           "max_dn", "sum_cal")}
    for z in np.unique(pzone):
        members = ptile[pzone == z]
        for b in range(corpus.N_BANDS):
            sel = members * corpus.N_BANDS + b
            out["zone"].append(z)
            out["band"].append(b)
            out["n_tiles"].append(len(sel))
            for k in ("cnt", "sum_dn", "sum_sq", "sum_cal"):
                out[k].append(int(st[k][sel].sum()))
            out["min_dn"].append(int(st["min_dn"][sel].min()))
            out["max_dn"].append(int(st["max_dn"][sel].max()))
    return {k: np.asarray(v, dtype=np.int64) for k, v in out.items()}


def cell_id(ix: np.ndarray, iy: np.ndarray, level: int) -> np.ndarray:
    """Morton code of lattice (ix, iy) with the level in the low 5 bits."""
    m = np.zeros(len(ix), dtype=np.int64)
    for b in range(level):
        m |= ((ix >> b) & 1) << (2 * b)
        m |= ((iy >> b) & 1) << (2 * b + 1)
    return (m << 5) + level


def pyramid(t: dict, finest: int, coarsest: int) -> dict[str, np.ndarray]:
    """(level, cell, n_tiles): distinct tiles whose half-open footprint
    touches each cell, per level."""
    out = {"level": [], "cell": [], "n_tiles": []}
    frame = 131072  # functions.cells frame edge
    for lv in range(finest, coarsest - 1, -1):
        res = frame / (1 << lv)
        n = (1 << lv) - 1
        lat = lambda v: np.clip(np.floor(v / res).astype(np.int64), 0, n)  # noqa: E731
        ix0, ix1, iy0, iy1 = lat(t["x0"]), lat(t["x1"] - 1), lat(t["y0"]), lat(t["y1"] - 1)
        cells = []
        for dx in range(int((ix1 - ix0).max()) + 1):
            for dy in range(int((iy1 - iy0).max()) + 1):
                ok = (ix0 + dx <= ix1) & (iy0 + dy <= iy1)
                cells.append(cell_id(ix0[ok] + dx, iy0[ok] + dy, lv))
        cell, cnt = np.unique(np.concatenate(cells), return_counts=True)
        out["level"].append(np.full(len(cell), lv))
        out["cell"].append(cell)
        out["n_tiles"].append(cnt)
    return {k: np.concatenate(v) for k, v in out.items()}


def anchor(cell: np.ndarray, level: np.ndarray, anchor_level: int) -> np.ndarray:
    """Ancestor cell at ``anchor_level`` (the pyramid's partition column)."""
    return (((cell >> 5) >> ((level - anchor_level) * 2)) << 5) + anchor_level


def knn(p: dict, t: dict, k: int) -> tuple[np.ndarray, ...]:
    """Brute-force kNN: (q_id, rank, tile, dist_sq), ties broken by tile
    reference. Quadratic; for the self-test sizes only."""
    d = (p["qx"][:, None] - t["cx"]) ** 2 + (p["qy"][:, None] - t["cy"]) ** 2
    order = np.lexsort((np.broadcast_to(t["tile_k"], d.shape), d), axis=1)[:, :k]
    q = np.repeat(p["q_id"], k)
    return q, np.tile(np.arange(1, k + 1), len(p["q_id"])), t["tile_k"][order].ravel(), \
        np.take_along_axis(d, order, axis=1).ravel()


def dbscan(p: dict, eps: int, min_pts: int) -> tuple[np.ndarray, ...]:
    """Brute-force DBSCAN: (q_id, role code 0 core / 1 border / 2 noise,
    cluster id = smallest core id of the cluster, -1 for noise); a border
    point joins the smallest cluster id among its core neighbours."""
    x, y = p["qx"], p["qy"]
    near = (x[:, None] - x) ** 2 + (y[:, None] - y) ** 2 <= eps * eps
    core = near.sum(axis=1) >= min_pts
    label = np.where(core, p["q_id"], np.iinfo(np.int64).max)
    edges = near & core[:, None] & core[None, :]
    while True:  # min-label propagation over core-core edges
        nxt = np.where(edges, label[None, :], np.iinfo(np.int64).max).min(axis=1)
        nxt = np.minimum(label, nxt)
        if np.array_equal(nxt, label):
            break
        label = nxt
    via = np.where(near & core[None, :], label[None, :], np.iinfo(np.int64).max).min(axis=1)
    border = ~core & (via < np.iinfo(np.int64).max)
    cluster = np.where(core, label, np.where(border, via, -1))
    role = np.where(core, 0, np.where(border, 1, 2))
    return p["q_id"], role, cluster
