"""Seeded benchmark inputs, written as parquet into a fresh directory per run.

``datagen`` keys every row only by its index, so a seed cannot be passed to
it. These generators reuse its integer hash and formulas but hash
``offset + index``, where the offset comes from the seed: the same seed gives
the same tables, another seed moves every coordinate, span and pixel. Names
(``media_ref``, ``doc_id``) stay keyed by the local index, so documents
reference tiles of the same corpus.

Each run writes its own corpus and deletes it afterwards; nothing is cached
across seeds, sizes or edits to ``datagen``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from geotiff_scalable_analysis_pipeline_spark import datagen as dg
from geotiff_scalable_analysis_pipeline_spark.formats import tiff

TILE_PX = 128  # payload tiles: 128 px x 4 bands x uint16 = 128 KiB
PX_SIZE = 10
EXTENT = TILE_PX * PX_SIZE
N_BANDS = 4
N_RECT_ZONES = 90
HOT_TILES = 50  # datagen's span rule sends 40% of media spans to 50 tiles
FILES_PER_TABLE = 16  # wide enough that the first scan stage is never one task


def key_offset(seed: int, salt: int) -> int:
    """Offset of one table's hash keys. Below 2**30, so ``offset + index``
    keeps every ``ihash_np`` intermediate inside int64."""
    return int(dg.ihash_np(np.int64(seed % (1 << 30)), 90 + salt)) % (1 << 30)


def tiles(n: int, seed: int) -> dict[str, np.ndarray]:
    k = key_offset(seed, 1) + np.arange(n, dtype=np.int64)
    hx, hy = dg.ihash_np(k, 1), dg.ihash_np(k, 2)
    cluster = k % 10
    hot = cluster < 5
    spot = np.array(dg.HOTSPOTS + [(0, 0)] * 5, dtype=np.int64)[cluster]
    x0 = np.where(hot, spot[:, 0] + hx % 16001 - 8000, hx % (dg.FRAME - EXTENT))
    y0 = np.where(hot, spot[:, 1] + hy % 16001 - 8000, hy % (dg.FRAME - EXTENT))
    i = np.arange(n, dtype=np.int64)
    return {
        "tile_k": i,
        "media_ref": np.char.add("tile", np.char.zfill(i.astype(str), 8)),
        "x0": x0,
        "y0": y0,
        "x1": x0 + EXTENT,
        "y1": y0 + EXTENT,
        "cx": x0 + EXTENT // 2,
        "cy": y0 + EXTENT // 2,
    }


def rect_zones(seed: int) -> dict[str, np.ndarray]:
    z = key_offset(seed, 2) + np.arange(N_RECT_ZONES, dtype=np.int64)
    g1, g2, g3, g4 = (dg.ihash_np(z, s) for s in (11, 12, 13, 14))
    return {
        "zone_id": np.arange(N_RECT_ZONES, dtype=np.int64),
        "minx": g1 % 90000,
        "miny": g2 % 90000,
        "maxx": g1 % 90000 + 2000 + g3 % 20001,
        "maxy": g2 % 90000 + 2000 + g4 % 20001,
    }


def poly_zones() -> dict[int, np.ndarray]:
    """The literal polygon layer; zone ids follow the rectangles."""
    return {N_RECT_ZONES + i: np.asarray(r, dtype=np.int64) for i, r in dg.POLY_ZONES.items()}


def media_spans(n_docs: int, n_tiles: int, seed: int) -> dict[str, np.ndarray]:
    """Flat span table of the interleaved documents: one row per span."""
    d = key_offset(seed, 3) + np.arange(n_docs, dtype=np.int64)
    n_spans = 1 + dg.ihash_np(d, 31) % 8
    doc = np.repeat(np.arange(n_docs, dtype=np.int64), n_spans)
    j = np.arange(len(doc)) - np.repeat(np.cumsum(n_spans) - n_spans, n_spans)
    sid = np.repeat(d, n_spans) * 8 + j
    is_text = dg.ihash_np(sid, 32) % 3 > 0
    hot = dg.ihash_np(sid, 35) % 5 < 2
    tile = np.where(hot, dg.ihash_np(sid, 36) % HOT_TILES, dg.ihash_np(sid, 34) % n_tiles)
    return {
        "doc": doc,
        "j": j,
        "n_spans": n_spans,
        "is_text": is_text,
        "token": dg.ihash_np(sid, 33) % 1000,
        "tile": tile,
    }


def documents_table(sp: dict[str, np.ndarray], n_docs: int) -> pa.Table:
    """(doc_id, spans array<struct<kind, text, media_ref, offset>>), the
    shape ``spans.media_spans`` reads."""
    kind = np.where(sp["is_text"], "text", "media")
    text = pa.array(np.char.add("t", sp["token"].astype(str)), mask=~sp["is_text"])
    ref = pa.array(np.char.add("tile", np.char.zfill(sp["tile"].astype(str), 8)), mask=sp["is_text"])
    structs = pa.StructArray.from_arrays(
        [pa.array(kind), text, ref, pa.array((sp["j"] * 16).astype(np.int32))],
        ["kind", "text", "media_ref", "offset"],
    )
    offsets = np.concatenate([[0], np.cumsum(sp["n_spans"])]).astype(np.int32)
    doc_ids = np.char.add("doc", np.char.zfill(np.arange(n_docs).astype(str), 10))
    return pa.table(
        {"doc_id": pa.array(doc_ids), "spans": pa.ListArray.from_arrays(pa.array(offsets), structs)}
    )


def points(n: int, seed: int) -> dict[str, np.ndarray]:
    q = key_offset(seed, 4) + np.arange(n, dtype=np.int64)
    far = q % 10 == 9  # the empty frame margin forces kNN ring expansion
    return {
        "q_id": np.arange(n, dtype=np.int64),
        "qx": np.where(far, 105000 + dg.ihash_np(q, 23) % 20000, dg.ihash_np(q, 21) % (dg.FRAME + 1)),
        "qy": np.where(far, 105000 + dg.ihash_np(q, 24) % 20000, dg.ihash_np(q, 22) % (dg.FRAME + 1)),
    }


def media_keys(n: int, seed: int) -> np.ndarray:
    """Pixel-field key of each payload tile (``datagen.dn_np``'s tile_k)."""
    return key_offset(seed, 5) + np.arange(n, dtype=np.int64)


_GRID = np.meshgrid(np.arange(N_BANDS), np.arange(TILE_PX), np.arange(TILE_PX), indexing="ij")


def dn(key: int) -> np.ndarray:
    """(bands, px, px) uint16 raster of one payload tile."""
    return dg.dn_np(np.int64(key), *_GRID).astype(np.uint16)


def media_table(t: dict[str, np.ndarray], n: int, seed: int) -> pa.Table:
    """(media_ref, tile_k, proc_baseline, payload) for the first ``n`` tiles,
    each payload a GeoTIFF placed at its tile footprint."""
    keys = media_keys(n, seed)
    payloads = [
        tiff.encode(dn(int(key)), pixel_scale=(float(PX_SIZE),) * 2,
                    tiepoint=(float(t["x0"][i]), float(t["y1"][i])))
        for i, key in enumerate(keys)
    ]
    return pa.table({
        "media_ref": pa.array(t["media_ref"][:n]),
        "tile_k": pa.array(t["tile_k"][:n]),
        "proc_baseline": pa.array(np.where(keys % 2 == 0, 300, 500).astype(np.int32)),
        "payload": pa.array(payloads, type=pa.binary()),
    })


def write(table: pa.Table | dict, path) -> None:
    """Write ``table`` as FILES_PER_TABLE parquet files under ``path``."""
    if isinstance(table, dict):
        table = pa.table(table)
    path.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // FILES_PER_TABLE)
    for f, lo in enumerate(range(0, table.num_rows, step)):
        pq.write_table(table.slice(lo, step), path / f"part-{f:03d}.parquet")


def poly_table() -> pa.Table:
    rings = poly_zones()
    return pa.table({
        "zone_id": pa.array(list(rings), pa.int64()),
        "ring": pa.array(
            [[{"x": float(x), "y": float(y)} for x, y in r] for r in rings.values()],
            pa.list_(pa.struct([("x", pa.float64()), ("y", pa.float64())])),
        ),
    })
