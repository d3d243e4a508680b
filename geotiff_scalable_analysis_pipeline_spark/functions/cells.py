"""Hierarchical quad-cell index over a planar frame (H3/S2-style, from scratch).

No ``h3``/``s2`` libraries exist in this sandbox, so the engine defines its own
discrete global grid: a quadtree over the square frame ``[0, FRAME_SIZE)²``
with Morton (Z-order) packed cell ids. This supplies every primitive the
north rule needs:

* ``cell_id(x, y, level)``  — batched encoding: numpy kernels for UDFs, Spark-SQL
  string forms (``*_expr``) for plans, DuckDB mirrors (``*_sql``) for oracles
* parent/child navigation   — ``morton >> 2`` per level (prefix containment)
* neighbor expansion        — Chebyshev offsets on the (ix, iy) lattice
* cell-range containment     — a level-L cell covers a contiguous Morton range
  at any finer level (quadtree locality → partition-prunable storage layout)

The reference's analog is its regular chunk grid over pixel space
(reference: src/eo_core/process.py:423-427); here the grid is geo-referenced
and hierarchical so footprints, zones and query points can be bucketed for
joins.

Cell id layout (fits a Spark LongType):
    cell = (morton(ix, iy) << 5) | level          # level in [0, 16]
"""

from __future__ import annotations

import numpy as np

FRAME_SIZE = 131072.0  # 2**17 metres — covers the 100 km × 100 km synthetic frame
MAX_LEVEL = 16
LEVEL_BITS = 5


def cell_res(level: int) -> float:
    """Cell edge length in frame units at ``level``."""
    return FRAME_SIZE / (1 << level)


# ---------------------------------------------------------------------------
# numpy kernels (used inside pandas UDFs)
# ---------------------------------------------------------------------------

_B = [
    np.uint64(0x5555555555555555),
    np.uint64(0x3333333333333333),
    np.uint64(0x0F0F0F0F0F0F0F0F),
    np.uint64(0x00FF00FF00FF00FF),
    np.uint64(0x0000FFFF0000FFFF),
]


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Interleave zeros between the low 32 bits of each value (uint64)."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & _B[4]
    v = (v | (v << np.uint64(8))) & _B[3]
    v = (v | (v << np.uint64(4))) & _B[2]
    v = (v | (v << np.uint64(2))) & _B[1]
    v = (v | (v << np.uint64(1))) & _B[0]
    return v


def morton_np(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    """Z-order code: x bits in even positions, y bits in odd positions."""
    return (_spread_bits(np.asarray(ix)) | (_spread_bits(np.asarray(iy)) << np.uint64(1))).astype(
        np.int64
    )


def cell_id_np(x: np.ndarray, y: np.ndarray, level: int) -> np.ndarray:
    res = cell_res(level)
    ix = np.clip((np.asarray(x, dtype=np.float64) / res).astype(np.int64), 0, (1 << level) - 1)
    iy = np.clip((np.asarray(y, dtype=np.float64) / res).astype(np.int64), 0, (1 << level) - 1)
    return (morton_np(ix, iy) << LEVEL_BITS) | level


def cell_xy_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse: (ix, iy, level) lattice coordinates of each cell."""
    cell = np.asarray(cell, dtype=np.int64)
    level = (cell & ((1 << LEVEL_BITS) - 1)).astype(np.int64)
    m = (cell >> LEVEL_BITS).astype(np.uint64)

    def compact(v: np.ndarray) -> np.ndarray:
        v = v & _B[0]
        v = (v | (v >> np.uint64(1))) & _B[1]
        v = (v | (v >> np.uint64(2))) & _B[2]
        v = (v | (v >> np.uint64(4))) & _B[3]
        v = (v | (v >> np.uint64(8))) & _B[4]
        v = (v | (v >> np.uint64(16))) & np.uint64(0xFFFFFFFF)
        return v.astype(np.int64)

    return compact(m), compact(m >> np.uint64(1)), level


def parent_np(cell: np.ndarray, steps: int = 1) -> np.ndarray:
    """Parent cell ``steps`` levels up (quadtree prefix)."""
    cell = np.asarray(cell, dtype=np.int64)
    level = cell & ((1 << LEVEL_BITS) - 1)
    m = cell >> LEVEL_BITS
    return ((m >> (2 * steps)) << LEVEL_BITS) | (level - steps)


# ---------------------------------------------------------------------------
# Spark-SQL string forms — the ONLY place a quad-cell id is built or decoded
# inside a Spark plan. Arguments are SQL expressions; callers wrap the result
# in one ``F.expr``/``selectExpr`` parse, because building the same tree
# through Column operators pays one py4j round-trip per operator (a Morton
# code has hundreds).
# ---------------------------------------------------------------------------


def lattice_expr(coord: str, level: int) -> str:
    """Lattice index (BIGINT, clamped to the frame) of the numeric ``coord``."""
    res = cell_res(level)
    n = (1 << level) - 1
    return (
        f"GREATEST(CAST(0 AS BIGINT), LEAST(CAST({n} AS BIGINT), "
        f"CAST(FLOOR(({coord}) / {res!r}D) AS BIGINT)))"
    )


def morton_expr(ix: str, iy: str, level: int) -> str:
    """Z-order code of the lattice indices ``ix``/``iy`` (non-negative
    BIGINTs below ``2**level``) — the shift/AND chain folds into codegen."""
    if level == 0:
        return "CAST(0 AS BIGINT)"
    terms = []
    for b in range(level):
        terms.append(f"shiftleft(shiftrightunsigned({ix}, {b}) & 1, {2 * b})")
        terms.append(f"shiftleft(shiftrightunsigned({iy}, {b}) & 1, {2 * b + 1})")
    return "(CAST(0 AS BIGINT) + " + " + ".join(terms) + ")"


def cell_expr(ix: str, iy: str, level: int) -> str:
    """Packed cell id of the lattice indices ``ix``/``iy`` at ``level``."""
    return f"(shiftleft({morton_expr(ix, iy, level)}, {LEVEL_BITS}) + {level})"


def cell_id_expr(x: str, y: str, level: int) -> str:
    """Packed cell id of the frame coordinates ``x``/``y`` at ``level``."""
    return cell_expr(lattice_expr(x, level), lattice_expr(y, level), level)


def level_expr(cell: str) -> str:
    """Level (BIGINT) encoded in the low bits of ``cell``."""
    return f"(({cell}) & {(1 << LEVEL_BITS) - 1})"


def parent_expr(cell: str, steps: int | str = 1) -> str:
    """Ancestor of ``cell`` ``steps`` levels up; ``steps`` is an int or a
    per-row SQL expression."""
    shift = 2 * steps if isinstance(steps, int) else f"({steps}) * 2"
    return (
        f"(shiftleft(shiftrightunsigned(shiftrightunsigned({cell}, {LEVEL_BITS}), {shift}), "
        f"{LEVEL_BITS}) + ({level_expr(cell)} - ({steps})))"
    )


# ---------------------------------------------------------------------------
# SQL mirror (DuckDB oracle) — same integer arithmetic, no engine code
# ---------------------------------------------------------------------------


def morton_sql(ix_expr: str, iy_expr: str, level: int) -> str:
    """ANSI-SQL expression computing the same Morton code as ``morton_expr``."""
    terms = []
    for b in range(level):
        terms.append(f"((({ix_expr}) // {1 << b}) % 2) * {1 << (2 * b)}")
        terms.append(f"((({iy_expr}) // {1 << b}) % 2) * {1 << (2 * b + 1)}")
    return "(" + " + ".join(terms) + ")"


def cell_id_sql(x_expr: str, y_expr: str, level: int) -> str:
    res = cell_res(level)
    n = (1 << level) - 1
    ix = f"GREATEST(0, LEAST({n}, CAST(FLOOR(({x_expr}) / {res}) AS BIGINT)))"
    iy = f"GREATEST(0, LEAST({n}, CAST(FLOOR(({y_expr}) / {res}) AS BIGINT)))"
    return f"({morton_sql(ix, iy, level)} * {1 << LEVEL_BITS} + {level})"
