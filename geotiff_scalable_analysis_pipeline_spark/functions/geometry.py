"""Vectorized planar geometry: ray-cast point-in-polygon.

``shapely`` is unavailable; these are from-scratch numpy kernels used inside
pandas UDFs. Semantics are pinned exactly (the north rule demands exact join
row counts):

* **PIP rule** — even-odd ray cast toward +x, evaluated with the integer-exact
  cross-product form ``(x2-x1)*(py-y1) - (px-x1)*(y2-y1)``: a point is inside
  iff the ray crosses an odd number of edges, where an edge (p1→p2) is crossed
  iff ``(y1 > py) != (y2 > py)`` and the point is strictly left of the edge at
  ``py``. With integer vertex/point coordinates this is branch-free exact
  arithmetic, so Spark, the numpy oracle and the DuckDB SQL oracle agree
  bit-for-bit. Points exactly ON a boundary edge follow from the same rule
  deterministically (lower edge counts, upper edge doesn't).
"""

from __future__ import annotations

import numpy as np


def points_in_polygon(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast of N points against one polygon ring.

    ``ring`` is (V, 2) float64/int64, closed or open (closure implied).
    Returns a boolean mask. Vectorized over points × edges.
    """
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    r = np.asarray(ring, dtype=np.float64)
    if np.array_equal(r[0], r[-1]) and len(r) > 1:
        r = r[:-1]
    x1, y1 = r[:, 0][None, :], r[:, 1][None, :]
    x2, y2 = np.roll(r[:, 0], -1)[None, :], np.roll(r[:, 1], -1)[None, :]
    straddles = (y1 > py) != (y2 > py)
    # strict-left test via cross product; sign flips with edge direction
    cross = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
    left = np.where(y2 > y1, cross > 0, cross < 0)
    return (np.sum(straddles & left, axis=1) % 2).astype(bool)

