"""Morton cell index + PIP kernel — numpy-level properties."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from geotiff_scalable_analysis_pipeline_spark.functions import cells, geometry


def test_morton_roundtrip():
    rng = np.random.default_rng(42)
    ix = rng.integers(0, 65536, 2000)
    iy = rng.integers(0, 65536, 2000)
    cid = (cells.morton_np(ix, iy) << cells.LEVEL_BITS) | 16
    rx, ry, lv = cells.cell_xy_np(cid)
    assert np.array_equal(rx, ix) and np.array_equal(ry, iy) and (lv == 16).all()


def test_parent_is_prefix():
    rng = np.random.default_rng(1)
    x = rng.random(500) * cells.FRAME_SIZE
    y = rng.random(500) * cells.FRAME_SIZE
    for lv in (3, 7, 12):
        assert np.array_equal(
            cells.parent_np(cells.cell_id_np(x, y, lv)), cells.cell_id_np(x, y, lv - 1)
        )


def test_kring_sizes_and_frame_clip():
    c = cells.cell_id_np(np.array([65000.0]), np.array([65000.0]), 6)[0]
    assert len(cells.k_ring_np(int(c), 0)) == 1
    assert len(cells.k_ring_np(int(c), 1)) == 8
    assert len(cells.k_ring_np(int(c), 2)) == 16
    corner = cells.cell_id_np(np.array([1.0]), np.array([1.0]), 3)[0]
    assert len(cells.k_ring_np(int(corner), 1)) == 3  # clipped at frame edge


def test_pip_square_edge_semantics():
    sq = np.array([(0, 0), (10, 0), (10, 10), (0, 10)])
    px = np.array([5, 15, 10, 0, 10, 5, 0])
    py = np.array([5, 5, 5, 0, 10, 0, 10])
    got = geometry.points_in_polygon(px, py, sq)
    # lower-left inclusive rule: interior T, outside F, right-edge F,
    # ll-corner T, ur-corner F, bottom-edge T, top-left F
    assert list(got) == [True, False, False, True, False, True, False]


def test_pip_concave_star():
    star = np.array([(0, 0), (4, 8), (8, 0), (4, 3)])
    assert not geometry.points_in_polygon(np.array([4]), np.array([1]), star)[0]
    assert geometry.points_in_polygon(np.array([2]), np.array([3]), star)[0]


@given(
    st.integers(0, 1000), st.integers(0, 1000), st.integers(2, 50), st.integers(1, 60)
)
@settings(max_examples=60, deadline=None)
def test_pip_matches_shoelace_winding_for_convex(cx, cy, r, npts):
    """Convex regular polygons: ray cast must agree with the radius test away
    from the boundary."""
    ang = np.linspace(0, 2 * np.pi, 8, endpoint=False)
    ring = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
    rng = np.random.default_rng(npts)
    px = cx + rng.uniform(-1.5 * r, 1.5 * r, 40)
    py = cy + rng.uniform(-1.5 * r, 1.5 * r, 40)
    d = np.hypot(px - cx, py - cy)
    inner = d < r * np.cos(np.pi / 8) * 0.99
    outer = d > r * 1.01
    got = geometry.points_in_polygon(px, py, ring)
    assert got[inner].all()
    assert not got[outer].any()


def test_bbox_tree_matches_bruteforce():
    rng = np.random.default_rng(3)
    n = 200
    minx = rng.uniform(0, 90000, n)
    miny = rng.uniform(0, 90000, n)
    maxx = minx + rng.uniform(100, 9000, n)
    maxy = miny + rng.uniform(100, 9000, n)
    tree = geometry.PackedBBoxTree(minx, miny, maxx, maxy, np.arange(n))
    px = rng.uniform(0, 100000, 500)
    py = rng.uniform(0, 100000, 500)
    pt, bid = tree.query_points(px, py)
    got = set(zip(pt.tolist(), bid.tolist()))
    expect = set()
    for i in range(500):
        for j in range(n):
            if minx[j] <= px[i] <= maxx[j] and miny[j] <= py[i] <= maxy[j]:
                expect.add((i, j))
    assert got == expect


def test_cell_exprs_match_numpy_kernels(spark):
    """The Spark-SQL string forms equal the numpy kernels at every level:
    cell id (including coordinates clamped at both frame edges), the level
    bits, a fixed-step parent and a per-row step count (the pyramid anchor's
    form)."""
    from pyspark.sql import functions as F

    df = spark.range(5000).select(
        F.col("id"),
        (((F.col("id") * 2654435761) % 132000) - 500).cast("double").alias("x"),
        (((F.col("id") * 40503) % 132000) - 500).cast("double").alias("y"),
    )
    for lvl in (0, 1, 5, 9, 16):
        c = cells.cell_id_expr("x", "y", lvl)
        fixed = min(lvl, 3)
        rows = df.selectExpr(
            "x",
            "y",
            f"id % {lvl + 1} AS s",
            f"{c} AS c",
            f"{cells.level_expr(c)} AS lv",
            f"{cells.parent_expr(c, fixed)} AS p",
            f"{cells.parent_expr(c, f'id % {lvl + 1}')} AS ps",
        ).toPandas()
        cid = cells.cell_id_np(rows["x"].to_numpy(), rows["y"].to_numpy(), lvl)
        steps = rows["s"].to_numpy()
        assert np.array_equal(rows["c"].to_numpy(), cid)
        assert (rows["lv"] == lvl).all()
        assert np.array_equal(rows["p"].to_numpy(), cells.parent_np(cid, fixed))
        assert np.array_equal(rows["ps"].to_numpy(), cells.parent_np(cid, steps))
        assert np.array_equal(cells.cell_xy_np(rows["ps"].to_numpy())[2], lvl - steps)
