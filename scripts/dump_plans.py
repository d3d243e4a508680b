"""Dump normalized ``explain("formatted")`` plans, one file per name.

Usage:  python <path>/scripts/dump_plans.py <outdir> [name ...]

Run from the repo root whose code should be explained: the engine and
``bench`` are imported from the current directory, so the same script
explains a second checkout when started there. A name is any catalogue
query of ``queries_spatial``/``queries_text``/``queries_relational``
(run over ``bench.SF_DIR``), or one of the operator frames ``dbscan``,
``idw`` and ``corridor`` (over the bench corpus). No names dumps all.

Generated ids are normalized away: expression ids (``#123``), plan ids
(``[plan_id=7]``) and the RDD ids of checkpointed or Python-built scans
(``MapPartitionsRDD[42]``), which count every RDD the session made
before. ``diff -r`` of two dumps is then empty for an unchanged plan.
"""

from __future__ import annotations

import os
import re
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.getcwd())
import bench  # noqa: E402
from bench import _t, DBSCAN_EPS, DBSCAN_MIN_PTS, SCALE, SF_DIR  # noqa: E402
from geotiff_scalable_analysis_pipeline_spark import datagen as dg  # noqa: E402
from geotiff_scalable_analysis_pipeline_spark import (  # noqa: E402
    queries_relational,
    queries_spatial,
    queries_text,
)

OPERATOR_FRAMES = ("dbscan", "idw", "corridor")

_GENERATED = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
]


def operator_frame(spark, name):
    from geotiff_scalable_analysis_pipeline_spark.operators import corridor, dbscan, interpolate

    p = _t(spark, "points")
    if name == "dbscan":
        return dbscan.dbscan(p, eps=DBSCAN_EPS, min_pts=DBSCAN_MIN_PTS)
    if name == "idw":
        obs = _t(spark, "tiles").select(
            "cx",
            "cy",
            (dg.ihash_col(F.col("tile_k"), 41) % 10000).alias("v"),
            F.col("tile_k").alias("obs_id"),
        )
        return interpolate.idw(p, obs, radius=3000, oid="obs_id")
    return corridor.segment_distance_join(
        p.select("q_id", "qx", "qy"), dg.segments_df(spark, int(60 * SCALE)), radius=3000
    )


def normalized_plan(df) -> str:
    txt = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    for pat, rep in _GENERATED:
        txt = pat.sub(rep, txt)
    return txt


def main():
    outdir, names = sys.argv[1], sys.argv[2:]
    catalogue = {
        **queries_spatial.QUERIES,
        **queries_text.QUERIES,
        **queries_relational.QUERIES,
    }
    names = names or [*sorted(catalogue), *OPERATOR_FRAMES]
    unknown = [n for n in names if n not in catalogue and n not in OPERATOR_FRAMES]
    if unknown:
        sys.exit(f"unknown names: {unknown}")
    spark = bench.get_spark("plan-dump")
    if any(n in OPERATOR_FRAMES for n in names):
        bench.setup_corpus(spark, ["spatial_analytics", "dbscan", "corridor"])
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = (
            operator_frame(spark, name)
            if name in OPERATOR_FRAMES
            else catalogue[name][0](spark, SF_DIR)
        )
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(normalized_plan(df))
        print("wrote", name)
    spark.stop()


if __name__ == "__main__":
    main()
