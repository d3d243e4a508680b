"""Self-test at tiny sizes (run with ``python3 perfbench/run.py --selftest``).

1. Each workload runs once untraced and once traced through ``run.py``; the
   run must be correct and emit exactly the metrics BENCHMARK.json names,
   each with its unit.
2. The outputs that have no oracle at bench size (kNN, DBSCAN, the chunk
   class probabilities) are checked against brute-force numpy and the
   loop-form reference in ``tests/oracle.py``.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

from . import corpus, oracle, trace, workloads

ROOT = Path(__file__).resolve().parent.parent


def check(ok: bool, what: str, failures: list[str]) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {what}")
    if not ok:
        failures.append(what)


def emitted_metrics(failures: list[str]) -> None:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for wl in bench["workloads"]:
        for tr in (0, 1):
            cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", wl["name"],
                   "--seed", "7", "--seconds", "1", "--trace", str(tr), "--size", "tiny"]
            res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            what = f"{wl['name']} trace={tr}"
            try:
                r = json.loads(res.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                check(False, f"{what}: result line (exit {res.returncode}) {res.stderr[-800:]}",
                      failures)
                continue
            check(res.returncode == 0 and r["correct"] and r["failed"] == 0,
                  f"{what}: correct, {r['attempted']} jobs", failures)
            got = {k: m["unit"] for k, m in r["metrics"].items()}
            check(got == want[tr], f"{what}: metric names and units "
                  f"(missing {sorted(set(want[tr]) - set(got))}, "
                  f"extra {sorted(set(got) - set(want[tr]))})", failures)


def reference_outputs(failures: list[str]) -> None:
    from geotiff_scalable_analysis_pipeline_spark.operators import chunking
    from geotiff_scalable_analysis_pipeline_spark.session import get_spark
    from tests import oracle as ref

    from .run import prepare_env, spark_conf, stop_jvm

    out = ROOT / ".perfbench_out" / "selftest"
    shutil.rmtree(out, ignore_errors=True)
    prepare_env(out)
    seed, p = 7, workloads.SIZES["raster_neighbour"]["tiny"]
    w = workloads.prepare("raster_neighbour", "tiny", seed, out / "corpus")
    spark = get_spark("perfbench-selftest", extra_conf=spark_conf(out, None))
    try:
        got = workloads.job(w, spark, trace.NullTracer(), out)
        t, pts = corpus.tiles(p["n_tiles"], seed), corpus.points(p["n_points"], seed)
        check(got["knn"] == oracle.digest_np(*oracle.knn(pts, t, workloads.KNN_K)),
              "knn digest equals brute force", failures)
        check(got["dbscan"] == oracle.digest_np(*oracle.dbscan(pts, p["eps"], workloads.DBSCAN_MIN_PTS)),
              "dbscan digest equals brute force", failures)
        for part in ("stats", "zonal"):
            check(got[part] == w.expected[part], f"{part} digest equals numpy", failures)
        sub = w.read(spark, "media").filter(f"tile_k < {p['n_chunk']}")
        with workloads.media_conf(spark):
            probs = chunking.global_class_probs(
                chunking.chunk_class_stats(sub, **workloads.CHUNK)).toPandas()
        keys = corpus.media_keys(p["n_chunk"], seed)
        worst = 0.0
        for i, key in enumerate(keys):
            rows = ref.oracle_chunk_class_stats(corpus.dn(int(key)), 500 if key % 2 else 300,
                                                **workloads.CHUNK)
            mine = probs[probs.media_ref == f"tile{i:08d}"].sort_values("class")
            for cls, row in enumerate(mine.itertuples()):
                sel = [r for r in rows if r[2] == cls]
                mean = sum(r[3] for r in sel) / sum(r[4] for r in sel)
                worst = max(worst, abs(row.mean_prob - mean))
        check(len(probs) > 0 and worst < 1e-6,
              f"chunk class probabilities match tests/oracle.py (max |diff| {worst:.2e})", failures)
    finally:
        spark.stop()
        stop_jvm()
        shutil.rmtree(out, ignore_errors=True)


def main() -> int:
    failures: list[str] = []
    reference_outputs(failures)
    emitted_metrics(failures)
    print(f"selftest: {len(failures)} failure(s)")
    return 1 if failures else 0
