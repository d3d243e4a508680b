"""Benchmark entry point.

    python3 perfbench/run.py --workload vector_catalog --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all          # every workload, one table
    python3 perfbench/run.py --selftest              # tiny sizes, oracle checks

One run: write the seeded corpus and expected digests (untimed), start the
session, touch the inputs and warm up (``setup_s``), then run jobs back to
back for ``--seconds`` (closed loop, one client). The last stdout line is the
JSON result. ``--trace 1`` runs the same loop twice in one process, first
untraced and then with Spark's event log on, and prints the per-layer ledger
(see ``ledger.py``) instead of the end-to-end metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# session sizing for a small shared host: parallelism from the CPUs this
# process may use, a pinned heap far below the engine's 24g default
CPUS = len(os.sched_getaffinity(0))
HEAP = "3g"
MIN_JOBS = 2  # timed jobs per run, even if --seconds ends first
# the cold first job is 2.5-4x steady and the second still 1.3-1.5x; from
# the third on, jobs come within about 15% of steady
WARM_JOBS = 2


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def prepare_env(out: Path) -> None:
    """Keep every file Spark, the JVM and the Python workers write under ``out``."""
    for d in ("tmp", "spark-local", "warehouse"):
        (out / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(out / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ.setdefault("SPARK_DRIVER_MEM", HEAP)
    os.environ.setdefault("SPARK_XMS", os.environ["SPARK_DRIVER_MEM"])
    os.environ["SPARK_EXTRA_JAVA_OPTS"] = f"-Djava.io.tmpdir={out / 'tmp'}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # Python workers import the engine from this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)


def spark_conf(out: Path, event_log: Path | None) -> dict[str, str]:
    conf = {
        "spark.local.dir": str(out / "spark-local"),
        "spark.sql.warehouse.dir": str(out / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    else:
        conf["spark.eventLog.enabled"] = "false"
    return conf


class RssSampler:
    """Peak resident memory of the driver JVM plus its Python workers,
    sampled every 0.5 s. Workers are forked from one daemon and share its
    pages, so each process counts its proportional set size (Pss): shared
    pages are not counted once per worker."""

    def __init__(self, pid: int):
        self.pid, self.peak_kb = pid, 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
                if line.startswith("Pss:"):
                    return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _tree(self) -> list[int]:
        return self._tree_of(self.pid)

    @staticmethod
    def _tree_of(root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for p in Path("/proc").iterdir():
            if p.name.isdigit():
                try:
                    ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(p.name))
        out, todo = [], [root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(self._pss_kb(p) for p in self._tree()))

    def _run(self) -> None:
        while not self._stop.wait(0.5):
            self.sample()

    def stop(self) -> float:
        self.sample()
        self._stop.set()
        self._t.join(timeout=5)
        return self.peak_kb / 1024.0


class Runner:
    """Runs jobs of one workload and checks every digest."""

    def __init__(self, w, scratch: Path):
        self.w, self.scratch = w, scratch
        self.reference = dict(w.expected)  # None → first job's digest becomes the reference
        self.attempted = self.failed = 0

    def one(self, spark, tr, job_no: int, count: bool) -> float:
        from perfbench import workloads

        t0 = time.perf_counter()
        ok = True
        tr.begin_job(job_no)
        try:
            got = workloads.job(self.w, spark, tr, self.scratch)
            for part, want in self.reference.items():
                if want is None:
                    self.reference[part] = got.get(part)
                elif got.get(part) != tuple(want):
                    ok = False
                    print(f"perfbench: {self.w.name} job {job_no}: digest {part} "
                          f"{got.get(part)} != expected {want}", file=sys.stderr)
        except Exception:  # a failed job counts in `failed`; the loop goes on
            ok = False
            traceback.print_exc()
        finally:
            tr.end_job()
        dt = time.perf_counter() - t0
        if count:
            self.attempted += 1
            self.failed += not ok
        return dt


def stop_jvm() -> None:
    """Stop the driver JVM this process launched and wait until it and its
    Python worker daemons have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    tree = RssSampler._tree_of(gw.proc.pid)
    gw.shutdown()
    gw.proc.stdin.close()  # the JVM exits when its stdin closes
    gw.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(Path(f"/proc/{p}").exists() for p in tree):
        time.sleep(0.1)
    SparkContext._gateway = SparkContext._jvm = None


def start_session(name: str, conf: dict):
    from geotiff_scalable_analysis_pipeline_spark.session import get_spark

    return get_spark(f"perfbench-{name}", extra_conf=conf)


def set_up(w, conf, runner, make_tracer, warm_jobs=WARM_JOBS):
    """Session start, first touch of every input (listing and footers) and
    the warm-up jobs. Returns (spark, seconds, session start seconds)."""
    t0 = time.perf_counter()
    spark = start_session(w.name, conf)
    start_s = time.perf_counter() - t0
    for path in w.tables.values():
        spark.read.parquet(str(path))
    tr = make_tracer(spark)
    for i in range(warm_jobs):
        runner.one(spark, tr, -1 - i, count=False)
    return spark, time.perf_counter() - t0, start_s


def timed_loop(spark, runner, tr, seconds: float, first_job: int = 0) -> list[float]:
    """Jobs back to back for ``seconds``: a job starts only if one more of
    the last job's length still ends in time, so a run never overshoots by
    most of a job."""
    times = []
    t_end = time.perf_counter() + seconds
    while len(times) < MIN_JOBS or time.perf_counter() + times[-1] <= t_end:
        times.append(runner.one(spark, tr, first_job + len(times), count=True))
    return times


def run(args) -> dict:
    from perfbench import ledger, trace, workloads

    out = ROOT / ".perfbench_out" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    prepare_env(out)
    try:
        t0 = time.perf_counter()
        w = workloads.prepare(args.workload, args.size, args.seed, out / "corpus")
        corpus_s = time.perf_counter() - t0
        runner = Runner(w, out)
        null = lambda spark: trace.NullTracer()  # noqa: E731

        if not args.trace:
            spark, setup_s, _ = set_up(w, spark_conf(out, None), runner, null)
            rss = RssSampler(spark.sparkContext._gateway.proc.pid)
            times = timed_loop(spark, runner, trace.NullTracer(), args.seconds)
            metrics = {
                "setup_s": (setup_s, "s"),
                "job_s_p50": (statistics.median(times), "s"),
                "units_per_s": (w.units * len(times) / sum(times), "units/s"),
                "peak_rss_mb": (rss.stop(), "MB"),
            }
            spark.stop()
            info = {"jobs": len(times), "job_s": times, "corpus_s": corpus_s,
                    "cpus": CPUS, "heap": os.environ["SPARK_DRIVER_MEM"]}
            if w.read_s:
                info["read_s_p50"] = statistics.median(w.read_s)
                info["stored_mb"] = statistics.median(w.stored_bytes) / 1e6
        else:
            # untraced loop first, in the same process, for the overhead
            spark, _, start_s = set_up(w, spark_conf(out, None), runner, null)
            plain = timed_loop(spark, runner, trace.NullTracer(), args.seconds / 2, first_job=0)
            spark.stop()
            w.read_s.clear()
            w.stored_bytes.clear()
            log_dir = out / "eventlog"
            # same JVM, so its code is compiled: one warm-up job is enough
            spark, _, _ = set_up(w, spark_conf(out, log_dir), runner,
                                 lambda s: trace.Tracer(s.sparkContext), warm_jobs=1)
            tr = trace.Tracer(spark.sparkContext)
            traced = timed_loop(spark, runner, tr, args.seconds / 2, first_job=0)
            spark.stop()
            metrics = ledger.reduce(
                log_dir, tr, w, cpus=CPUS,
                extra={"session.start_s": start_s, "datagen.corpus_s": corpus_s,
                       "trace.overhead_s": statistics.median(traced) - statistics.median(plain),
                       "ops_failed_ratio": runner.failed / max(runner.attempted, 1)})
            info = {"jobs": len(traced), "untraced_jobs": len(plain), "cpus": CPUS}
        print(f"perfbench: {w.name} seed={args.seed} {json.dumps(info)}", file=sys.stderr)
        return {
            "correct": runner.failed == 0 and runner.attempted > 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        stop_jvm()
        shutil.rmtree(out, ignore_errors=True)


def run_all(args, bench: dict) -> int:
    """Every workload in its own process; prints each metric with its unit."""
    rc = 0
    for name in bench["workloads"]:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name["name"],
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        sys.stderr.write(res.stderr[-2000:] if res.returncode else "")
        try:
            r = json.loads(res.stdout.strip().splitlines()[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"{name['name']}: no result (exit {res.returncode})")
            rc = 1
            continue
        ratio = r["failed"] / max(r["attempted"], 1)
        print(f"{name['name']}: correct={r['correct']} ops_failed_ratio={ratio:.3f} "
              f"({r['failed']}/{r['attempted']} jobs)")
        for k, m in r["metrics"].items():
            print(f"  {k:32s} {m['value']:14.6g} {m['unit']}")
        rc |= not r["correct"]
    return rc


def main() -> int:
    spec = ROOT / "BENCHMARK.json"
    if not spec.exists():
        fail(f"no BENCHMARK.json at {ROOT}")
    bench = json.loads(spec.read_text())
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=float(bench["run_seconds"]))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, str(ROOT))
    try:
        import geotiff_scalable_analysis_pipeline_spark  # noqa: F401
    except ImportError as e:
        fail(f"engine package not importable from {ROOT}: {e}")
    if args.selftest:
        from perfbench import selftest

        return selftest.main()
    if args.workload == "all":
        return run_all(args, bench)
    from perfbench import workloads

    if args.workload not in workloads.SIZES:
        fail(f"unknown workload {args.workload!r}")
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
