"""Per-layer ledger of a traced run, reduced from Spark's own event log.

Attribution. Every Spark job carries the job group ``<job>|<label>`` that
``trace.Tracer`` set around the call that started it; the layer is the
label's part before ``:``. A stage goes to its job's layer, except where a
workload marker (a regex over the text of the plan nodes whose metrics the
stage updated) names the layer whose plan the stage runs: the span explode
or the PIP ray cast run pipelined inside another call's action. Groups that
are not layers (the final digest action, the driver between calls) map to
``unattributed``.

Wall partition of one job. Between consecutive event times, the wall goes to
the running stages (split evenly when several run at once); with no stage
running inside a Spark job, to that job's layer (a scheduling gap); with no
Spark job running, to the innermost traced call (driver-side plan
construction). A layer's self time is its share, so the layer self times
plus ``unattributed`` cover the job wall; ``ledger.coverage`` reports the
ratio.

Every metric is the median over the traced jobs.
"""

from __future__ import annotations

import json
import re
import statistics
from collections import defaultdict
from pathlib import Path

import numpy as np

from geotiff_scalable_analysis_pipeline_spark.operators import chunking

from . import corpus
from .workloads import CHUNK

LAYERS = ("spans", "pip_join", "skew", "raster", "chunking", "zonal", "knn", "dbscan",
          "pyramid", "catalog")
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
DRIVER_ACC = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
MB = 1e6


def layer_of(label: str | None) -> str:
    name = (label or "").split(":")[0]
    return name if name in LAYERS else "unattributed"


class Log:
    """The parts of one event log the ledger reads."""

    def __init__(self, log_dir: Path):
        self.jobs: dict[int, dict] = {}  # spark job id → {group, t0, t1, stages}
        self.stages: dict[int, dict] = {}  # stage id → {t0, t1, job, tasks, runs, metrics}
        self.nodes: dict[int, tuple[str, str]] = {}  # accumulator id → (node text, metric)
        self.derived: dict[int, str] = {}  # accumulator id → derived role
        self.sql_groups: dict[int, str] = {}  # execution id → job group
        self.driver_acc: dict[int, list[tuple[int, float]]] = defaultdict(list)
        stage_job: dict[int, int] = {}
        for f in sorted(p for p in Path(log_dir).rglob("*") if p.is_file()):
            for line in f.open():
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    self.jobs[e["Job ID"]] = {"group": g, "t0": e["Submission Time"] / 1e3,
                                              "t1": None}
                    for s in e["Stage IDs"]:
                        stage_job[s] = e["Job ID"]
                elif ev == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1e3
                elif ev == "SparkListenerTaskEnd":
                    st = self._stage(e["Stage ID"])
                    m = e.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["runs"].append(m.get("Executor Run Time", 0) / 1e3)
                    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                    for k, v in (("run_s", m.get("Executor Run Time", 0) / 1e3),
                                 ("cpu_s", m.get("Executor CPU Time", 0) / 1e9),
                                 ("gc_s", m.get("JVM GC Time", 0) / 1e3),
                                 ("shuffle_read_mb", (sr.get("Remote Bytes Read", 0)
                                                      + sr.get("Local Bytes Read", 0)) / MB),
                                 ("shuffle_write_mb", sw.get("Shuffle Bytes Written", 0) / MB),
                                 ("spill_mb", (m.get("Memory Bytes Spilled", 0)
                                               + m.get("Disk Bytes Spilled", 0)) / MB)):
                        st["eng"][k] += v
                    for a in (e.get("Task Info") or {}).get("Accumulables", []):
                        try:  # SQL metric updates are logged as strings
                            st["acc"][a["ID"]] += float(a.get("Update"))
                        except (TypeError, ValueError):
                            pass
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = self._stage(info["Stage ID"])
                    st["t0"] = info["Submission Time"] / 1e3
                    st["t1"] = info["Completion Time"] / 1e3
                elif ev in (SQL_START, SQL_UPDATE):
                    self._walk(e["sparkPlanInfo"])
                    if ev == SQL_START:
                        self.sql_groups[e["executionId"]] = e.get("jobGroupId")
                elif ev == DRIVER_ACC:
                    self.driver_acc[e["executionId"]] += [(a, float(v)) for a, v in e["accumUpdates"]]
        for sid, st in self.stages.items():
            st["job"] = stage_job.get(sid)

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {
            "t0": None, "t1": None, "tasks": 0, "runs": [],
            "eng": defaultdict(float), "acc": defaultdict(float)})

    def _walk(self, node: dict) -> None:
        text = node["simpleString"]
        for m in node["metrics"]:
            self.nodes[m["accumulatorId"]] = (text, m["name"])
        if text.startswith("MapInPandas exact"):
            # rows into the ray cast: the nearest descendant counting output rows
            todo = list(node["children"])
            while todo:
                n = todo.pop(0)
                rows = [m for m in n["metrics"] if m["name"] == "number of output rows"]
                if rows:
                    self.derived[rows[0]["accumulatorId"]] = "pip_candidates"
                    break
                todo.extend(n["children"])
        for c in node["children"]:
            self._walk(c)

    def texts(self, st: dict) -> set[str]:
        return {self.nodes[a][0] for a in st["acc"] if a in self.nodes}

    def _match(self, pairs, node_re: str, name: str) -> float:
        rx = re.compile(node_re)
        return sum(v for a, v in pairs
                   if a in self.nodes and self.nodes[a][1] == name and rx.search(self.nodes[a][0]))

    def metric(self, stages, node_re: str, name: str) -> float:
        """A SQL metric summed over the task updates of ``stages``."""
        return self._match((kv for st in stages for kv in st["acc"].items()), node_re, name)

    def driver_metric(self, groups: set[str], node_re: str, name: str) -> float:
        """A SQL metric the driver updates (writes, file listing), summed
        over the SQL executions started in ``groups``."""
        return self._match((kv for x, g in self.sql_groups.items() if g in groups
                            for kv in self.driver_acc.get(x, [])), node_re, name)


def _job_of(group: str | None) -> tuple[int | None, str | None]:
    if not group or "|" not in group:
        return None, None
    j, label = group.split("|", 1)
    return int(j), label


def _partition(t0, t1, stage_iv, job_iv, spans):
    """Split [t0, t1] among owners; see the module docstring."""
    cuts = sorted({t0, t1, *(t for a, b, _ in stage_iv + job_iv for t in (a, b) if t0 < t < t1),
                   *(t for s in spans for t in (s.t0, s.t1) if t0 < t < t1)})
    owner = defaultdict(float)
    gap = build = 0.0
    for a, b in zip(cuts, cuts[1:]):
        mid, d = (a + b) / 2, b - a
        running = [lay for s0, s1, lay in stage_iv if s0 <= mid < s1]
        if running:
            for lay in running:
                owner[lay] += d / len(running)
            continue
        in_job = [lay for s0, s1, lay in job_iv if s0 <= mid < s1]
        if in_job:
            owner[in_job[0]] += d
            gap += d
            continue
        inner = [s for s in spans if s.t0 <= mid < s.t1 and s.kind != "job"]
        owner[layer_of(max(inner, key=lambda s: s.t0).layer) if inner else "unattributed"] += d
        build += d
    return owner, gap, build


def reduce(log_dir: Path, tr, w, cpus: int, extra: dict) -> dict[str, tuple[float, str]]:
    log = Log(log_dir)
    markers = [(re.compile(rx), lay) for rx, lay in w.markers]

    def stage_layer(st) -> str:
        _, label = _job_of(log.jobs.get(st["job"], {}).get("group"))
        texts = log.texts(st)
        for rx, lay in markers:
            if any(rx.search(t) for t in texts):
                return lay
        return layer_of(label)

    side, patch = CHUNK["zor"] + 2 * CHUNK["halo"], CHUNK["patch"]
    n_classes = chunking.patch_class_scores_np(
        np.zeros((1, corpus.N_BANDS, patch, patch), dtype=np.float32)).shape[1]
    patches_per_chunk = len(chunking.patch_coords_np(side, side, patch, CHUNK["stride"]))

    vals = defaultdict(list)  # metric → one value per traced job

    def put(name, value):
        vals[name].append(value)

    for span in (s for s in tr.spans if s.kind == "job" and s.job >= 0):
        j = span.job
        spans = [s for s in tr.spans if s.job == j]
        sjobs = {i: sj for i, sj in log.jobs.items() if _job_of(sj["group"])[0] == j}
        stages = [st for st in log.stages.values() if st["job"] in sjobs and st["t1"]]
        by_layer, stage_iv = defaultdict(list), []
        for st in stages:
            lay = stage_layer(st)
            by_layer[lay].append(st)
            stage_iv.append((st["t0"], st["t1"], lay))
        job_iv = [(sj["t0"], sj["t1"] or span.t1, layer_of(_job_of(sj["group"])[1]))
                  for sj in sjobs.values()]
        owner, gap, build = _partition(span.t0, span.t1, stage_iv, job_iv, spans)
        wall = span.t1 - span.t0
        eng = defaultdict(float)
        for st in stages:
            for k, v in st["eng"].items():
                eng[k] += v
        put("spark.wall_s", wall)
        put("spark.build_s", build)
        put("spark.jobs", len(sjobs))
        put("spark.stages", len(stages))
        put("spark.tasks", sum(st["tasks"] for st in stages))
        for k in ("run_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            put(f"spark.{k}", eng[k])
        put("spark.sched_gap_s", gap)
        put("spark.core_util", eng["run_s"] / (wall * cpus))
        for lay in (*LAYERS, "unattributed"):
            put(f"share.{lay}", owner.get(lay, 0.0) / wall)
        for lay in LAYERS:
            put(f"{lay}.exec_s", owner.get(lay, 0.0))
        put("ledger.coverage", sum(owner.values()) / wall)

        # layer counters, from the SQL metrics of the stages each layer ran
        L = by_layer
        put("spans.rows_out", log.metric(L["spans"], r"^Generate ", "number of output rows"))
        cand = sum(v for st in L["pip_join"] for a, v in st["acc"].items()
                   if log.derived.get(a) == "pip_candidates")
        pairs = log.metric(L["pip_join"], r"^MapInPandas exact", "number of output rows")
        put("pip_join.candidates", cand)
        put("pip_join.pairs", pairs)
        put("pip_join.useful_ratio", pairs / cand if cand else 0.0)
        put("pip_join.udf_s", log.metric(L["pip_join"], r"^MapInPandas exact",
                                         "time to run Python workers") / 1e3)
        put("skew.hot_keys", log.metric(L["skew"], r"_mean_cnt", "number of output rows"))
        put("skew.driver_actions", sum(1 for sj in sjobs.values()
                                       if layer_of(_job_of(sj["group"])[1]) == "skew"))
        skewed = [max(st["runs"]) / statistics.median(st["runs"])
                  for st in L["skew"] if len(st["runs"]) > 1 and statistics.median(st["runs"]) > 0]
        put("skew.max_task_over_median", max(skewed, default=0.0))
        rx_raster = r"^MapInPandas (both|stats)"
        to_py = log.metric(L["raster"], rx_raster, "data sent to Python workers") / MB
        udf = log.metric(L["raster"], rx_raster, "time to run Python workers") / 1e3
        put("raster.payload_mb", log.driver_metric(
            {f"{j}|digest"}, r"^FileScan parquet \[media_ref#\d+,proc_baseline#\d+,payload#\d+\]",
            "size of files read") / MB)
        put("raster.to_python_mb", to_py)
        put("raster.from_python_mb",
            log.metric(L["raster"], rx_raster, "data returned from Python workers") / MB)
        put("raster.udf_s", udf)
        put("raster.decode_mb_per_core_s", to_py / udf if udf else 0.0)
        rows = log.metric(L["chunking"], r"^MapInPandas run", "number of output rows")
        patches = rows / n_classes * patches_per_chunk
        cudf = log.metric(L["chunking"], r"^MapInPandas run", "time to run Python workers") / 1e3
        put("chunking.patches", patches)
        put("chunking.udf_s", cudf)
        put("chunking.patches_per_core_s", patches / cudf if cudf else 0.0)
        put("zonal.shuffle_write_mb", sum(st["eng"]["shuffle_write_mb"] for st in L["zonal"]))
        put("knn.jobs", sum(1 for sj in sjobs.values() if sj["group"] == f"{j}|knn"))
        put("knn.stages", len(L["knn"]))
        knn_span = sum(s.t1 - s.t0 for s in spans if layer_of(s.layer) == "knn")
        knn_busy = sum(st["t1"] - st["t0"] for st in L["knn"])
        put("knn.sched_gap_s", max(knn_span - knn_busy, 0.0))
        group = f"{j}|dbscan"
        put("dbscan.rounds", sum(1 for sj in sjobs.values() if sj["group"] == group))
        put("dbscan.driver_actions", sum(1 for g in log.sql_groups.values() if g == group))
        put("dbscan.eps_pairs", log.metric(L["dbscan"], r"^(BroadcastHashJoin|SortMergeJoin|"
                                           r"ShuffledHashJoin|BroadcastNestedLoopJoin)",
                                           "number of output rows"))
        writes = r"InsertIntoHadoopFsRelationCommand"
        pyr, cat = {f"{j}|pyramid"}, {f"{j}|catalog:commit", f"{j}|catalog:read", f"{j}|pyramid"}
        put("pyramid.rows_written", log.driver_metric(pyr, writes, "number of output rows"))
        commits = [s for s in spans if s.layer == "catalog:commit"]
        put("catalog.commit_s", sum(s.t1 - s.t0 for s in commits))
        in_jobs = sum(max(0.0, min(s.t1, (sj["t1"] or s.t1)) - max(s.t0, sj["t0"]))
                      for s in commits for sj in sjobs.values())
        put("catalog.manifest_ms", 1e3 * max(sum(s.t1 - s.t0 for s in commits) - in_jobs, 0.0))
        put("catalog.files_written", log.driver_metric(cat, writes, "number of written files"))
        put("catalog.bytes_written_mb", log.driver_metric(cat, writes, "written output") / MB)
        put("catalog.files_scanned", log.driver_metric({f"{j}|catalog:read"}, r"^FileScan",
                                                       "number of files read"))

    vals["catalog.files_total"] = tr.counts.get("catalog.files_total", [])
    vals["catalog.read_s_p50"] = w.read_s
    vals["catalog.stored_mb"] = [b / MB for b in w.stored_bytes]
    out = {k: (statistics.median(v) if v else 0.0, unit_of(k)) for k, v in sorted(vals.items())}
    for k, v in extra.items():
        out[k] = (v, unit_of(k))
    return out


def unit_of(name: str) -> str:
    leaf = name.split(".")[-1]
    if leaf == "decode_mb_per_core_s":
        return "MB/s"
    if leaf.endswith("_per_core_s"):
        return "1/s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_s") or leaf == "read_s_p50":
        return "s"
    if name.startswith("share.") or leaf in ("useful_ratio", "core_util", "coverage",
                                             "max_task_over_median", "ops_failed_ratio"):
        return "ratio"
    return "count"
