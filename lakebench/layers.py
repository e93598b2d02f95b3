"""Per-layer metrics for the traced run, read from outside the engine.

Sources: the local Spark UI's REST API (jobs, stages, SQL node metrics,
storage), the streaming query's progress reports (the events a
``StreamingQueryListener`` receives), ``/proc`` through ``stats``, and
the benchmark's own timers around calls into the engine's modules.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import threading
import urllib.request

import stats

PER_LAYER = [
    # name, unit
    ("session.start_s", "s"),
    ("tables.layout_s", "s"),
    ("tables.layout_mb", "MB"),
    ("plans.build_s", "s"),
    ("plans.drain_s", "s"),
    ("plans.driver_only_s", "s"),
    ("plans.jobs", "count"),
    ("plans.stages", "count"),
    ("plans.skipped_stages", "count"),
    ("plans.tasks", "count"),
    ("spark.executor_run_s", "core-s"),
    ("spark.executor_cpu_s", "core-s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.failed_tasks", "count"),
    ("operators.cached_rdds", "count"),
    ("operators.cached_mb", "MB"),
    ("operators.py_start_s", "s"),
    ("operators.py_run_s", "s"),
    ("operators.py_sent_mb", "MB"),
    ("operators.py_recv_mb", "MB"),
    ("sources.decode_mb_per_s", "MB/s"),
    ("sources.read_partitions", "count"),
    ("sources.py_recv_mb", "MB"),
    ("sources.write_s", "s"),
    ("sources.files_written", "count"),
    ("functions.png_encode_mb_per_s", "MB/s"),
    ("functions.png_decode_mb_per_s", "MB/s"),
    ("streaming.batches", "count"),
    ("streaming.start_s", "s"),
    ("streaming.outside_batch_s", "s"),
    ("streaming.add_batch_s", "s"),
    ("streaming.query_planning_s", "s"),
    ("streaming.wal_commit_s", "s"),
    ("streaming.commit_offsets_s", "s"),
    ("streaming.latest_offset_s", "s"),
    ("streaming.state_rows", "count"),
    ("process.jvm_cpu_s", "core-s"),
    ("process.python_cpu_s", "core-s"),
    ("process.peak_rss_mb", "MB"),
    ("trace.overhead_s", "s"),
]

_UNITS = {"ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def rest_time(s: str | None) -> float | None:
    """Spark REST timestamp ('2026-10-17T11:14:10.123GMT') -> epoch seconds."""
    if not s:
        return None
    d = datetime.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=datetime.timezone.utc).timestamp()


def progress_time(s: str) -> float:
    """Streaming progress timestamp ('2026-10-17T11:14:10.123Z') -> epoch seconds."""
    d = datetime.datetime.strptime(s.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=datetime.timezone.utc).timestamp()


def metric_total(value: str) -> float:
    """Total of a SQL metric as the UI renders it: either a plain number or
    'total (min, med, max ...)\\n1.2 MiB (...)'. Sizes come back in bytes
    and times in seconds."""
    line = value.split("\n")[1] if value.startswith("total") else value
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-zµ]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


class Rest:
    """The application's Spark UI REST API on localhost."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)


class RssSampler:
    """Samples the process tree's resident memory in a background thread."""

    def __init__(self, pid: int, period: float = 0.25):
        self.pid, self.period, self.peak = pid, period, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.peak = max(self.peak, stats.tree_rss_mb(self.pid))

    def __enter__(self):
        self.peak = stats.tree_rss_mb(self.pid)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


_PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_sent_mb",
    "data returned from Python workers": "py_recv_mb",
}


def pass_layers(rest: Rest, p: dict) -> dict:
    """Per-layer numbers of one traced pass from the REST API.

    ``p["windows"]`` holds the pass's ``(operation, start, end)`` windows
    in epoch seconds. Jobs are attributed to the operation whose window
    holds their submission time; stages and SQL executions to the pass."""
    lo, hi = p["windows"][0][1], p["windows"][-1][2]
    jobs = [j for j in rest.get("/jobs") if j.get("submissionTime")]
    spans = []
    for j in jobs:
        s, e = rest_time(j["submissionTime"]), rest_time(j.get("completionTime"))
        spans.append((s, (s, e if e is not None else hi, j)))
    by_op = stats.attribute(spans, p["windows"])
    out = {"plans.jobs": 0, "plans.stages": 0, "plans.skipped_stages": 0, "plans.tasks": 0,
           "plans.driver_only_s": 0.0}
    for key, ws, we in p["windows"]:
        mine = by_op.get(key, [])
        out["plans.jobs"] += len(mine)
        out["plans.stages"] += sum(len(j["stageIds"]) for _, _, j in mine)
        out["plans.skipped_stages"] += sum(j.get("numSkippedStages", 0) for _, _, j in mine)
        out["plans.tasks"] += sum(j.get("numCompletedTasks", 0) for _, _, j in mine)
        out["plans.driver_only_s"] += stats.driver_only(ws, we, [(s, e) for s, e, _ in mine])
    stages = [s for s in rest.get("/stages?status=complete") + rest.get("/stages?status=failed")
              if s.get("submissionTime") and lo <= rest_time(s["submissionTime"]) < hi]
    out["spark.executor_run_s"] = sum(s.get("executorRunTime", 0) for s in stages) / 1e3
    out["spark.executor_cpu_s"] = sum(s.get("executorCpuTime", 0) for s in stages) / 1e9
    out["spark.gc_s"] = sum(s.get("jvmGcTime", 0) for s in stages) / 1e3
    out["spark.shuffle_read_mb"] = sum(s.get("shuffleReadBytes", 0) for s in stages) / 2**20
    out["spark.shuffle_write_mb"] = sum(s.get("shuffleWriteBytes", 0) for s in stages) / 2**20
    out["spark.spill_mb"] = sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages) / 2**20
    out["spark.failed_tasks"] = sum(s.get("numFailedTasks", 0) for s in stages)
    py = {v: 0.0 for v in _PY_METRICS.values()}
    src_recv = 0.0
    for ex in rest.get("/sql?details=true&planDescription=false&length=100000"):
        t = rest_time(ex.get("submissionTime"))
        if t is None or not lo <= t < hi:
            continue
        for node in ex.get("nodes", []):
            metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
            if "rosbag" in node["nodeName"].lower():
                src_recv += metric_total(metrics.get("data returned from Python workers", "0"))
            elif "time to run Python workers" in metrics:
                for name, key in _PY_METRICS.items():
                    py[key] += metric_total(metrics.get(name, "0"))
    out["operators.py_start_s"] = py["py_start_s"]
    out["operators.py_run_s"] = py["py_run_s"]
    out["operators.py_sent_mb"] = py["py_sent_mb"] / 2**20
    out["operators.py_recv_mb"] = py["py_recv_mb"] / 2**20
    out["sources.py_recv_mb"] = src_recv / 2**20
    rdds = rest.get("/storage/rdd")
    out["operators.cached_rdds"] = len(rdds)
    out["operators.cached_mb"] = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds) / 2**20
    return out


def stream_layers(progress: list[tuple[float, float, list]]) -> dict:
    """Micro-batch phases of the pass's stream drains from their progress
    reports: ``(start epoch, end epoch, [progress dict, ...])`` per drain."""
    out = {"streaming.batches": 0, "streaming.start_s": 0.0, "streaming.outside_batch_s": 0.0,
           "streaming.add_batch_s": 0.0, "streaming.query_planning_s": 0.0, "streaming.wal_commit_s": 0.0,
           "streaming.commit_offsets_s": 0.0, "streaming.latest_offset_s": 0.0, "streaming.state_rows": 0}
    keys = {"addBatch": "streaming.add_batch_s", "queryPlanning": "streaming.query_planning_s",
            "walCommit": "streaming.wal_commit_s", "commitOffsets": "streaming.commit_offsets_s",
            "latestOffset": "streaming.latest_offset_s"}
    for start, end, reports in progress:
        batches = [r for r in reports if r.get("numInputRows", 0) > 0 or r.get("batchId") is not None]
        out["streaming.batches"] += len(batches)
        if batches:
            out["streaming.start_s"] += progress_time(batches[0]["timestamp"]) - start
        trigger = 0.0
        for r in batches:
            d = r.get("durationMs", {})
            trigger += d.get("triggerExecution", 0) / 1e3
            for k, name in keys.items():
                out[name] += d.get(k, 0) / 1e3
            out["streaming.state_rows"] += sum(s.get("numRowsTotal", 0) for s in r.get("stateOperators", []))
        out["streaming.outside_batch_s"] += (end - start) - trigger
    return out


def files_written(root: str) -> int:
    """Data files under a pass's output directory (no checksums, no
    streaming metadata or checkpoints)."""
    n = 0
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith("_") and not x.endswith("_ckpt")]
        n += sum(1 for f in files if not f.startswith((".", "_")))
    return n
