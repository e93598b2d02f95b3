#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 lakebench/run.py --workload lake_sql --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. One client drives the engine in a
closed loop on ``local[nproc]``: generate the seed's inputs (untimed), set
up (start the Spark session and lay out the inputs), run a cold pass (every
operation once, session caches empty), then warm passes until the settled
ones have taken ``--seconds`` and the workload's fixed count of them is
reached. Every operation of every pass is checked after its pass's
timing ends. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it (``details: {...}``) carries per-pass and per-operation timings and
host-noise evidence.

Everything the run writes stays under ``.bench_build/lakebench/`` in the
checkout and is removed at exit, and every process the run starts (the
JVM and its Python workers) is stopped before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import stats  # noqa: E402
from workloads import ENGINE, LAYOUT_COPIES, WORKLOADS  # noqa: E402

# The run must end well inside the 180 s a run is allowed.
DEADLINE_S = 165
# (first settled pass, settled passes counted) per workload. The cold pass
# is pass 0; the first settled pass is where the recorded settling curves
# (lakebench/NOTES.md) stop falling steeply. Passes before it run but do not
# count. A fixed count keeps the median at the same place on the curve
# whatever the host's speed; --seconds only adds passes that are not counted.
SETTLED = {"lake_sql": (8, 5), "sensor_pipeline": (2, 1)}

END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"), ("cpu_s", "core-s")]


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def kill_tree(root: int) -> None:
    """Stop every descendant of ``root`` (the JVM and its Python workers),
    then wait until they are gone."""
    kids = [p for p in stats.tree(root) if p != root]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 5
        while time.monotonic() < end:
            alive = [p for p in kids if stats.read_stat(p) is not None and _not_zombie(p)]
            if not alive:
                break
            _reap()
            time.sleep(0.05)
        kids = [p for p in kids if stats.read_stat(p) is not None and _not_zombie(p)]
        if not kids:
            break
    _reap()


def _not_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def configure(build: str) -> dict:
    """Size the engine to this host through its own settings, and keep all
    scratch space inside the build directory."""
    cpus = len(os.sched_getaffinity(0))
    heap = max(1024, min(4096, host_memory_mb() // 6))
    tmp = os.path.join(build, "tmp")
    local = os.path.join(build, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_MASTER": f"local[{cpus}]",
        "SPARK_GRAFT_DRIVER_MEM": f"{heap}m",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # JVM temp files go to the build directory, and no perf-data file
        # to /tmp/hsperfdata_*; the console progress bar is off so that
        # nothing but the benchmark's lines reach stdout
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dspark.ui.showConsoleProgress=false",
        "PYTHONPATH": os.pathsep.join(p for p in (os.getcwd(), os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    # the benchmarked plan is the default one, which is the gated one
    for k in ("SPARK_GRAFT_TIER", "SPARK_GRAFT_AUDIT_NO_BARRIER"):
        os.environ.pop(k, None)
    return {"cpus": cpus, "heap_mb": heap}


def run_pass(spark, w, tag: str) -> dict:
    """Every operation once, in the seed's order. Timing stops before any
    output is checked."""
    walls, outs, windows, errors = {}, {}, [], {}
    c0 = stats.tree_cpu(os.getpid())
    t0 = time.perf_counter()
    for op in w.ops:
        s, e0 = time.perf_counter(), time.time()
        try:
            outs[op] = w.run(spark, op, tag)
        except Deadline:
            raise
        except Exception as e:  # an operation failure is counted, not fatal
            errors[op] = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
        walls[op] = time.perf_counter() - s
        windows.append((op, e0, time.time()))
    wall = time.perf_counter() - t0
    c1 = stats.tree_cpu(os.getpid())
    return {
        "tag": tag, "wall": wall, "walls": walls, "outs": outs, "windows": windows, "errors": errors,
        "cpu": sum(c1.values()) - sum(c0.values()),
        "cpu_split": {k: c1[k] - c0[k] for k in c1},
    }


def check_pass(w, p: dict) -> None:
    """Check every operation's output of one pass (untimed)."""
    for op in w.ops:
        if op not in p["errors"]:
            err = w.check(op, p["tag"], p["outs"][op])
            if err is not None:
                p["errors"][op] = f"wrong output: {err}"


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py")) and os.path.isdir(os.path.join(root, ENGINE))):
        print(f"lakebench: {root} holds no engine checkout (__spark_entry__.py, {ENGINE}/)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    build = os.path.join(root, ".bench_build", "lakebench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(build, ignore_errors=True)
    os.makedirs(build)
    me = os.getpid()

    def hard_stop():
        print("lakebench: deadline + 10 s passed; killing the run", file=sys.stderr)
        kill_tree(me)
        shutil.rmtree(build, ignore_errors=True)
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S + 10, hard_stop)
    watchdog.daemon = True
    watchdog.start()
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    spark = None
    try:
        host = configure(build)
        host["load_start"] = os.getloadavg()
        steal0 = stats.steal_seconds()
        t_run = time.perf_counter()
        w = WORKLOADS[args.workload](os.path.join(build, "data"), args.seed)
        inputs = w.generate()
        result = measure(w, args)
        spark = result.pop("spark")
        host["load_end"] = os.getloadavg()
        host["steal_s"] = stats.steal_seconds() - steal0
        host["run_s"] = time.perf_counter() - t_run
        result["details"]["host"] = host
        result["details"]["inputs"] = inputs
        print("details: " + json.dumps(result.pop("details"), sort_keys=True))
        final = json.dumps(result)
    except Deadline as e:
        print(f"lakebench: {e}", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        if spark is not None:
            try:
                spark.stop()
            except Exception as e:  # the JVM may already be gone; the tree kill below still runs
                print(f"lakebench: spark.stop failed: {e}", file=sys.stderr)
        kill_tree(me)
        shutil.rmtree(build, ignore_errors=True)
        watchdog.cancel()
    # start on a fresh line whatever the JVM last wrote to the shared stdout
    print("\n" + final)
    return 0


def measure(w, args) -> dict:
    """Set up, then run passes; returns the result object plus the details
    and the session (which the caller stops)."""
    from importlib import import_module

    session = import_module(f"{ENGINE}.session")
    t0 = time.perf_counter()
    spark = session.get_spark(f"lakebench-{w.name}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    layouts = []
    for i in range(LAYOUT_COPIES):
        t0 = time.perf_counter()
        w.layout(spark, i)
        layouts.append(time.perf_counter() - t0)
    setup_s = session_s + stats.median(layouts)

    tracing = bool(args.trace)
    rest = sampler = None
    if tracing:
        rest = layers.Rest(spark)
        sampler = layers.RssSampler(os.getpid()).__enter__()

    settle, counted = SETTLED[w.name]
    passes = []
    traced_layers = []
    deadline = time.monotonic() + DEADLINE_S - 40
    while True:
        i = len(passes)
        traced = tracing and i >= settle and (i - settle) % 2 == 1
        w.progress.clear()
        p = run_pass(spark, w, f"p{i}")
        p["traced"] = traced
        if traced:
            traced_layers.append(collect_layers(rest, w, p))
        check_pass(w, p)
        if i:
            w.cleanup(f"p{i - 1}")
        passes.append(p)
        # measure settled passes for --seconds and at least the counted ones;
        # a traced run needs an untraced and a traced one for the overhead
        settled = passes[settle:]
        enough = sum(q["wall"] for q in settled) >= args.seconds and len(settled) >= max(counted, 2 if tracing else 1)
        if enough or (settled and time.monotonic() + p["wall"] > deadline):
            break

    settled = passes[settle:]
    warm = settled[:counted]
    attempted = sum(len(p["walls"]) for p in passes)
    failed = sum(len(p["errors"]) for p in passes)
    for p in passes:
        for op, err in p["errors"].items():
            print(f"lakebench: {p['tag']} {op}: {err}", file=sys.stderr)
    details = {
        "workload": w.name, "seed": args.seed, "ops": w.ops, "settled_passes": [settle, settle + len(warm)],
        "session_s": session_s, "layout_s": layouts,
        "passes": [{"wall": p["wall"], "cpu": p["cpu"], "traced": p["traced"]} for p in passes],
        "op_cold_s": passes[0]["walls"],
        "op_warm_median_s": {op: stats.median([p["walls"][op] for p in warm]) for op in w.ops},
        "warm_samples": len(warm),
    }
    if tracing:
        sampler.__exit__(None, None, None)
        metrics = trace_metrics(spark, w, traced_layers, session_s, layouts, sampler.peak)
        metrics["trace.overhead_s"] = stats.median([p["wall"] for p in settled if p["traced"]]) - stats.median(
            [p["wall"] for p in settled if not p["traced"]])
        metrics = {name: {"value": metrics.get(name, 0), "unit": unit} for name, unit in layers.PER_LAYER}
    else:
        metrics = {
            "setup_s": setup_s,
            "cold_s": passes[0]["wall"],
            "warm_s": stats.median([p["wall"] for p in warm]),
            "cpu_s": stats.median([p["cpu"] for p in warm]),
        }
        metrics = {name: {"value": metrics[name], "unit": unit} for name, unit in END_TO_END}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
            "details": details, "spark": spark}


def collect_layers(rest, w, p: dict) -> dict:
    """Per-layer numbers of one traced pass (read after the pass ends)."""
    out = layers.pass_layers(rest, p)
    out["plans.build_s"] = sum(build for build, _ in w.timers.values())
    out["plans.drain_s"] = sum(drain for _, drain in w.timers.values())
    out.update(layers.stream_layers(w.progress))
    out["process.jvm_cpu_s"] = p["cpu_split"]["jvm"]
    out["process.python_cpu_s"] = p["cpu_split"]["python"]
    out["sources.files_written"] = layers.files_written(os.path.join(w.out, p["tag"]))
    return out


def trace_metrics(spark, w, per_pass: list[dict], session_s, layouts, peak_rss) -> dict:
    """Median of each layer metric over the traced settled passes, plus the
    set-up timers and the direct probes of the bag and PNG layers."""
    keys = sorted({k for layer in per_pass for k in layer})
    out = {k: stats.median([layer[k] for layer in per_pass]) for k in keys}
    out["session.start_s"] = session_s
    if w.name == "lake_sql":
        out["tables.layout_s"] = stats.median(layouts)
        out["tables.layout_mb"] = w.layout_mb(spark)
    out["process.peak_rss_mb"] = peak_rss
    out.update(w.probe_layers(spark))
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
