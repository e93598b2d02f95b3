"""The benchmark's own arithmetic: quantiles, interval unions, attribution
of Spark jobs and micro-batches to operations, and process-tree CPU and
memory read from ``/proc``. Pure functions, unit-tested in test_stats.py.
"""

from __future__ import annotations

import os
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them
    (the default exclusive method); a single value is its own quartiles."""
    vals = list(values)
    if len(vals) == 1:
        return (vals[0], vals[0], vals[0])
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return (q1, q2, q3)


def spread(values) -> float:
    """Interquartile range as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else 0.0


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``(start, end)`` intervals, each clipped to
    ``[lo, hi]`` when given. Overlapping intervals count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(events, windows) -> dict:
    """Assign each event to the window its start falls in.

    ``events`` are ``(start, payload)`` pairs and ``windows`` are
    ``(key, start, end)`` triples that do not overlap (operations run one
    after another from one client). Returns {key: [payload, ...]}; events
    outside every window are dropped."""
    wins = sorted(windows, key=lambda w: w[1])
    out: dict = {k: [] for k, _, _ in wins}
    for start, payload in events:
        for key, ws, we in wins:
            if ws <= start < we:
                out[key].append(payload)
                break
    return out


def driver_only(op_start: float, op_end: float, job_intervals) -> float:
    """Operation wall time not covered by any Spark job: Python plan
    building, Py4J calls, Catalyst analysis and result collection."""
    return (op_end - op_start) - union_length(job_intervals, op_start, op_end)


# --- /proc -----------------------------------------------------------------


def read_stat(pid: int, proc: str = "/proc") -> dict | None:
    """ppid, command name, CPU ticks of the process and its reaped children,
    and resident pages, from ``/proc/<pid>/stat``; None if it is gone."""
    try:
        with open(os.path.join(proc, str(pid), "stat")) as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # comm may hold spaces and parentheses: split at the LAST ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14-17, rss 24
    return {
        "ppid": int(rest[1]),
        "comm": comm,
        "ticks": sum(int(x) for x in rest[11:15]),
        "rss_pages": int(rest[21]),
    }


def tree(root: int, proc: str = "/proc") -> dict[int, dict]:
    """``read_stat`` of ``root`` and every live descendant."""
    stats = {}
    for name in os.listdir(proc):
        if name.isdigit():
            st = read_stat(int(name), proc)
            if st is not None:
                stats[int(name)] = st
    keep = {root} if root in stats else set()
    grew = True
    while grew:
        grew = False
        for pid, st in stats.items():
            if pid not in keep and st["ppid"] in keep:
                keep.add(pid)
                grew = True
    return {pid: stats[pid] for pid in keep}


def tree_cpu(root: int, proc: str = "/proc", hz: int | None = None) -> dict[str, float]:
    """CPU seconds of the process tree, split into JVM and Python processes.
    Includes reaped children, so short-lived Python workers still count."""
    hz = hz or os.sysconf("SC_CLK_TCK")
    out = {"jvm": 0.0, "python": 0.0, "other": 0.0}
    for st in tree(root, proc).values():
        kind = "jvm" if st["comm"] == "java" else "python" if st["comm"].startswith("python") else "other"
        out[kind] += st["ticks"] / hz
    return out


def tree_rss_mb(root: int, proc: str = "/proc", page: int | None = None) -> float:
    page = page or os.sysconf("SC_PAGE_SIZE")
    return sum(st["rss_pages"] for st in tree(root, proc).values()) * page / 2**20


def steal_seconds(proc: str = "/proc", hz: int | None = None) -> float:
    """Host-wide CPU steal time so far (the 8th value of the cpu line)."""
    hz = hz or os.sysconf("SC_CLK_TCK")
    with open(os.path.join(proc, "stat")) as f:
        fields = f.readline().split()
    return int(fields[8]) / hz if len(fields) > 8 else 0.0
