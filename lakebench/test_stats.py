"""Unit tests of the benchmark's own arithmetic.

    python3 -m pytest lakebench/test_stats.py -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def test_quartiles_match_statistics_quantiles():
    vals = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    assert stats.quartiles(vals) == tuple(statistics.quantiles(vals, n=4))
    assert stats.quartiles([7.0]) == (7.0, 7.0, 7.0)
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.spread(vals) == pytest.approx((q3 - q1) / q2)


def test_union_length_merges_overlaps_and_clips():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (2, 3)]) == 2.0
    assert stats.union_length([(0, 2), (1, 3), (1.5, 2.5)]) == 3.0
    assert stats.union_length([(0, 10)], lo=2, hi=5) == 3.0
    assert stats.union_length([(0, 1), (4, 6)], lo=2, hi=5) == 1.0
    assert stats.union_length([(3, 1)]) == 0.0


def test_driver_only_is_wall_minus_job_union():
    jobs = [(1.0, 2.0), (1.5, 3.0), (9.0, 12.0)]
    # op window 0..10: jobs cover 1..3 and 9..10
    assert stats.driver_only(0.0, 10.0, jobs) == pytest.approx(10.0 - 2.0 - 1.0)
    assert stats.driver_only(0.0, 1.0, []) == 1.0


def test_attribute_by_start_time():
    windows = [("a", 0.0, 1.0), ("b", 1.0, 2.5)]
    events = [(0.1, "j1"), (0.99, "j2"), (1.0, "j3"), (2.5, "late"), (-1, "early")]
    assert stats.attribute(events, windows) == {"a": ["j1", "j2"], "b": ["j3"]}


def _fake_proc(tmp_path, procs, cpu_line="cpu 1 2 3 4 5 6 7 300 0 0"):
    for pid, (ppid, comm, ticks, rss) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        u, s, cu, cs = ticks
        fields = ["S", ppid] + [0] * 9 + [u, s, cu, cs] + [0] * 6 + [rss]
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(str(x) for x in fields) + "\n")
    (tmp_path / "stat").write_text(cpu_line + "\n")
    return str(tmp_path)


def test_proc_tree_cpu_and_rss(tmp_path):
    proc = _fake_proc(tmp_path, {
        10: (1, "python3", (100, 50, 30, 20), 1000),
        11: (10, "java", (400, 100, 0, 0), 5000),
        12: (11, "python3", (10, 10, 0, 0), 200),  # a worker the JVM started
        13: (12, "weird) name", (1, 1, 0, 0), 10),  # ')' inside comm
        20: (1, "java", (999, 999, 0, 0), 99999),  # not in the tree
    })
    assert set(stats.tree(10, proc)) == {10, 11, 12, 13}
    cpu = stats.tree_cpu(10, proc, hz=100)
    assert cpu["jvm"] == pytest.approx(5.0)
    assert cpu["python"] == pytest.approx(2.0 + 0.2)
    assert cpu["other"] == pytest.approx(0.02)
    assert stats.tree_rss_mb(10, proc, page=4096) == pytest.approx((1000 + 5000 + 200 + 10) * 4096 / 2**20)
    assert stats.steal_seconds(proc, hz=100) == pytest.approx(3.0)
    assert stats.tree(99, proc) == {}


def test_metric_totals_parse_ui_strings():
    assert layers.metric_total("144") == 144.0
    assert layers.metric_total("total (min, med, max (stageId: taskId))\n1486.0 KiB (0.0 B, 1 KiB, 2 KiB (driver))") == 1486.0 * 1024
    assert layers.metric_total("total (min, med, max)\n1.5 s (0 ms, 1 ms, 2 ms)") == 1.5
    assert layers.metric_total("total (min, med, max)\n250 ms (0 ms, 1 ms, 2 ms)") == pytest.approx(0.25)
    assert layers.metric_total("total (min, med, max)\n2.0 m (0 ms, 1 ms, 2 ms)") == 120.0


def test_stream_layers_sum_phases():
    start = layers.progress_time("2026-01-01T00:00:00.000Z")
    reports = [
        {"batchId": 0, "timestamp": "2026-01-01T00:00:01.500Z", "numInputRows": 10,
         "durationMs": {"triggerExecution": 800, "addBatch": 500, "queryPlanning": 100, "walCommit": 50,
                        "commitOffsets": 40, "latestOffset": 30},
         "stateOperators": [{"numRowsTotal": 7}]},
        {"batchId": 1, "timestamp": "2026-01-01T00:00:02.400Z", "numInputRows": 5,
         "durationMs": {"triggerExecution": 200, "addBatch": 100}},
    ]
    out = layers.stream_layers([(start, start + 3.0, reports)])
    assert out["streaming.batches"] == 2
    assert out["streaming.start_s"] == pytest.approx(1.5)
    assert out["streaming.outside_batch_s"] == pytest.approx(3.0 - 1.0)
    assert out["streaming.add_batch_s"] == pytest.approx(0.6)
    assert out["streaming.wal_commit_s"] == pytest.approx(0.05)
    assert out["streaming.state_rows"] == 7


def test_compare_tolerates_order_and_cent_rounding_only():
    cols = ["k", "v"]
    a = [("x", 1234567.005), ("y", 2.0)]
    assert workloads.compare(cols, a, ["v", "k"], [(2.0, "y"), (1234567.0, "x")]) is None
    assert workloads.compare(cols, a, cols, [("x", 1234567.005), ("y", 2.01)]) is not None
    assert workloads.compare(cols, a, cols, a[:1]) is not None
    assert workloads.compare(cols, [("x", None)], cols, [("x", 0.0)]) is not None


def test_png_decoder_round_trips_every_filter():
    import struct
    import zlib

    w, h = 5, 5
    px = bytes((i * 37 + 11) % 256 for i in range(w * h * 3))
    raw = b""
    prev = bytes(w * 3)
    for y in range(h):
        line = px[y * w * 3 : (y + 1) * w * 3]
        ft = y % 5
        enc = bytearray()
        for i in range(w * 3):
            a = line[i - 3] if i >= 3 else 0
            b = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            p = a + b - c
            pred = [0, a, b, (a + b) // 2,
                    a if abs(p - a) <= abs(p - b) and abs(p - a) <= abs(p - c) else b if abs(p - b) <= abs(p - c) else c][ft]
            enc.append((line[i] - pred) & 255)
        raw += bytes([ft]) + bytes(enc)
        prev = line

    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", zlib.crc32(tag + body))

    data = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    assert workloads.png_pixels(data) == (px, w, h)
