"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow/stdlib and depends on nothing in
the engine, so the inputs and the expectations computed from them stay
independent of the code under test. The same seed gives byte-identical
files.
"""

from __future__ import annotations

import bz2
import json
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(out: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def write_lake(out: str, seed: int, n_orders: int) -> dict:
    """TPC-H-shaped star schema (the registry's table contract) with
    ``n_orders`` orders and 1 + Poisson(3) lines per order. Returns the
    row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(n_orders // 10, 50)
    n_supp = max(n_orders // 150, 20)
    n_part = max(n_orders * 2 // 15, 50)
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    _write(out, "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }))
    _write(out, "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    }))
    names = np.array([f"{a} {n}" for a in PART_ADJ for n in PART_NOUN])
    _write(out, "part", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(n_part) % 1000 / 10.0, 2),
    }))
    epoch_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
    o_date = epoch_1995 + rng.integers(0, 2404, n_orders) * DAY_US
    _write(out, "orders", pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": o_date.astype("datetime64[us]"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    }))
    lines = 1 + rng.poisson(3.0, n_orders)
    l_orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = l_orderkey.size
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(o_date, lines) + rng.integers(1, 96, n_li) * DAY_US
    _write(out, "lineitem", pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ship.astype("datetime64[us]"),
    }))
    n_ev = n_orders * 2 // 3
    epoch_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(epoch_2024 + rng.integers(0, 30 * DAY_US, n_ev, dtype=np.int64))
    _write(out, "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(90.0, n_ev).clip(0, 560), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    }))
    return {"orders": n_orders, "lineitem": int(n_li), "customer": n_cust,
            "part": n_part, "supplier": n_supp, "events": n_ev}


# --- ROS bag v2.0 (public rosbag format spec) ------------------------------

CAMERAS = [f"/camera{i}/image_raw" for i in range(4)]
ODOM = "/odom"
BAG_EPOCH = 1_600_000_000


def _field(name: str, value: bytes) -> bytes:
    item = name.encode() + b"=" + value
    return struct.pack("<I", len(item)) + item


def _record(fields: list[tuple[str, bytes]], data: bytes) -> bytes:
    header = b"".join(_field(k, v) for k, v in fields)
    return struct.pack("<I", len(header)) + header + struct.pack("<I", len(data)) + data


def _string(s: str) -> bytes:
    return struct.pack("<I", len(s)) + s.encode()


def _connection(conn: int, topic: str, msg_type: str) -> bytes:
    data = _field("topic", topic.encode()) + _field("type", msg_type.encode()) + _field("md5sum", b"*")
    return _record([("op", b"\x07"), ("conn", struct.pack("<I", conn)), ("topic", topic.encode())], data)


def frame_pixels(seed: int, bag: int, cam: int, seq: int, w: int, h: int) -> bytes:
    """rgb8 pixels of one camera frame: a moving gradient plus seeded
    noise, so PNG filtering and deflate have real work."""
    rng = np.random.default_rng([seed, bag, cam, seq])
    y, x = np.mgrid[0:h, 0:w]
    base = np.stack([(x * 4 + seq * 3) % 256, (y * 5 + cam * 40) % 256, (x + y + bag * 17) % 256], axis=2)
    noise = rng.integers(0, 24, (h, w, 3))
    return ((base + noise) % 256).astype(np.uint8).tobytes()


def _image_msg(seq: int, sec: int, nsec: int, w: int, h: int, pixels: bytes) -> bytes:
    return (
        struct.pack("<III", seq, sec, nsec) + _string("camera")
        + struct.pack("<II", h, w) + _string("rgb8") + b"\x00"
        + struct.pack("<I", w * 3) + struct.pack("<I", len(pixels)) + pixels
    )


def odom_values(bag: int, seq: int) -> tuple[float, ...]:
    """pos xyz, orientation xyzw, linear twist xyz of one odometry message."""
    t = seq * 0.1
    return (bag * 100.0 + t * 3.0, t * 0.5, 0.0, 0.0, 0.0, np.sin(t / 10), np.cos(t / 10), 3.0, 0.5, 0.0)


def _odom_msg(seq: int, sec: int, nsec: int, vals: tuple[float, ...]) -> bytes:
    return (
        struct.pack("<III", seq, sec, nsec) + _string("odom") + _string("base_link")
        + struct.pack("<7d", *vals[:7]) + struct.pack("<36d", *([0.0] * 36))
        + struct.pack("<3d", *vals[7:]) + struct.pack("<3d", 0.0, 0.0, 0.01)
        + struct.pack("<36d", *([0.0] * 36))
    )


def write_bags(out: str, seed: int, n_bags: int, frames: int, w: int, h: int,
               frames_per_chunk: int) -> dict:
    """Bag files with 4 rgb8 cameras (one frame each per tick) and
    odometry (two messages per tick), chunked by time slice with chunks
    alternating bz2 and plain, an op-4 index after each chunk, and the
    index region (connection copies plus op-6 chunk infos) at the end.

    Returns the expectations the checks compare against: every message as
    (bag, topic, seq, packed ros_time) and every frame's pixels."""
    os.makedirs(out, exist_ok=True)
    messages: list[tuple[str, str, int, int]] = []
    pixels: dict[tuple[str, str, int], bytes] = {}
    odom: dict[tuple[str, int], tuple[float, ...]] = {}
    conns = [(i, t, "sensor_msgs/Image") for i, t in enumerate(CAMERAS)] + [(4, ODOM, "nav_msgs/Odometry")]
    conn_blob = b"".join(_connection(c, t, ty) for c, t, ty in conns)
    for b in range(n_bags):
        name = f"drive_{seed}_{b:02d}.bag"
        sec0 = BAG_EPOCH + b * 10_000 + seed % 1000
        body = b""
        metas = []
        header_len = 4096
        pos = len(b"#ROSBAG V2.0\n") + header_len
        for c0 in range(0, frames, frames_per_chunk):
            inner = conn_blob if c0 == 0 else b""
            counts: dict[int, list[tuple[int, int]]] = {}
            times = []
            for i in range(c0, min(c0 + frames_per_chunk, frames)):
                for half in (0, 1):
                    sec, nsec = sec0 + i, half * 500_000_000 + 1000 * b
                    t = (nsec << 32) | sec
                    times.append(t)
                    seq = 2 * i + half
                    vals = odom_values(b, seq)
                    odom[(name, seq)] = vals
                    msgs = [(4, _odom_msg(seq, sec, nsec, vals), ODOM, seq)]
                    if half == 0:
                        for cam, topic in enumerate(CAMERAS):
                            px = frame_pixels(seed, b, cam, i, w, h)
                            pixels[(name, topic, i)] = px
                            msgs.append((cam, _image_msg(i, sec, nsec, w, h, px), topic, i))
                    for conn, payload, topic, s in msgs:
                        counts.setdefault(conn, []).append((t, len(inner)))
                        inner += _record([("op", b"\x02"), ("conn", struct.pack("<I", conn)),
                                          ("time", struct.pack("<Q", t))], payload)
                        messages.append((name, topic, s, t))
            comp = "bz2" if (c0 // frames_per_chunk) % 2 else "none"
            data = bz2.compress(inner) if comp == "bz2" else inner
            chunk = _record([("op", b"\x05"), ("compression", comp.encode()),
                             ("size", struct.pack("<I", len(inner)))], data)
            index = b"".join(
                _record([("op", b"\x04"), ("ver", struct.pack("<I", 1)), ("conn", struct.pack("<I", c)),
                         ("count", struct.pack("<I", len(v)))],
                        b"".join(struct.pack("<QI", t, off) for t, off in v))
                for c, v in sorted(counts.items()))
            metas.append((pos, times[0], times[-1], {c: len(v) for c, v in counts.items()}))
            body += chunk + index
            pos += len(chunk) + len(index)
        index_pos = pos
        tail = conn_blob + b"".join(
            _record([("op", b"\x06"), ("ver", struct.pack("<I", 1)), ("chunk_pos", struct.pack("<Q", p)),
                     ("start_time", struct.pack("<Q", lo)), ("end_time", struct.pack("<Q", hi)),
                     ("count", struct.pack("<I", len(cnt)))],
                    b"".join(struct.pack("<II", c, n) for c, n in sorted(cnt.items())))
            for p, lo, hi, cnt in metas)
        fields = [("op", b"\x03"), ("index_pos", struct.pack("<Q", index_pos)),
                  ("conn_count", struct.pack("<I", len(conns))), ("chunk_count", struct.pack("<I", len(metas)))]
        hdr = b"".join(_field(k, v) for k, v in fields)
        pad = header_len - 8 - len(hdr)
        bag_header = struct.pack("<I", len(hdr)) + hdr + struct.pack("<I", pad) + b" " * pad
        with open(os.path.join(out, name), "wb") as f:
            f.write(b"#ROSBAG V2.0\n" + bag_header + body + tail)
    return {"messages": messages, "pixels": pixels, "odom": odom,
            "bags": n_bags, "frames": len(pixels), "bytes": sum(
                os.path.getsize(os.path.join(out, n)) for n in os.listdir(out))}
