"""The benchmark's workloads: what each generates, lays out, runs and checks.

A workload is a fixed list of operations, shuffled once by the seed. One
pass runs every operation once; the runner times passes. Every operation
goes through the engine's public entry points, and every check compares
against expectations that come from the generator or from DuckDB, never
from the engine.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import struct
import time
import urllib.parse
import zlib

import gen

ENGINE = "aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark"


# --- comparing result sets ---------------------------------------------------


def _canon(v):
    import datetime

    if v is None:
        return ("", "NULL")
    if isinstance(v, bool):
        return ("", str(int(v)))
    if isinstance(v, float):
        if math.isnan(v):
            return ("", "NaN")
        return (v, "")
    if isinstance(v, int):
        return (float(v), "")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return ("", v.isoformat())
    if isinstance(v, dict):
        v = list(v.values())
    if isinstance(v, (list, tuple)):
        return ("", repr([_canon(x) for x in v]))
    if isinstance(v, bytes):
        return ("", v.hex())
    return ("", str(v))


def _close(a: float, b: float) -> bool:
    """Equal up to summation order: a relative 1e-9, or one unit in the
    second decimal on a value large enough that a half-cent rounding
    boundary explains it (both engines round sums of cents)."""
    d = abs(a - b)
    m = max(abs(a), abs(b), 1.0)
    return d <= 1e-9 * m or (d <= 0.0100001 and d <= 1e-6 * m)


def compare(cols_a, rows_a, cols_b, rows_b) -> str | None:
    """None when the two result sets hold the same rows in any order,
    else a one-line reason. Columns are matched by name."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} != {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"{len(rows_a)} rows != {len(rows_b)}"
    names = sorted(cols_a)
    ia = [list(cols_a).index(c) for c in names]
    ib = [list(cols_b).index(c) for c in names]

    def key(row, idx):
        cells = [_canon(row[i]) for i in idx]
        # sort on the exact cells first, then on floats at cent precision
        return ([c[1] for c in cells], [round(c[0], 2) if c[0] != "" else 0.0 for c in cells], cells)

    sa = sorted((key(r, ia) for r in rows_a), key=lambda k: (k[0], k[1]))
    sb = sorted((key(r, ib) for r in rows_b), key=lambda k: (k[0], k[1]))
    for ka, kb in zip(sa, sb):
        for ca, cb in zip(ka[2], kb[2]):
            if ca[1] != cb[1] or (ca[0] != "" and not _close(ca[0], cb[0])):
                return f"row {ka[2]} != {kb[2]}"
    return None


# --- lake_sql ----------------------------------------------------------------

# Four shapes: scan-aggregate (TPC-H Q1), aggregate-join-top-k (Q18), the
# bucketed fact/fact join, and per-order windows (Q21). A pass repeats about
# eight times before the JIT settles, which the run budget allows only for a
# short pass (lakebench/NOTES.md lists the queries left out).
LAKE_QUERIES = [
    "q121_tpch_q18",
    "q199_bucketed_join_revenue",
    "q218_tpch_q21",
    "q46_tpch_q1",
]
LAKE_ORDERS = 6_000  # ~24k lineitem rows
LAYOUT_COPIES = 3  # set-up lays the lake out this many times


class LakeSql:
    """Relational and TPC-H-shaped registry queries over the bucketed lake.
    No Python boundary and no session-stage cache: the bypass workload for
    changes to the Python, streaming and bag layers."""

    name = "lake_sql"

    def __init__(self, root: str, seed: int):
        self.root = root
        self.seed = seed
        self.lake = os.path.join(root, "lake")
        self.ops = list(LAKE_QUERIES)
        random.Random(seed).shuffle(self.ops)
        self.out = os.path.join(root, "out")  # nothing is written there
        self._oracle: dict = {}
        self.timers: dict = {}  # op -> (plan build s, drain s) of its last run
        self.progress: list = []

    def generate(self) -> dict:
        sizes = gen.write_lake(self.lake, self.seed, LAKE_ORDERS)
        for copy in range(1, LAYOUT_COPIES):
            shutil.copytree(self.lake, self._source(copy))
        return sizes

    def _source(self, copy: int) -> str:
        return os.path.join(self.root, f"lake_copy{copy}") if copy else self.lake

    def layout(self, spark, copy: int) -> None:
        """Bucketed layout of orders/lineitem. ``copy`` > 0 lays out one of
        the generated copies of the lake, so every repeat writes from
        scratch; the queries read the original (``copy`` 0)."""
        from importlib import import_module

        tables = import_module(f"{ENGINE}.tables")
        self._layout = tables.materialize_bucketed(spark, self._source(copy))

    def layout_mb(self, spark) -> float:
        """MB written by the last layout."""
        mb = 0.0
        for tbl in self._layout.values():
            loc = spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").filter("col_name = 'Location'").collect()
            path = urllib.parse.urlparse(loc[0]["data_type"]).path if loc else ""
            for d, _, files in os.walk(path):
                mb += sum(os.path.getsize(os.path.join(d, f)) for f in files) / 2**20
        return mb

    def run(self, spark, op: str, tag: str):
        import __spark_entry__ as se

        t0 = time.perf_counter()
        df = se.queries()[op](spark, self.lake)
        t1 = time.perf_counter()
        rows = [tuple(r) for r in df.collect()]
        self.timers[op] = (t1 - t0, time.perf_counter() - t1)
        return df.columns, rows

    def check(self, op: str, tag: str, out) -> str | None:
        if op not in self._oracle:
            import duckdb
            import __spark_entry__ as se

            con = duckdb.connect()
            for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.lake}/{t}.parquet'")
            cur = con.execute(se.oracle_sql()[op])
            self._oracle[op] = ([d[0] for d in cur.description], cur.fetchall())
            con.close()
        exp_cols, exp_rows = self._oracle[op]
        if not exp_rows:
            return "oracle returned no rows: the check would be vacuous"
        return compare(out[0], out[1], exp_cols, exp_rows)

    def cleanup(self, tag: str) -> None:
        pass

    def probe_layers(self, spark) -> dict:
        return {}


# --- sensor_pipeline ---------------------------------------------------------

SENSOR_OPS = ["topic_tables", "png_frames", "detections", "stream_drain"]
BAGS, FRAMES, WIDTH, HEIGHT, FRAMES_PER_CHUNK = 2, 12, 64, 48, 6
LABELS = ["Person", "Car", "Bicycle", "Truck", "Motorcycle"]
# nav_msgs/Odometry fields the decoder keeps, in gen.odom_values order
ODOM_FIELDS = ["pos_x", "pos_y", "pos_z", "ori_x", "ori_y", "ori_z", "ori_w", "lin_x", "lin_y", "lin_z"]


def png_pixels(data: bytes) -> tuple[bytes, int, int]:
    """Decode an 8-bit RGB PNG (any filter types) to raw pixels."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, w, h = 8, b"", 0, 0
    while pos < len(data):
        (n,) = struct.unpack(">I", data[pos : pos + 4])
        tag, body = data[pos + 4 : pos + 8], data[pos + 8 : pos + 8 + n]
        if tag == b"IHDR":
            w, h, depth, color = struct.unpack(">IIBB", body[:10])
            if (depth, color) != (8, 2):
                raise ValueError(f"PNG depth/color {depth}/{color}, expected 8-bit RGB")
        elif tag == b"IDAT":
            idat += body
        pos += 12 + n
    raw = zlib.decompress(idat)
    stride, bpp = w * 3, 3
    out = bytearray()
    prev = bytearray(stride)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        for i in range(stride):
            a = line[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ft == 1:
                line[i] = (line[i] + a) & 255
            elif ft == 2:
                line[i] = (line[i] + b) & 255
            elif ft == 3:
                line[i] = (line[i] + (a + b) // 2) & 255
            elif ft == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
                line[i] = (line[i] + pred) & 255
            elif ft != 0:
                raise ValueError(f"bad PNG filter type {ft}")
        out += line
        prev = line
    return bytes(out), w, h


def _read_partitioned(root: str, part_col: str, columns: list[str]) -> list[dict]:
    """Rows of a hive-partitioned parquet directory, read with pyarrow."""
    import pyarrow.parquet as pq

    rows = []
    for d, _, files in os.walk(root):
        part = [p for p in d.split(os.sep) if p.startswith(part_col + "=")]
        for f in files:
            if not f.endswith(".parquet"):
                continue
            tbl = pq.read_table(os.path.join(d, f), columns=columns)
            for r in tbl.to_pylist():
                if part:
                    r[part_col] = urllib.parse.unquote(part[-1].split("=", 1)[1])
                rows.append(r)
    return rows


def _bag_name():
    """The bag's file name: the source's ``bag`` column holds its path."""
    from pyspark.sql import functions as F

    return F.regexp_extract("bag", r"([^/]+)$", 1)


def expected_labels(buf: bytes) -> dict:
    """The label the engine's deterministic stub predictor assigns to one
    frame's bytes (its documented contract: first byte plus length)."""
    s = buf[0] + len(buf)
    return {"name": LABELS[s % 5], "confidence": round(50 + s % 50, 3), "n": s % 3 + 1}


class SensorPipeline:
    """The paper's stages over generated ROS bags: extract topic tables,
    decode and write PNG frames, run the detector into the wide detections
    table, and drain the landing zone as a stream. Bypasses ``tables`` and
    the query registry."""

    name = "sensor_pipeline"

    def __init__(self, root: str, seed: int):
        self.root = root
        self.seed = seed
        self.landing = os.path.join(root, "landing")
        self.out = os.path.join(root, "out")
        self.ops = list(SENSOR_OPS)
        random.Random(seed).shuffle(self.ops)
        self.expect: dict = {}
        self.timers: dict = {}
        self.progress: list = []  # (start, end, progress reports) per stream drain

    def generate(self) -> dict:
        self.expect = gen.write_bags(self.landing, self.seed, BAGS, FRAMES, WIDTH, HEIGHT, FRAMES_PER_CHUNK)
        return {k: self.expect[k] for k in ("bags", "frames", "bytes")} | {"messages": len(self.expect["messages"])}

    def layout(self, spark, copy: int) -> None:
        from importlib import import_module

        import_module(f"{ENGINE}.sources.bag_datasource").register_rosbag_source(spark)
        # format("rosbag") implements pushFilters, and Spark 4.1 rejects any
        # filter over such a source unless this is on (bag_datasource.py
        # names it as the source's requirement)
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

    def layout_mb(self, spark) -> float:
        return 0.0

    def _records(self, spark):
        return spark.read.format("rosbag").option("path", os.path.join(self.landing, "*.bag")).load()

    def _frames(self, spark):
        from importlib import import_module

        views = import_module(f"{ENGINE}.sources.topic_views")
        from pyspark.sql import functions as F

        recs = self._records(spark).filter(F.col("topic").isin(*gen.CAMERAS))
        return views.image_view(recs)

    def run(self, spark, op: str, tag: str):
        from importlib import import_module
        from pyspark.sql import functions as F

        sinks = import_module(f"{ENGINE}.sources.sinks")
        dest = os.path.join(self.out, tag, op)
        if op == "topic_tables":
            sinks.write_topic_tables(self._records(spark), dest)
            return dest
        if op == "png_frames":
            images = import_module(f"{ENGINE}.operators.images")
            decoded = images.decode_frames(self._frames(spark)).withColumn(
                "img_file",
                F.concat(
                    F.concat_ws("_", _bag_name(), F.regexp_replace("topic", "/", "-"), F.col("seq").cast("string")),
                    F.lit(".png"),
                ),
            )
            return dest, sinks.write_png_files(decoded, dest)
        if op == "detections":
            udf = import_module(f"{ENGINE}.operators.detector_udf")
            det = import_module(f"{ENGINE}.operators.detections")
            raw = udf.detect(self._frames(spark), udf.deterministic_stub_predictor).select(
                F.concat_ws("#", _bag_name(), F.col("seq").cast("string")).alias("ts_key"),
                F.col("topic").alias("camera"),
                "labels",
            )
            wide = det.detections_wide(det.explode_labels(raw), LABELS)
            sinks.write_detections(wide, dest, partition_col="camera")
            return dest
        if op == "stream_drain":
            start = time.time()
            q = (
                spark.readStream.format("rosbag").option("path", self.landing).load()
                .writeStream.format("parquet")
                .option("path", dest)
                .option("checkpointLocation", dest + "_ckpt")
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(STREAM_TIMEOUT_S):
                q.stop()
                raise TimeoutError(f"stream drain did not finish in {STREAM_TIMEOUT_S} s")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            reports = [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]
            self.progress.append((start, time.time(), reports))
            return dest
        raise KeyError(op)

    def check(self, op: str, tag: str, out) -> str | None:
        msgs = self.expect["messages"]
        if op in ("topic_tables", "stream_drain"):
            cols = ["bag", "seq", "ros_time", "payload_json"] + (["topic"] if op == "stream_drain" else [])
            rows = _read_partitioned(out, "topic", cols)
            got = sorted((os.path.basename(r["bag"]), r["topic"], r["seq"], r["ros_time"]) for r in rows)
            want = sorted(msgs)
            if got != want:
                return f"{len(got)} messages read back, expected {len(want)}" if len(got) != len(want) \
                    else "message keys differ from the generated bags"
            for r in rows:
                if r["topic"] == gen.ODOM:
                    p = json.loads(r["payload_json"])
                    vals = [p[k] for k in ODOM_FIELDS]
                    if vals != [float(v) for v in self.expect["odom"][(os.path.basename(r["bag"]), r["seq"])]]:
                        return f"odometry {r['bag']} {r['seq']}: {vals} differs from the generated message"
            return None
        if op == "png_frames":
            out, written = out
            want = {f"{b}_{t.replace('/', '-')}_{s}.png": px for (b, t, s), px in self.expect["pixels"].items()}
            found = {}
            for d, _, files in os.walk(out):
                for f in files:
                    with open(os.path.join(d, f), "rb") as fh:
                        found[f] = fh.read()
            if written != len(want) or sorted(found) != sorted(want):
                return f"{written} PNG files reported, {len(found)} found, expected {len(want)}"
            for name, data in found.items():
                px, w, h = png_pixels(data)
                if (w, h) != (WIDTH, HEIGHT) or px != want[name]:
                    return f"{name}: decoded pixels differ from the generated frame"
            return None
        if op == "detections":
            rows = _read_partitioned(out, "camera", ["ts_key"] + LABELS + ["ped_count", "wheeler_count"])
            got = {(r["ts_key"], r["camera"]): r for r in rows}
            if len(got) != len(rows) or len(rows) != len(self.expect["pixels"]):
                return f"{len(rows)} detection rows, expected {len(self.expect['pixels'])}"
            for (b, t, s), px in self.expect["pixels"].items():
                r = got.get((f"{b}#{s}", t))
                if r is None:
                    return f"no detection row for {b} {t} {s}"
                lab = expected_labels(px)
                for name in LABELS:
                    want = lab["confidence"] if name == lab["name"] else None
                    if r[name] != want:
                        return f"{b} {t} {s}: {name}={r[name]}, expected {want}"
                ped = lab["n"] if lab["name"] == "Person" else 0
                wheel = lab["n"] if lab["name"] in ("Bicycle", "Motorcycle") else 0
                if (r["ped_count"], r["wheeler_count"]) != (ped, wheel):
                    return f"{b} {t} {s}: counts {r['ped_count']}/{r['wheeler_count']}, expected {ped}/{wheel}"
            return None
        raise KeyError(op)

    def probe_layers(self, spark) -> dict:
        """Direct measurements of the bag source, the topic-table sink and
        the PNG codec (traced runs only): a noop-drained full
        ``format("rosbag")`` read, the topic-table write of already cached
        records, and single-core encode/decode of every generated frame."""
        from importlib import import_module

        png = import_module(f"{ENGINE}.functions.png")
        sinks = import_module(f"{ENGINE}.sources.sinks")
        recs = self._records(spark)
        parts = recs.rdd.getNumPartitions()
        reads = []
        for _ in range(3):
            t0 = time.perf_counter()
            recs.write.format("noop").mode("overwrite").save()
            reads.append(time.perf_counter() - t0)
        cached = recs.cache()
        cached.count()
        writes = []
        for k in range(3):
            t0 = time.perf_counter()
            sinks.write_topic_tables(cached, os.path.join(self.out, f"probe_write{k}"))
            writes.append(time.perf_counter() - t0)
        cached.unpersist()
        frames = list(self.expect["pixels"].values())
        mb = sum(len(f) for f in frames) / 2**20
        t0 = time.perf_counter()
        encoded = [png.encode_png(f, WIDTH, HEIGHT, 3) for f in frames]
        t1 = time.perf_counter()
        for e in encoded:
            png.decode_png(e)
        t2 = time.perf_counter()
        return {
            "sources.decode_mb_per_s": self.expect["bytes"] / 2**20 / sorted(reads)[1],
            "sources.read_partitions": parts,
            "sources.write_s": sorted(writes)[1],
            "functions.png_encode_mb_per_s": mb / (t1 - t0),
            "functions.png_decode_mb_per_s": mb / (t2 - t1),
        }

    def cleanup(self, tag: str) -> None:
        shutil.rmtree(os.path.join(self.out, tag), ignore_errors=True)


STREAM_TIMEOUT_S = 60

WORKLOADS = {w.name: w for w in (LakeSql, SensorPipeline)}
