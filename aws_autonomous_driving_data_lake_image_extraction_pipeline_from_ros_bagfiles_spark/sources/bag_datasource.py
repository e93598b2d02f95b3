"""Spark 4 Python DataSource for ROS bag files — ``spark.read.format("rosbag")``.

ROADMAP #4's endgame: the chunk-split reader (``rosbag_split``) re-hosted
behind Spark's DataSource API so the PLANNER drives predicate pushdown,
not a Python keyword argument. ``df.filter(col("topic") == t)`` reaches
:meth:`BagDataSourceReader.pushFilters`, which prunes whole chunks through
the bag's own op-6 chunk index (reference: these records are skipped as
process_unknown, bagstream.py:364-371; the unused ``topics_to_extract``
env intent is ecs_stack.py:180,308) and then applies the filter EXACTLY
per message, so the consumed filter never reaches Spark as residual.

Split planning (one :class:`InputPartition` per surviving chunk) reuses
``plan_bag_splits`` — a pruned read is visible externally as fewer RDD
partitions, which is what q69 and tests/test_bag_datasource.py assert.

Spark 4.1 refuses to scan a Python source that implements pushFilters
unless ``spark.sql.python.filterPushdown.enabled`` is true (it is off by
default): every read, filtered or not, fails with
``DATA_SOURCE_PUSHDOWN_DISABLED``. :func:`register_rosbag_source` therefore
turns the setting on for the session it registers the source on.

Exactness contract for consumed filters: ``plan_bag_splits`` restricts the
connection map shipped to each split to the selected topics, and
``_decode_chunk`` drops any message whose connection is absent — so topic
Equality/In pushdown filters rows exactly, not just coarsely per chunk.
Time-range pruning stays an OPTION (``timerange``) rather than a pushed
filter because the packed ros_time column's integer order is not time
order (nsec occupies the high word): a raw ``ros_time > x`` predicate
cannot soundly prune chunks whose index carries time-ordered bounds.
"""

from __future__ import annotations

import glob
import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
)

from .rosbag import BAG_RECORD_SCHEMA, _RECORD_COLUMNS
from .rosbag_split import _decode_chunk, plan_bag_splits


class BagDataSourceReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        raw = options.get("path") or options.get("paths")
        if not raw:
            raise ValueError("rosbag source requires a 'path' option (file, glob, or comma list)")
        paths: list[str] = []
        for pat in raw.split(","):
            matches = sorted(glob.glob(pat.strip()))
            if not matches:
                raise FileNotFoundError(f"rosbag source: no files match {pat.strip()!r}")
            paths.extend(matches)
        self._paths = paths
        topics = options.get("topics")
        self._topics: list[str] | None = (
            [t.strip() for t in topics.split(",")] if topics else None
        )
        tr = options.get("timerange")
        self._time_range: tuple[int, int] | None = None
        if tr:
            lo, hi = tr.split(":")
            self._time_range = (int(lo), int(hi))

    def _restrict_topics(self, wanted: Sequence[str]) -> None:
        self._topics = (
            sorted(set(wanted))
            if self._topics is None
            else sorted(set(self._topics) & set(wanted))
        )

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and f.attribute == ("topic",)
                and isinstance(f.value, str)
            ):
                self._restrict_topics([f.value])
            elif (
                isinstance(f, In)
                and f.attribute == ("topic",)
                and all(isinstance(v, str) for v in f.value)
            ):
                self._restrict_topics(list(f.value))
            else:
                yield f  # residual — Spark applies it after the scan

    def partitions(self) -> list[InputPartition]:
        splits, _ = plan_bag_splits(self._paths, self._topics, self._time_range)
        # Spark maps an empty partition list to a single read(None) call
        return [InputPartition(s) for s in splits] or [InputPartition(None)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        if partition is None or partition.value is None:
            return
        path, off, ln, comp, conn_json = partition.value
        conns = {int(k): v for k, v in json.loads(conn_json).items()}
        for rec in _decode_chunk(path, int(off), int(ln), comp, conns, self._time_range):
            yield tuple(rec[c] for c in _RECORD_COLUMNS)


class BagStreamReader(DataSourceStreamReader):
    """Streaming half of ``format("rosbag")`` — the literal S1 shape:
    ``spark.readStream.format("rosbag")`` over a landing DIRECTORY of bag
    files (the reference's S3 drop zone, bag-queue-proc.py's unit of
    work). The offset is the SET of file names seen (committed to Spark's
    offset log as a sorted list): a batch reads exactly
    ``end.files - start.files``, so a file that lands late but sorts
    lexicographically EARLY is still picked up once, and deletions can
    never shift other files into or out of a committed range. (The
    previous count-based offset assumed sorted-prefix stability, which
    "append-only" does not give — a late-landing early-sorting name
    silently skipped itself and double-read its successor; r8 review.)
    Offset size is O(#files); beyond ~1e5 landing files, compact to a
    persisted seen-log keyed the same way — the set semantics is the
    contract. Each micro-batch maps its new files through
    ``plan_bag_splits``: decode parallelism stays one task per chunk,
    identical to the batch reader.
    """

    def __init__(self, options: dict) -> None:
        raw = options.get("path") or options.get("paths")
        if not raw:
            raise ValueError("rosbag stream requires a 'path' option (dir or glob)")
        if options.get("timerange"):
            # the batch reader honors this option; silently ignoring it
            # here would stream out-of-range rows with no warning
            raise ValueError(
                "rosbag stream does not support 'timerange' (the packed"
                " ros_time order is not time order across chunks); filter"
                " the stream explicitly or use the batch reader"
            )
        self._pattern = raw if any(ch in raw for ch in "*?[") else raw.rstrip("/") + "/*.bag"
        topics = options.get("topics")
        self._topics: list[str] | None = (
            [t.strip() for t in topics.split(",")] if topics else None
        )

    def _files(self) -> list[str]:
        return sorted(glob.glob(self._pattern))

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        return {"files": self._files()}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        new_files = sorted(set(end["files"]) - set(start["files"]))
        if not new_files:
            return [InputPartition(None)]
        splits, _ = plan_bag_splits(new_files, self._topics, None)
        return [InputPartition(s) for s in splits] or [InputPartition(None)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        if partition is None or partition.value is None:
            return
        path, off, ln, comp, conn_json = partition.value
        conns = {int(k): v for k, v in json.loads(conn_json).items()}
        for rec in _decode_chunk(path, int(off), int(ln), comp, conns, None):
            yield tuple(rec[c] for c in _RECORD_COLUMNS)

    def commit(self, end: dict) -> None:
        pass  # landing zone is the source of truth; nothing to release


class RosbagDataSource(DataSource):
    """``format("rosbag")``: schema-stable bag records, one task per chunk."""

    @classmethod
    def name(cls) -> str:
        return "rosbag"

    def schema(self) -> str:
        return BAG_RECORD_SCHEMA

    def reader(self, schema) -> BagDataSourceReader:
        return BagDataSourceReader(dict(self.options))

    def streamReader(self, schema) -> BagStreamReader:
        return BagStreamReader(dict(self.options))


def register_rosbag_source(spark) -> None:
    """Idempotently register ``format("rosbag")`` on this session, with the
    Python filter pushdown the source needs to be readable at all."""
    spark.dataSource.register(RosbagDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
