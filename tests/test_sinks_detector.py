"""Sink layout + pluggable detector contract tests (K1/K2/K6, U4)."""

import os
import re
import shutil
import tempfile

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.detections import (
    detections_wide,
    explode_labels,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.operators.detector_udf import (
    detect,
    deterministic_stub_predictor,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources import (
    rosbag_fixtures as fx,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.rosbag import (
    decode_bag_df,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.sinks import (
    write_detections,
    write_png_files,
    write_topic_tables,
)
from aws_autonomous_driving_data_lake_image_extraction_pipeline_from_ros_bagfiles_spark.sources.topic_views import (
    image_view,
)


LABELS = ["Person", "Car", "Bicycle", "Truck", "Motorcycle"]


def _counting(df, acc):
    """``df`` passed through a mapInPandas that adds 1 to ``acc`` each time
    its function runs, i.e. once per partition it processes."""

    def run(batches):
        acc.add(1)
        yield from batches

    return df.mapInPandas(run, schema=df.schema)


def _frames(spark, n=6, parts=3):
    """``n`` 1x1 RGB frames in ``parts`` partitions, in write_png_files'
    input shape."""
    return spark.range(0, n, 1, parts).select(
        F.lit("/cam/front").alias("topic"),
        F.concat(F.lit("f"), F.col("id").cast("string"), F.lit(".png")).alias("img_file"),
        F.unhex(F.lit("0A141E")).alias("pixels"),
        F.lit(1).alias("img_width"),
        F.lit(1).alias("img_height"),
    )


def _records(spark, n=4):
    blob = fx.build_demo_bag(n_frames=n)
    bags = spark.createDataFrame(
        [("memory://a.bag", bytearray(blob))], "path string, content binary"
    ).coalesce(1)
    return decode_bag_df(bags)


def test_topic_partitioned_write_prunes(spark):
    work = tempfile.mkdtemp(prefix="t_sink_")
    try:
        write_topic_tables(_records(spark), f"{work}/topics")
        back = spark.read.parquet(f"{work}/topics")
        assert back.count() == 16
        one = back.filter(F.col("topic") == "/odom")
        plan = one._jdf.queryExecution().executedPlan().toString()
        # partition pruning visible in the scan
        assert "PartitionFilters: [isnotnull(topic" in plan
        assert one.count() == 4
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_detector_contract_end_to_end(spark):
    """EP2 with the pluggable batched predictor: frames -> detect ->
    explode -> wide table."""
    frames = image_view(_records(spark))
    labeled = detect(frames, deterministic_stub_predictor)
    long_df = explode_labels(
        labeled.select(F.date_format("ts", "yyyy-MM-dd").alias("ts_key"),
                       F.col("topic").alias("camera"), "labels")
    )
    wide = detections_wide(long_df, ["Person", "Car", "Bicycle", "Truck", "Motorcycle"])
    rows = wide.collect()
    assert len(rows) == 1  # one camera x one day
    r = rows[0].asDict()
    assert r["ped_count"] >= 0 and any(r[k] is not None for k in ["Person", "Car", "Bicycle", "Truck", "Motorcycle"])
    # determinism: second run identical
    assert sorted(map(tuple, wide.collect())) == sorted(map(tuple, rows))


def test_detections_dynamic_partition_overwrite(spark):
    work = tempfile.mkdtemp(prefix="t_det_")
    try:
        df1 = spark.createDataFrame(
            [("2024-01-01", "front", 0.9), ("2024-01-02", "front", 0.5)],
            "ts_key string, camera string, Person double",
        )
        write_detections(df1, f"{work}/det")
        # re-write ONLY day 2 with new data; day 1 must survive
        df2 = spark.createDataFrame(
            [("2024-01-02", "front", 0.7)], "ts_key string, camera string, Person double"
        )
        write_detections(df2, f"{work}/det")
        # partition values are type-inferred on read (string -> date)
        back = {str(r.ts_key): r.Person for r in spark.read.parquet(f"{work}/det").collect()}
        assert back == {"2024-01-01": 0.9, "2024-01-02": 0.7}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_topic_csv_sink_drops_binary(spark):
    """K1 CSV branch: per-topic CSV write mirrors the reference (images
    routed to the frame sink, not the topic CSV)."""
    import tempfile

    work = tempfile.mkdtemp(prefix="t_csv_")
    try:
        write_topic_tables(_records(spark), f"{work}/csv", fmt="csv")
        back = spark.read.option("header", True).csv(f"{work}/csv")
        assert "img_data" not in back.columns
        assert back.count() == 16
        assert back.filter(F.col("topic") == "/odom").count() == 4
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_sink_sanitize_collision_raises(spark, tmp_path):
    """Two topics sanitizing to one file stem ('/cam/front' vs '/cam_front')
    must fail loudly — concurrent tasks would otherwise overwrite each
    other's output with no error (r7 review)."""
    rows = [
        ("/cam/front", "a.png", b"\x00" * 3, 1, 1),
        ("/cam_front", "b.png", b"\x00" * 3, 1, 1),
    ]
    df = spark.createDataFrame(
        rows,
        "topic string, img_file string, pixels binary, img_width int, img_height int",
    )
    with pytest.raises(ValueError, match="sink name collision"):
        write_png_files(df, str(tmp_path))
    assert os.listdir(tmp_path) == []  # the check runs before any write


def test_png_sink_runs_upstream_python_once(spark, tmp_path):
    """The collision check and the write share one run of the decoded
    frame's Python lineage, and the sink leaves nothing cached."""
    acc = spark.sparkContext.accumulator(0)
    decoded = _counting(_frames(spark), acc)
    # compared by id, not by count: the context cleaner may unpersist
    # other tests' unreferenced localCheckpoint RDDs at any moment
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keys())
    assert write_png_files(decoded, str(tmp_path)) == 6
    assert acc.value == decoded.rdd.getNumPartitions() == 3
    assert set(persistent().keys()) <= before
    assert decoded.storageLevel == StorageLevel.NONE
    assert len(os.listdir(tmp_path / "cam_front")) == 6


def test_png_sink_leaves_caller_cache_alone(spark, tmp_path):
    acc = spark.sparkContext.accumulator(0)
    decoded = _counting(_frames(spark), acc).cache()
    try:
        assert write_png_files(decoded, str(tmp_path)) == 6
        assert decoded.is_cached and decoded.storageLevel != StorageLevel.NONE
        assert decoded.count() == 6
        assert acc.value == 3  # the count read the caller's cache
    finally:
        decoded.unpersist(blocking=True)


@pytest.mark.parametrize("escape", ["../../escape.png", "abs", "sub/f.png", ".."])
def test_png_sink_rejects_non_plain_names(spark, tmp_path, escape):
    """A name that is absolute or has a directory part would be written
    outside the sink root: the write fails naming the frame instead."""
    name = str(tmp_path / "abs.png") if escape == "abs" else escape
    df = _frames(spark, n=1, parts=1).withColumn("img_file", F.lit(name))
    with pytest.raises(Exception, match="not a plain file name") as err:
        write_png_files(df, str(tmp_path / "root"))
    assert "ValueError" in str(err.value) and repr(name) in str(err.value)
    assert [f for _, _, files in os.walk(tmp_path) for f in files] == []


def _detect_wide(spark, acc):
    frames = _counting(image_view(_records(spark)), acc)
    long_df = explode_labels(
        detect(frames, deterministic_stub_predictor).select(
            F.col("seq").cast("string").alias("ts_key"), F.col("topic").alias("camera"), "labels"
        )
    )
    return frames, detections_wide(long_df, LABELS)


def test_detections_wide_runs_detector_once(spark):
    acc = spark.sparkContext.accumulator(0)
    frames, wide = _detect_wide(spark, acc)
    assert len(wide.collect()) == 4
    assert acc.value == frames.rdd.getNumPartitions()


def test_detections_wide_plan_is_one_aggregation(spark):
    _, wide = _detect_wide(spark, spark.sparkContext.accumulator(0))
    wide.collect()
    qe = wide._jdf.queryExecution()
    logical = qe.optimizedPlan().toString()
    assert len(re.findall(r"^[\s:+-]*Aggregate \[", logical, re.M)) == 1, logical
    physical = qe.executedPlan().toString()
    assert "Join" not in logical and "Join" not in physical, physical


def test_detections_wide_keeps_null_key_group(spark):
    """SQL GROUP BY (q34's oracle) keeps a NULL-key group; so must the
    wide table."""
    long_df = spark.createDataFrame(
        [
            (None, "front", "Person", 0.9, 2),
            ("d1", "front", "Car", 0.5, 1),
            ("d1", "front", "Person", 0.4, 1),
            ("d1", "front", "Bicycle", 0.3, 3),
        ],
        "ts_key string, camera string, label string, confidence double, n_instances int",
    )
    rows = {r.ts_key: r.asDict() for r in detections_wide(long_df, LABELS).collect()}
    assert set(rows) == {None, "d1"}
    assert rows[None]["Person"] == 0.9 and rows[None]["Car"] is None
    assert (rows[None]["ped_count"], rows[None]["wheeler_count"]) == (2, 0)
    assert (rows["d1"]["Person"], rows["d1"]["Car"], rows["d1"]["Bicycle"]) == (0.4, 0.5, 0.3)
    assert (rows["d1"]["ped_count"], rows["d1"]["wheeler_count"]) == (1, 3)
