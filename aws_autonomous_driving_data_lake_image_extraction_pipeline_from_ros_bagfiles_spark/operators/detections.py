"""The enrich pipeline: detector labels -> queryable wide detections table.

Reference behavior (infrastructure/process-queue-sync/process-queue-sync.py):
one Rekognition call per PNG (:154-156), then a DynamoDB item keyed
``(timestamp, camera)`` (:50-60) grown one sparse attribute per label name
holding the *maximum* confidence via conditional updates (:85-97), plus
Person/Bicycle/Motorcycle instance counts (:63-83, 101-114).

Spark shape: the whole Lambda+DynamoDB dance is
``explode(labels) -> groupBy(ts, camera).agg(max(when(label = v, conf)) per
label + counts)`` — one aggregation, so one shuffle and one run of the
detector lineage, idempotent under duplicate delivery (max is commutative/
idempotent, which is exactly why the reference's conditional update was safe
under SQS at-least-once, ST2).

The detector itself is a pluggable contract (U4):
``predict(image_binary) -> array<struct<name,confidence,n_instances>>``.
A deterministic stub stands in for Rekognition in tests/oracles; a real
model plugs in as an Arrow-batched pandas UDF over ``mapInPandas`` —
batched, unlike the reference's one-call-per-image (a strict improvement,
SURVEY §4.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LABEL_SCHEMA = "array<struct<name:string,confidence:double,n_instances:int>>"

# Vulnerable-road-user sets (select-labelling-imgs.py:43-53).
PED_LABELS = ("Person",)
WHEELER_LABELS = ("Bicycle", "Motorcycle", "Motorbike", "Bike")


def stub_detector(seed_col: Column, conf_col: Column) -> Column:
    """Deterministic, SQL-expressible detector stub.

    Emits 1-2 labels derived from a seed column: label id = seed % 5 mapped
    onto a fixed vocabulary, confidence from ``conf_col``, instance count
    from seed % 3. Mirrors what a real detector UDF returns so the
    downstream per-label max/count plan is identical in tests and production.
    """
    name = F.element_at(
        F.array(F.lit("Person"), F.lit("Car"), F.lit("Bicycle"), F.lit("Truck"), F.lit("Motorcycle")),
        (seed_col % 5 + 1).cast("int"),
    )
    first = F.struct(
        name.alias("name"),
        F.round(conf_col, 3).alias("confidence"),
        (seed_col % 3 + 1).cast("int").alias("n_instances"),
    )
    # every third seed also reports a second, lower-confidence Person
    second = F.struct(
        F.lit("Person").alias("name"),
        F.round(conf_col / 2, 3).alias("confidence"),
        F.lit(1).cast("int").alias("n_instances"),
    )
    return F.when(seed_col % 3 == 0, F.array(first, second)).otherwise(F.array(first))


def explode_labels(
    df: DataFrame, labels_col: str = "labels", key_cols: tuple[str, ...] = ("ts_key", "camera")
) -> DataFrame:
    """Long form: one row per (frame, label), empty-instance labels kept —
    the P5 filter (process-queue-sync.py:71-74) applies only to counts.

    explode_OUTER: a frame whose detector returned an empty label array
    keeps one all-NULL-label row, so it still reaches the wide table
    (all-NULL maxes, zero counts) — the reference wrote a DynamoDB item
    per PROCESSED image, detections or not, and "frames with ped_count
    = 0" must include them. Plain explode silently dropped such frames
    (r7 review; the always-nonempty stub hid it). The explicit-values
    max columns of detections_wide match no NULL label, so downstream
    schemas are unchanged.
    """
    return df.select(*key_cols, F.explode_outer(labels_col).alias("l")).select(
        *key_cols,
        F.col("l.name").alias("label"),
        F.col("l.confidence").alias("confidence"),
        F.col("l.n_instances").alias("n_instances"),
    )


def detections_wide(
    long_df: DataFrame,
    label_values: list[str],
    key_cols: tuple[str, ...] = ("ts_key", "camera"),
) -> DataFrame:
    """Wide detections table: max confidence per label + VRU counts (A1/A2/K6).

    ``label_values`` must be the bounded label vocabulary, mirroring the
    reference's bounded DynamoDB attribute space: each value becomes one
    ``max(confidence) FILTER (WHERE label = v)`` column of the same single
    ``groupBy(key_cols)`` that sums the counts. With one aggregation the
    upstream lineage (the Python detector) runs once, and a NULL-key group
    is kept, as SQL ``GROUP BY`` does.
    """
    label = F.col("label")
    conf = F.col("confidence")
    is_ped = label.isin(*PED_LABELS)
    is_wheeler = label.isin(*WHEELER_LABELS)
    return long_df.groupBy(*key_cols).agg(
        *[F.round(F.max(F.when(label == v, conf)), 3).alias(v) for v in label_values],
        F.coalesce(F.sum(F.when(is_ped, F.col("n_instances"))), F.lit(0))
        .cast("bigint")
        .alias("ped_count"),
        F.coalesce(F.sum(F.when(is_wheeler, F.col("n_instances"))), F.lit(0))
        .cast("bigint")
        .alias("wheeler_count"),
    )
