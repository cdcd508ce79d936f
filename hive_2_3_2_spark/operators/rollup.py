"""Hypertable-style continuous aggregate (incremental rollup).

The reference's nearest surface is materialized-view-less Hive: users
maintain hourly/daily summary tables with INSERT OVERWRITE jobs
(FileSinkOperator dynamic partitions + MoveTask finalize,
ql/.../exec/FileSinkOperator.java:91). This module gives that pattern a
first-class, *incremental* form — the TimescaleDB continuous-aggregate /
druid rollup shape the north star asks for:

- the rollup table stores MERGEABLE PARTIALS (count, sum, min, max), not
  finished answers, so late slices fold in with a re-aggregation instead
  of a recompute;
- the table is partitioned by bucket date, so a refresh overwrites only
  the dates the new slice touches (dynamic partition overwrite = Hive
  INSERT OVERWRITE semantics) and serving scans prune to the requested
  range;
- finished metrics (avg) are derived at serve time from the partials.

Scale: refresh cost is O(new slice) + a scan of only the touched date
partitions — never the whole history. Serving = one partition-pruned
scan of the rollup + an aggregate of the raw tail, merged by one
re-aggregation keyed on (bucket, keys). At 100 TB of raw events the
rollup is ~1e-4 of the raw size (one row per key per hour), so the
serve-time merge is broadcast-cheap next to the tail scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def rollup_partials(
    events: DataFrame,
    unit: str = "hour",
    keys: list[str] | None = None,
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Map one raw slice to mergeable per-bucket partials.

    One shuffle keyed on (bucket, keys); Catalyst plans the usual
    partial/final hash aggregate, so the exchange carries one row per
    (bucket, key) per map task — the same partial-combine GroupByOperator
    does map-side (GroupByOperator.java mode HASH)."""
    keys = keys if keys is not None else ["event_type"]
    return (
        events.groupBy(
            F.date_trunc(unit, F.col(ts_col)).alias("bucket_start"),
            *keys,
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(val_col).alias("sum_v"),
            F.min(val_col).alias("min_v"),
            F.max(val_col).alias("max_v"),
        )
        .withColumn("bucket_date", F.to_date("bucket_start"))
    )


def rollup_merge(parts: list[DataFrame], keys: list[str] | None = None) -> DataFrame:
    """Fold partial tables into one: count/sum add, min/max combine.
    This is the algebra that makes the rollup incremental — merging N
    slices is one union + one re-aggregation, never a raw-data rescan."""
    keys = keys if keys is not None else ["event_type"]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.groupBy("bucket_start", *keys)
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
        .withColumn("bucket_date", F.to_date("bucket_start"))
    )


def rollup_finalize(rollup: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Derive finished metrics from partials (avg = sum/n). Rounding
    pins cross-engine determinism: sum→2dp first (events.value is exactly
    2-decimal, so the rounded sum is exact), then the avg divides that
    exact sum — identical doubles on any engine."""
    keys = keys if keys is not None else ["event_type"]
    sum2 = F.round(F.col("sum_v"), 2)
    return rollup.select(
        "bucket_start",
        *keys,
        "n",
        sum2.alias("sum_v"),
        F.round(sum2 / F.col("n"), 4).alias("avg_v"),
        "min_v",
        "max_v",
    )


def rollup_serve(
    rollup: DataFrame,
    raw_tail: DataFrame,
    unit: str = "hour",
    keys: list[str] | None = None,
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Serve fresh totals: materialized partials ∪ aggregated raw tail,
    re-merged, finalized. The tail (data newer than the rollup's high
    watermark) is aggregated on the fly — the continuous-aggregate
    "real-time" read path."""
    tail = rollup_partials(raw_tail, unit, keys, ts_col, val_col)
    return rollup_finalize(rollup_merge([rollup, tail], keys), keys)


def rollup_refresh(
    spark: SparkSession,
    rollup_path: str,
    new_events: DataFrame,
    unit: str = "hour",
    keys: list[str] | None = None,
    ts_col: str = "ts",
    val_col: str = "value",
) -> None:
    """Incrementally fold a new raw slice into the file-backed rollup.

    Aggregates the slice, reads ONLY the touched bucket_date partitions
    of the existing rollup (partition filter → pruned scan), merges, and
    dynamic-partition-overwrites just those dates. Untouched history is
    never read or rewritten."""
    import os

    from hive_2_3_2_spark.sources.writers import write_partitioned

    keys = keys if keys is not None else ["event_type"]
    new_part = rollup_partials(new_events, unit, keys, ts_col, val_col)
    if not os.path.exists(rollup_path):
        (
            new_part.repartition("bucket_date")
            .write.partitionBy("bucket_date")
            .parquet(rollup_path)
        )
        return
    touched = [r.bucket_date for r in new_part.select("bucket_date").distinct().collect()]
    existing = spark.read.parquet(rollup_path).filter(
        F.col("bucket_date").isin(touched)
    )
    merged = rollup_merge([existing, new_part], keys)
    write_partitioned(merged, rollup_path, ["bucket_date"])


def rollup_partials_ndv(
    events: DataFrame,
    unit: str = "hour",
    keys: list[str] | None = None,
    ts_col: str = "ts",
    ndv_col: str = "user_id",
) -> DataFrame:
    """Per-bucket MERGEABLE distinct-count partial: a Datasketches HLL
    sketch of ``ndv_col`` (F.hll_sketch_agg). COUNT(DISTINCT) is the one
    common metric a plain rollup cannot carry — exact distinct counts
    don't merge across slices (|A ∪ B| ≠ |A| + |B|). The sketch does:
    refresh unions the new slice's sketch into the stored one
    (F.hll_union_agg), and serving estimates from the union. This is the
    reference's NumDistinctValueEstimator/compute_stats surface
    (udf/generic/NumDistinctValueEstimator.java:30) upgraded to a
    mergeable, rollup-resident form."""
    keys = keys if keys is not None else ["event_type"]
    return (
        events.groupBy(
            F.date_trunc(unit, F.col(ts_col)).alias("bucket_start"), *keys
        )
        .agg(F.hll_sketch_agg(ndv_col).alias("ndv_sketch"))
        .withColumn("bucket_date", F.to_date("bucket_start"))
    )


def rollup_serve_ndv(
    ndv_rollup: DataFrame,
    raw_tail: DataFrame,
    unit: str = "hour",
    keys: list[str] | None = None,
    ts_col: str = "ts",
    ndv_col: str = "user_id",
) -> DataFrame:
    """Serve distinct-count estimates from sketch partials ∪ the raw
    tail's sketch: one union-aggregate keyed on (bucket, keys) — sketch
    bytes (~KB each) shuffle, never the raw ids."""
    keys = keys if keys is not None else ["event_type"]
    tail = rollup_partials_ndv(raw_tail, unit, keys, ts_col, ndv_col)
    return (
        ndv_rollup.unionByName(tail)
        .groupBy("bucket_start", *keys)
        .agg(F.hll_union_agg("ndv_sketch").alias("u"))
        .select(
            "bucket_start",
            *keys,
            F.hll_sketch_estimate("u").alias("ndv_estimate"),
        )
    )
