"""Streaming ingest + event-time operators.

All functions take/return streaming DataFrames; tests drive them with a
file source + Trigger.AvailableNow (deterministic, no timers), which
exercises the exact operators a live Kafka/file stream would use.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def stream_ingest(
    spark: SparkSession,
    source_path: str,
    schema: str,
    sink_path: str,
    checkpoint: str,
    partition_cols: list[str] | None = None,
    fmt: str = "parquet",
    available_now: bool = True,
) -> StreamingQuery:
    """File-source ingest → partitioned parquet append.

    = HiveEndPoint TransactionBatch ingest (HiveEndPoint.java:62), with
    the checkpoint dir playing the transaction log's role (exactly-once
    per-file tracking)."""
    stream = spark.readStream.schema(schema).format(fmt).load(source_path)
    writer = (
        stream.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint)
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    window: str = "1 hour",
    slide: str | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling/sliding window counts: late rows beyond the
    watermark are dropped; state for closed windows is evicted."""
    keys = key_cols or []
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), *keys, "n")
    )


def sessionized_stream(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked session windows (F.session_window) — merges events
    within ``gap`` per key; sessions close when the watermark passes
    last_event + gap."""
    keys = key_cols or []
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            *keys,
            "n_events",
        )
    )


def stream_upsert_sink(
    stream: DataFrame,
    target_path: str,
    key_cols: list[str],
    checkpoint: str,
    order_col: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming CDC upsert sink: foreachBatch MERGE of each micro-batch
    into the parquet table at ``target_path``.

    = the reference's streaming *mutation* API
    (hcatalog/streaming/mutate/client/MutatorClient.java — batched
    INSERT/UPDATE/DELETE into ACID tables). Spark-first this is
    ``writeStream.foreachBatch`` + the staged ``merge_upsert`` rewrite:
    plain parquet has no delta log, so each batch rewrites the merged
    table through the MoveTask-style staging swap (never
    cache-then-overwrite).

    Versioned, out-of-order-tolerant semantics when ``order_col`` is
    given: within a batch only the highest-version row per key survives
    (row_number), and against the existing target a row applies only if
    strictly newer than the stored version — so the final table is the
    max-version row per key regardless of how the source files land in
    micro-batches. Without ``order_col`` the caller guarantees unique
    keys per batch and last-batch-wins.

    Scale: per batch = one row_number shuffle on the (small) batch, one
    broadcast-ish left join against the target's (key, version)
    projection, and the merge's full-outer join — all keyed on
    ``key_cols``. The target is read twice per batch (version probe +
    merge); at 100 TB the right design is a partitioned target so the
    probe and rewrite touch only partitions named by the batch's keys
    (the writers' staged-rewrite core, ``_rewrite``, prunes a
    partitioned target to the touched partitions).
    """
    from hive_2_3_2_spark.sources.writers import merge_upsert

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        b = batch_df
        if order_col is not None:
            w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
            b = (
                b.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        if not os.path.exists(target_path):
            b.write.parquet(target_path)
            return
        if order_col is not None:
            cur = sess.read.parquet(target_path).select(
                *key_cols, F.col(order_col).alias("__cur")
            )
            b = (
                b.join(cur, key_cols, "left")
                .filter(
                    F.col("__cur").isNull() | (F.col(order_col) > F.col("__cur"))
                )
                .drop("__cur")
            )
            if b.isEmpty():
                return
        merge_upsert(sess, target_path, b, key_cols)

    writer = stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup(
    events: DataFrame,
    id_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup on ids within the watermark horizon
    (dropDuplicates keeps state per id until the watermark passes)."""
    return events.withWatermark(ts_col, watermark).dropDuplicates(
        [*id_cols, ts_col]
    )


def stream_rollup_sink(
    stream: DataFrame,
    rollup_path: str,
    checkpoint: str,
    unit: str = "hour",
    keys: list[str] | None = None,
    ts_col: str = "ts",
    val_col: str = "value",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming continuous aggregate: each micro-batch folds into the
    file-backed hypertable rollup (operators/rollup.py rollup_refresh).

    This is the live form of the incremental rollup — the mergeable
    partial algebra (count/sum/min/max add/combine) is exactly what makes
    per-batch refresh correct regardless of how events split across
    batches or arrive out of order: fold(batch1) then fold(batch2) equals
    fold(batch1 ∪ batch2), no watermark needed for correctness (late data
    just re-touches an old bucket_date partition). Contrast with the
    windowed-state operators (windowed_counts): those hold state in the
    streaming state store and must drop late rows past the watermark;
    this sink keeps state in the rollup table itself, so lateness is
    unbounded and reads are shared with the batch serve path.

    Scale: per batch = one aggregate of the batch + a pruned
    read-merge-overwrite of only the touched bucket_date partitions.
    """

    from hive_2_3_2_spark.operators.rollup import rollup_refresh

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        rollup_refresh(
            batch_df.sparkSession,
            rollup_path,
            batch_df,
            unit=unit,
            keys=keys,
            ts_col=ts_col,
            val_col=val_col,
        )

    writer = stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
