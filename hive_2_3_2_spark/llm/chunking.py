"""Document chunking + sequence packing — training-data pipeline staples.

- ``chunk_documents``: split long documents into overlapping token
  windows (context-window preparation). Pure JVM: tokenize once per
  document, emit windows via posexplode over a window-start sequence —
  map-side only, no shuffle, linear in corpus size.
- ``pack_sequences``: greedily pack documents into fixed-token-budget
  groups (training batch packing). Greedy packing is inherently
  sequential per partition — implemented as applyInPandas over a
  partition key so each partition packs independently in parallel
  (the standard distributed formulation: global greedy is not
  parallelizable, per-shard greedy is what production pipelines do).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into whitespace-token windows of
    ``chunk_tokens`` with ``overlap`` tokens shared between consecutive
    chunks. Returns (doc_id, chunk_id, n_tokens, chunk_text).

    Stride = chunk_tokens - overlap; windows start at 0, stride, 2*stride,
    ... while start < n_tokens (every token appears in ≥1 chunk; the final
    window may be short).

    Plan: scan → tokenize (one regex split per document) → posexplode
    → filter → project, in one stage: no exchange, and a write or
    collect of the result runs one Spark job."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    # Expression TEXT (selectExpr): same Catalyst tree as the former F.*
    # chain, ~25 fewer py4j round trips per construction (r12).
    # ``__toks`` gets its own projection BELOW the posexplode. A Project
    # alias is inlined into every consumer once the n_tokens filter is
    # pushed under the output projection, which would run the regex
    # split in the Generate argument, the Filter and the Project, once
    # per output row each; a Generate does not inline its child's
    # aliases.
    starts = (
        "sequence(0, greatest(cast(floor((size(__toks) - 1) / "
        f"{stride}) as int) * {stride}, 0), {stride})"
    )
    return (
        df.selectExpr(
            f"{id_col} AS doc_id", rf"split(trim({text_col}), '\\s+') AS __toks"
        )
        .selectExpr(
            "doc_id", "__toks", f"posexplode({starts}) AS (chunk_id, start)"
        )
        .selectExpr(
            "doc_id",
            "cast(chunk_id as bigint) AS chunk_id",
            f"cast(least(size(__toks) - start, {chunk_tokens}) as bigint)"
            " AS n_tokens",
            f"concat_ws(' ', slice(__toks, start + 1, {chunk_tokens}))"
            " AS chunk_text",
        )
        .filter("n_tokens > 0")
    )


PACK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("pack_id", LongType()),
        StructField("n_tokens", LongType()),
        StructField("pack_fill", LongType()),
    ]
)


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    id_col: str = "doc_id",
    tokens_col: Column | None = None,
    text_col: str = "text",
    shards: int = 32,
) -> DataFrame:
    """Greedy next-fit packing of documents into token-budget groups.

    Documents are sharded by ``pmod(doc_id, shards)`` (round-robin: dense
    ids spread evenly, and the key is reproducible by any engine — the
    DuckDB oracle replays the packing exactly via a recursive CTE);
    within each shard, docs are processed in doc_id order and appended to
    the current pack until the budget would overflow, then a new pack
    starts. Returns (doc_id, pack_id, n_tokens, pack_fill) where pack_id
    is globally unique (shard * 2^40 + local) and pack_fill is the pack's
    total.

    Oversized docs (> budget) get a dedicated pack — chunk first with
    chunk_documents if that's not wanted.
    """
    tok = (
        tokens_col
        if tokens_col is not None
        else F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    )
    base = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tok.cast("long").alias("n_tokens"),
        F.pmod(F.col(id_col).cast("long"), F.lit(shards)).cast("long").alias(
            "shard"
        ),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        shard = int(pdf["shard"].iloc[0]) if len(pdf) else 0
        pack_ids, fills = [], {}
        current, fill = 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if fill > 0 and fill + n > budget:
                current += 1
                fill = 0
            fill += n
            pack_ids.append(current)
            fills[current] = fill
        gid = [shard * (1 << 40) + p for p in pack_ids]
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "pack_id": gid,
                "n_tokens": pdf["n_tokens"],
                "pack_fill": [fills[p] for p in pack_ids],
            }
        )

    return base.groupBy("shard").applyInPandas(pack, PACK_SCHEMA)


def length_bucket_batches(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_size: int = 8,
    shards: int = 8,
) -> DataFrame:
    """Length-bucketed batch assignment — group documents of similar
    token length into fixed-size batches so per-batch padding (to the
    batch max) is minimized; the standard dynamic-batching prep for
    sequence-model training.

    Buckets are power-of-two token-count ranges (bucket = bit-length of
    the token count: 1-1, 2-3, 4-7, ...), computed exactly in integer
    space via conv(n, 10, 2) string length so any engine reproduces it.
    Within a (bucket, shard) cell, documents are taken in doc_id order
    and cut into batches of ``batch_size``; sharding by pmod(doc_id,
    shards) keeps every cell's row_number window a separate task — a
    single global order per bucket would serialize the corpus through
    one task at 100 TB, per-shard order is what production loaders do
    (batches never cross worker shards anyway).

    Returns one row per batch: (bucket, shard, batch_id, n_docs,
    max_tokens, sum_tokens, padding_frac) where padding_frac is the
    wasted fraction of the padded (max_tokens x n_docs) block.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
        F.pmod(F.col(id_col).cast("long"), F.lit(shards)).alias("shard"),
    ).withColumn(
        "bucket", F.length(F.conv(F.col("n_tokens"), 10, 2)).cast("long")
    )
    w = Window.partitionBy("bucket", "shard").orderBy("doc_id")
    batched = base.withColumn(
        "batch_id",
        ((F.row_number().over(w) - 1) / F.lit(batch_size)).cast("long"),
    )
    return (
        batched.groupBy("bucket", "shard", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .withColumn(
            "padding_frac",
            F.round(
                (F.col("max_tokens") * F.col("n_docs") - F.col("sum_tokens"))
                / (F.col("max_tokens") * F.col("n_docs")),
                6,
            ),
        )
    )
