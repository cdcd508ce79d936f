"""Writers — FileSinkOperator's surface on Spark writes.

Reference: FileSinkOperator (ql/.../exec/FileSinkOperator.java:91) handles
dynamic partitions, bucketing, compression; MoveTask finalizes INSERT
OVERWRITE; MERGE/UPDATE/DELETE compile through
parse/UpdateDeleteSemanticAnalyzer.java:62-86 onto ACID deltas.

Spark-first: df.write.partitionBy/bucketBy; dynamic partition overwrite
(session conf partitionOverwriteMode=dynamic = Hive's INSERT OVERWRITE
semantics of replacing only touched partitions). DELETE, UPDATE and
MERGE (and the ``merge_upsert`` API, a MERGE) share one staged-rewrite
core, ``_rewrite``: each statement is a ``build(target)`` callback that
marks rows changed/kept/matched, and the core finds the touched
partitions, prunes the scan, stages and swaps, and counts the affected
rows (documented non-atomic across partitions — plain parquet has no
transaction log; see SURVEY §7.4).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from contextlib import contextmanager

import pyarrow.parquet as _pq
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from hive_2_3_2_spark.session import local_frame


# Above this many files the per-file footer read leaves the driver:
# serial pyarrow at ~1-5 ms/footer is fine for a write's staged files,
# but a LOAD DATA / IMPORT / whole-table ANALYZE target at 10^5-10^6
# files would pin the driver for minutes, so the count runs as a Spark
# job instead (parquet count(*) is answered from row-group metadata on
# the executors, never materializing columns).
DISTRIBUTED_COUNT_THRESHOLD = 256

#: Spark DataSource + options per Hive fileformat, for tables whose
#: partitions carry per-partition storage descriptors
#: (partition_wise_fileformat*.q — Engine._mixed_format_frame reads,
#: insert_rows writes). TEXTFILE = Hive LazySimpleSerDe defaults:
#: ^A delimiter, \N null sentinel, empty string ≠ NULL (Spark's csv
#: quotes the empty string on write so the round trip is lossless; a
#: RAW empty field in externally-written text data reads as NULL — a
#: documented divergence from LazySimpleSerDe).
FORMAT_SOURCES: dict = {
    "parquet": ("parquet", {}),
    "orc": ("orc", {}),
    "csv": ("csv", {"sep": "\x01", "nullValue": "\\N"}),
    "json": ("json", {}),
}


def _format_writer(writer, fmt: str):
    src, opts = FORMAT_SOURCES[fmt]
    w = writer.format(src)
    for k, v in opts.items():
        w = w.option(k, v)
    return w


def _is_data_file(fn: str) -> bool:
    """Staged data files regardless of format (parquet/orc/csv/json
    part files); skips _SUCCESS, .crc and other hidden bookkeeping."""
    return not fn.startswith(("_", "."))


def _obs_count(obs, name: str = "__n") -> int:
    """Read an observed row count AFTER its write action completed.
    An EMPTY write whose plan repartitions before the sink can leave
    the observation unpopulated (the CollectMetrics result row comes
    back empty and toPyRow refuses it) — after a successful write that
    can only mean zero rows observed."""
    try:
        return int(obs.get[name] or 0)
    except KeyError:
        # empty CollectMetrics row → row.asDict() has no such key
        return 0
    except Exception as exc:  # noqa: BLE001 — filtered below
        msg = f"{type(exc).__name__}: {exc}"
        known = (
            "toPyRow",
            "NullPointerException",
            "empty iterator",
            "NO_OBSERVE_BEFORE_GET",
        )
        if any(tok in msg for tok in known):
            return 0
        raise


def parquet_row_count(path: str, spark=None) -> int:
    """Table row count from parquet FOOTER metadata only — no data
    scan (the same num_rows Hive's StatsTask reads; at 100 TB this is
    a metadata listing, not a query). With a SparkSession and more
    than DISTRIBUTED_COUNT_THRESHOLD files, the footer reads
    distribute as one Spark metadata-count job instead of a serial
    driver walk."""
    if os.path.isfile(path):
        return _pq.ParquetFile(path).metadata.num_rows
    files = [
        os.path.join(root, fn)
        for root, _dirs, fnames in os.walk(path)
        for fn in fnames
        if fn.endswith(".parquet")
    ]
    if spark is not None and len(files) > DISTRIBUTED_COUNT_THRESHOLD:
        return (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(path)
            .count()
        )
    return sum(_pq.ParquetFile(f).metadata.num_rows for f in files)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
    sort_within: list[str] | None = None,
) -> None:
    """Dynamic-partition write (FileSinkOperator DP path). At 100 TB,
    repartition by the partition cols first so each task writes few files
    (= Hive's SortedDynPartitionOptimizer, optimizer/Optimizer.java:128 —
    avoids the classic one-file-per-task-per-partition explosion)."""
    out = df.repartition(*partition_cols)
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    out.write.partitionBy(*partition_cols).format(fmt).mode(mode).save(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed (+sorted) table — StorageDescriptor bucketCols/sortCols
    parity (metastore/if/hive_metastore.thrift:285-286). Spark SMJ then
    joins two same-bucketed tables with NO shuffle (SMB join,
    exec/SMBMapJoinOperator.java:60). Pass ``path`` for an
    external-style table at an explicit location (keeps the session's
    warehouse dir out of the picture)."""
    writer = df.write.bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.format(fmt).mode(mode).saveAsTable(table)


def ensure_dir_table(target_path: str) -> None:
    """Promote a single-parquet-FILE table (the driver fixtures' layout)
    to a directory table in place, so append-style file moves have a
    directory to land in. No data is read or rewritten — one rename."""
    if not os.path.isfile(target_path):
        return
    tmp = f"{target_path}__file_{os.getpid()}"
    os.rename(target_path, tmp)
    os.makedirs(target_path)
    os.rename(tmp, os.path.join(target_path, "part-00000-promoted.parquet"))


@contextmanager
def _staging(target_path: str):
    """A fresh staging sibling of the target (``<table>__staging_<12
    hex>``) for one write. A write that raises removes its partial
    output before re-raising, so a failed statement leaves no staging
    directory behind; on success the caller moves the staged files."""
    import uuid

    staging = f"{target_path.rstrip('/')}__staging_{uuid.uuid4().hex[:12]}"
    try:
        yield staging
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise


def _swap_dirs(target_path: str, staging: str) -> None:
    """Replace target dir with staging dir via rename — the MoveTask
    pattern (reference exec/MoveTask.java: write to scratch, fs.rename
    into place). Local-FS implementation; on HDFS/object stores the same
    two renames go through the Hadoop FileSystem API. The target may be
    a single parquet FILE (the driver fixtures are) — same two renames,
    file-aware cleanup."""
    old = f"{target_path.rstrip('/')}__old"
    if os.path.isdir(old):
        shutil.rmtree(old)
    elif os.path.exists(old):
        os.remove(old)
    os.rename(target_path, old)
    os.rename(staging, target_path)
    if os.path.isdir(old):
        shutil.rmtree(old)
    else:
        os.remove(old)


def merge_upsert(
    spark,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
    delete_condition: Column | None = None,
) -> None:
    """MERGE INTO emulation: upsert ``updates`` into the parquet table at
    ``target_path`` (WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN
    INSERT, optional WHEN MATCHED AND cond THEN DELETE).

    A MERGE run through ``merge_apply``: a first WHEN MATCHED DELETE on
    ``delete_condition``, then an unconditional whole-row UPDATE and an
    all-column INSERT. Matched rows take the update side's columns
    WHOLLY (a NULL update column overwrites, matching Hive UPDATE SET c
    = NULL — not per-column coalesce), so ``delete_condition``,
    evaluated over the update row, sees the merged row values; it
    applies to MATCHED rows only (Hive WHEN MATCHED AND cond THEN DELETE
    never touches unmatched target rows) and, like any WHEN condition,
    deletes only where it is TRUE.

    Partitioned targets: the updates' distinct partition values
    (collected once, metadata-sized) are the touched set, so the target
    scan is pruned up front with no discovery scan. Partition-column
    rule (same as Hive UPDATE): for matched keys the update rows must
    carry the target row's partition values — a partition-moving upsert
    would need the OLD partition rewritten too, which this prune does
    not do (use delete + insert to move rows).
    """
    target = spark.read.parquet(target_path)
    touched = None
    if partition_cols:
        touched = [
            tuple(r)
            for r in updates.select(*partition_cols).distinct().collect()
        ]
    whole_row = {c: F.col(f"u.{c}") for c in target.columns}
    actions = [("update", whole_row, None)]
    if delete_condition is not None:
        updates = updates.withColumn("__delete", delete_condition)
        actions.insert(0, ("delete", None, F.col("u.__delete")))
    merge_apply(
        target, target_path, updates, "t", "u",
        [(k, k) for k in key_cols], actions, whole_row,
        partition_cols=partition_cols, touched=touched,
    )


def _staged_partition_rels(staging: str, depth: int) -> list[str]:
    """Relative ``col=value/...`` partition dirs present in a staging
    write, found by directory listing (metadata-only)."""
    rels: list[str] = []

    def walk(cur: str, rel_parts: list[str]) -> None:
        if len(rel_parts) == depth:
            rels.append(os.path.join(*rel_parts))
            return
        for entry in os.listdir(cur):
            full = os.path.join(cur, entry)
            if os.path.isdir(full) and "=" in entry:
                walk(full, rel_parts + [entry])

    walk(staging, [])
    return rels


#: characters Hive escapes in partition directory names
#: (FileUtils.charToEscape — Spark's ExternalCatalogUtils.escapePathName
#: is a copy, so escaped specs match what partitionBy() writes)
_PATH_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\\x7f{[]^')


def _escape_path_name(v: str) -> str:
    return "".join(
        f"%{ord(ch):02X}" if ch in _PATH_ESCAPE_CHARS or ord(ch) < 32
        else ch
        for ch in v
    )


def _unescape_path_name(v: str) -> str:
    import re

    return re.sub(
        r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), v
    )


#: the directory name of a NULL (or empty) partition value
#: (hive.exec.default.partition.name)
DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def partition_values(rel: str) -> dict[str, str | None]:
    """``col=value/...`` partition directory → {column: value}, the
    inverse of ``_partition_rel_dir``: each value unescaped, the
    default partition → None. Column names are lowercased (Hive's
    column names are case-insensitive)."""
    out: dict[str, str | None] = {}
    for seg in rel.split("/"):
        col, _, v = seg.partition("=")
        out[col.lower()] = (
            None if v == DEFAULT_PARTITION else _unescape_path_name(v)
        )
    return out


def _partition_rel_dir(partition_cols: list[str], values) -> str:
    """Relative partition directory for one partition-value tuple, using
    Hive's layout (col=value/...; NULL → __HIVE_DEFAULT_PARTITION__).
    Values are ESCAPED with the ExternalCatalogUtils charset — these
    rels are matched against directories partitionBy() staged, so a
    special-char value ('2020/01', 'a:b') must produce the same dir
    name Spark wrote, or the swap silently skips the partition."""
    parts = []
    for c, v in zip(partition_cols, values):
        # NULL *and* empty-string both land in the default partition
        # (ExternalCatalogUtils.getPartitionPathString, matching Hive's
        # hive.exec.default.partition.name behavior).
        sv = (
            DEFAULT_PARTITION
            if v is None or str(v) == ""
            else _escape_path_name(str(v))
        )
        parts.append(f"{c}={sv}")
    return os.path.join(*parts)


def _staged_rewrite(
    target_path: str,
    df: DataFrame,
    partition_cols: list[str] | None,
    touched: list[tuple] | None,
    partition_counts: dict | None = None,
    fmt: str = "parquet",
    written_rels: set | None = None,
) -> None:
    """Durably rewrite the table at ``target_path`` with ``df`` (whose
    lineage reads target_path): stage to a sibling dir first, so the
    source is never truncated while still being read — never
    cache-then-overwrite (Spark's cache is not durable; eviction or
    executor loss during the overwrite would recompute from the
    truncated source = silent data loss, and at 100 TB the staged data
    can't be fully cached anyway).

    Unpartitioned: whole-directory swap (one write + two renames — the
    MoveTask pattern, reference exec/MoveTask.java). Partitioned: swap
    only the TOUCHED partition directories — a touched partition whose
    staged result is empty (all rows deleted) is removed outright,
    which dynamic partition overwrite cannot express (no staged files →
    nothing to overwrite the stale dir with). ``touched`` lists the
    distinct partition tuples being rewritten, as Spark collected them
    (small: metadata-sized, not data)."""
    if not partition_cols:
        with _staging(target_path) as staging:
            _format_writer(df.write.mode("overwrite"), fmt).save(staging)
        _swap_dirs(target_path, staging)
        return
    with _staging(target_path) as staging:
        _format_writer(
            df.repartition(*partition_cols)
            .write.partitionBy(*partition_cols)
            .mode("overwrite"),
            fmt,
        ).save(staging)
    if touched is None:
        # Derive the touched set from what was actually staged — no
        # recompute of df's lineage (INSERT OVERWRITE path: the df IS
        # the new partition content, so staging's dirs are exact).
        rels = set(_staged_partition_rels(staging, len(partition_cols)))
    else:
        rels = {_partition_rel_dir(partition_cols, v) for v in touched}
    for rel in sorted(rels):
        tgt_dir = os.path.join(target_path, rel)
        stg_dir = os.path.join(staging, rel)
        shutil.rmtree(tgt_dir, ignore_errors=True)
        if written_rels is not None:
            written_rels.add(rel)
        if os.path.isdir(stg_dir):
            if partition_counts is not None and fmt == "parquet":
                # staged footers = this partition's NEW total
                # (overwrite replaces the dir wholesale)
                partition_counts[rel] = parquet_row_count(stg_dir)
            os.makedirs(os.path.dirname(tgt_dir), exist_ok=True)
            os.rename(stg_dir, tgt_dir)
    shutil.rmtree(staging)


# Above this many touched partitions the OR-of-ANDs literal predicate
# stops being worth compiling (and you're rewriting most of the table
# anyway) — fall back to the broadcast semi join.
_MAX_STATIC_PRUNE = 1000


def _partition_filter(
    partition_cols: list[str], values: list[tuple]
) -> Column | None:
    """Static OR-of-ANDs predicate over collected partition tuples.

    Compiled onto the rewrite scan it becomes a PartitionFilter — the
    scan READS only the touched partitions. The broadcast-semi-join form
    is value-identical but prunes nothing statically (measured:
    PartitionFilters [isnotnull] only), so at 100 TB a DELETE touching
    one day would scan the whole table. NULL partition values map to
    IS NULL (the __HIVE_DEFAULT_PARTITION__ directory)."""
    if not values or len(values) > _MAX_STATIC_PRUNE:
        return None
    pred = None
    for tup in values:
        clause = None
        for c, v in zip(partition_cols, tup):
            e = F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
            clause = e if clause is None else (clause & e)
        pred = clause if pred is None else (pred | clause)
    return pred


def _rewrite(
    target: DataFrame,
    target_path: str,
    partition_cols: list[str] | None,
    build: Callable[[DataFrame], DataFrame],
    touched: list[tuple] | None = None,
) -> int:
    """The staged-rewrite core behind DELETE, UPDATE and MERGE; returns
    the number of affected rows.

    ``target`` is the table's current frame, read by the caller
    (Engine.sql passes its overlay-, epoch- and empty-directory-aware
    read). ``build(frame)`` returns the rewritten rows over ``frame`` —
    the target's columns, in order — plus three boolean flags:
    ``__changed`` (updated, deleted or inserted: counted as affected,
    and its partition is rewritten), ``__keep`` (the row is written) and
    ``__matched`` (a MERGE target row joined by a source row).

    Partitioned targets rewrite only the touched partitions. Unless the
    caller supplies the ``touched`` partition tuples, ONE discovery job
    groups the changed-or-matched rows by partition, yielding the
    affected count and the touched set together. The prune set also
    covers matched-but-unchanged partitions: pruning a partition that
    holds a source row's match would reclassify that row as unmatched
    and spuriously INSERT it. The prune compiles to static
    PartitionFilters, so the rewrite scan READS only those partitions;
    above ``_MAX_STATIC_PRUNE`` partitions, or when matched-but-unchanged
    partitions were read, a broadcast semi join against the touched set
    selects the rows to stage.

    Without a discovery job (unpartitioned targets, or a supplied touched
    set) the count rides the write as one observed metric over the
    ``__changed`` flag. The flag is a plain column, so a subquery in the
    condition never sits inside the metric (Spark refuses IN/EXISTS
    subqueries in CollectMetrics) and no separate count job runs.
    """
    affected = None
    prune = touched
    if partition_cols and touched is None:
        stats = (
            build(target)
            .filter("__changed OR __matched")
            .groupBy(*partition_cols)
            .agg(F.sum(F.col("__changed").cast("long")).alias("__n"))
            .collect()
        )
        affected = sum(r["__n"] for r in stats)
        prune = [tuple(r[c] for c in partition_cols) for r in stats]
        touched = [v for v, r in zip(prune, stats) if r["__n"]]
    if partition_cols and not touched:
        return 0
    pred = _partition_filter(partition_cols, prune) if partition_cols else None
    rows = build(target if pred is None else target.filter(pred))
    if affected is None:
        obs = Observation()
        rows = rows.observe(
            obs, F.sum(F.col("__changed").cast("long")).alias("__n")
        )
    rows = rows.filter("__keep").drop("__changed", "__keep", "__matched")
    if partition_cols and (pred is None or len(prune) > len(touched)):
        touched_df = local_frame(
            target.sparkSession,
            touched,
            target.select(*partition_cols).schema,
        )
        rows = rows.join(F.broadcast(touched_df), partition_cols, "left_semi")
    _staged_rewrite(target_path, rows, partition_cols, touched)
    return affected if affected is not None else _obs_count(obs)


def _target_of(target, target_path: str) -> DataFrame:
    """The frame a rewrite reads: the table frame Engine.sql passes, or,
    for a standalone call with a SparkSession, ``target_path`` read as
    plain parquet."""
    if isinstance(target, DataFrame):
        return target
    return target.read.parquet(target_path)


def delete_where(
    target,
    target_path: str,
    condition: Column,
    partition_cols: list[str] | None = None,
) -> int:
    """Standalone ``DELETE FROM t WHERE cond`` over a parquet table;
    returns the number of deleted rows. ``target`` is the table's frame
    or a SparkSession (see ``_target_of``).

    Reference: parse/UpdateDeleteSemanticAnalyzer.java:80 compiles DELETE
    to an insert of surviving ROW__IDs into ACID delete deltas; log-less
    parquet instead rewrites survivors through ``_rewrite``. Rows where
    the condition is NULL survive (Hive/SQL WHERE semantics: only
    condition=TRUE deletes). Partitioned targets rewrite ONLY the
    partitions that actually contain deleted rows — at 100 TB a DELETE
    touching one day of data rewrites one partition, not the table.
    """

    def build(t: DataFrame) -> DataFrame:
        # __keep reads the __changed column: a subquery condition is
        # evaluated once per row, not once per flag
        return t.withColumn(
            "__changed", F.coalesce(condition, F.lit(False))
        ).withColumns(
            {"__keep": ~F.col("__changed"), "__matched": F.lit(False)}
        )

    return _rewrite(
        _target_of(target, target_path), target_path, partition_cols, build
    )


def update_where(
    target,
    target_path: str,
    set_exprs: dict[str, Column],
    condition: Column,
    partition_cols: list[str] | None = None,
) -> int:
    """Standalone ``UPDATE t SET c = expr, ... WHERE cond``; returns the
    number of updated rows. ``target`` is the table's frame or a
    SparkSession (see ``_target_of``).

    Reference: parse/UpdateDeleteSemanticAnalyzer.java:62 — UPDATE
    compiles to a rewrite of matched rows; partition columns may not be
    updated (same restriction as Hive: moving a row between partitions
    is a delete+insert, not an update). Rows where the condition is NULL
    are untouched. Partitioned targets rewrite only partitions
    containing matched rows.
    """
    if partition_cols:
        bad = sorted(set(set_exprs) & set(partition_cols))
        if bad:
            raise ValueError(
                f"cannot UPDATE partition column(s) {bad}: Hive forbids it "
                "(UpdateDeleteSemanticAnalyzer); use delete + insert instead"
            )

    def build(t: DataFrame) -> DataFrame:
        hit = F.col("__changed")  # the condition, evaluated once per row
        return t.withColumn(
            "__changed", F.coalesce(condition, F.lit(False))
        ).select(
            *[
                F.when(hit, set_exprs[c]).otherwise(F.col(c)).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in t.columns
            ],
            hit,
            F.lit(True).alias("__keep"),
            F.lit(False).alias("__matched"),
        )

    return _rewrite(
        _target_of(target, target_path), target_path, partition_cols, build
    )


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    n_files: int = 16,
    bits: int = 8,
    quantile: bool = False,
) -> None:
    """Z-order-clustered parquet write: multi-column data layout so
    range/point predicates on ANY of ``zorder_cols`` skip most files via
    parquet min/max footer stats.

    The reference's layout tool is single-key sorted tables
    (StorageDescriptor sortCols + SortedDynPartitionOptimizer,
    optimizer/Optimizer.java:128), which skips on one column only. For a
    100 TB lakehouse table queried on several columns, interleaving the
    columns' bucket bits (Morton/Z curve) bounds every column's value
    range within each file — a contiguous z-range of fraction p spans
    ~p^(1/k) of each of the k dimensions, so each file's min/max covers a
    narrow slice of every z-ordered column and the scan planner skips
    files for predicates on any of them.

    Plan shape: per-column uniform bucketing (width_bucket over the
    min/max collected as one tiny driver scalar row), a pure-JVM bitwise
    fold building the z-value (codegen-friendly shiftleft/and — no UDF),
    repartitionByRange(n_files) on z (one range-sampling pass + one
    shuffle), sortWithinPartitions, write.

    ``quantile=True`` switches bucketing to approxQuantile cut points
    (Greenwald-Khanna sketch — one extra pass, cut arrays of 2^bits-1
    doubles on the driver): buckets then hold ~equal ROW counts, so a
    heavy-tailed column still spreads across all bucket codes instead of
    collapsing into bucket 0 and losing its interleave bits. The bucket
    lookup is a rank-against-literal-array fold (HOF over ≤255 literals —
    interpreted, but this is a one-time write-side cost). Uniform
    (default) costs one agg and is right for roughly-uniform columns.
    """
    k = len(zorder_cols)
    nb = 2**bits
    buckets: dict[str, Column] = {}
    if quantile:
        probs = [i / nb for i in range(1, nb)]
        for c in zorder_cols:
            cuts = (
                df.select(F.col(c).cast("double").alias(c))
                .stat.approxQuantile(c, probs, 0.01)
            )
            arr = F.array(*[F.lit(float(x)) for x in cuts])

            def _le(col_name):  # closure factory (HOF default-arg gotcha)
                return lambda x: x <= F.col(col_name).cast("double")

            buckets[c] = F.size(F.filter(arr, _le(c))).cast("long")
    else:
        aggs = []
        for c in zorder_cols:
            aggs += [F.min(F.col(c).cast("double")).alias(f"__lo_{c}"),
                     F.max(F.col(c).cast("double")).alias(f"__hi_{c}")]
        row = df.agg(*aggs).collect()[0]
        for c in zorder_cols:
            lo, hi = row[f"__lo_{c}"], row[f"__hi_{c}"]
            if hi is None or lo is None or hi <= lo:
                buckets[c] = F.lit(0).cast("long")
            else:
                b = (
                    F.width_bucket(
                        F.col(c).cast("double"), F.lit(lo), F.lit(hi), nb
                    )
                    - 1
                )
                buckets[c] = (
                    F.least(F.greatest(b, F.lit(0)), F.lit(nb - 1))
                    .cast("long")
                )

    z = F.lit(0)
    for j, c in enumerate(zorder_cols):
        b = buckets[c]
        for i in range(bits):
            z = z + F.shiftleft(
                F.shiftright(b, i).bitwiseAND(F.lit(1)), i * k + j
            )

    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def insert_rows(
    target_path: str,
    df: DataFrame,
    partition_cols: list[str] | None = None,
    overwrite: bool = False,
    static_partition_values: list[tuple] | None = None,
    partition_counts: dict | None = None,
    fmt: str = "parquet",
    written_rels: set | None = None,
) -> int:
    """Execute ``INSERT INTO`` / ``INSERT OVERWRITE`` against the parquet
    table at ``target_path``; returns the number of rows written.

    Reference: INSERT compiles through parse/SemanticAnalyzer.java's
    genFileSinkPlan onto a scratch directory that exec/MoveTask.java then
    moves into the table/partition location. Same shape here: the rows are
    always STAGED to a sibling directory first (so ``INSERT ... SELECT
    FROM <the same table>`` never truncates its own input mid-read), then

    - INTO: staged files are moved into the target (per partition dir for
      partitioned tables) — an append is purely file moves, no rewrite of
      existing data;
    - OVERWRITE, partitioned: exactly the partitions present in ``df``
      are swapped (Hive nonstrict dynamic-partition overwrite), derived
      from the staging listing — untouched partitions are never read or
      written;
    - OVERWRITE, unpartitioned: whole-directory swap (MoveTask pattern).

    The inserted-row count rides the staging write as an observed metric
    (df.observe) — no separate count job. When ``partition_counts`` is a
    dict and the table is partitioned, it is filled with the PER-
    PARTITION staged row counts (``rel dir → rows in this write``) read
    from the staged parquet FOOTERS before the move — metadata-only,
    proportional to the files WRITTEN, never to the table. This is the
    engine's version of Hive's per-partition FileSink counters
    (StatsTask aggregates one row of counters per written partition).
    """
    if fmt == "avro":
        # jar-less avro tables write through the pure-python container
        # codec (one file per partition, from the executors). Staged
        # like every other write; appended files get a fresh uuid name
        # so they can never collide with existing parts.
        import uuid

        from hive_2_3_2_spark.sources.avro_py import write_avro_py

        if partition_cols:
            raise ValueError(
                "avro_py tables are unpartitioned by design "
                "(per-partition avro descriptors are out of the "
                "mixed-format matrix)"
            )
        with _staging(target_path) as staging:
            n = write_avro_py(df, staging)
        if overwrite:
            _swap_dirs(target_path, staging)
        else:
            ensure_dir_table(target_path)
            for fn in os.listdir(staging):
                if _is_data_file(fn):
                    os.rename(
                        os.path.join(staging, fn),
                        os.path.join(
                            target_path,
                            f"part-{uuid.uuid4().hex}.avro",
                        ),
                    )
            shutil.rmtree(staging)
        return n

    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("__n"))
    if overwrite:
        # With a fully static PARTITION spec the named partition is the
        # swap set even when the query returns zero rows — Hive clears
        # the target partition regardless (an empty staging listing
        # alone would leave it intact). Dynamic overwrite keeps the
        # staged-listing-derived swap set (touched=None).
        _staged_rewrite(
            target_path, df, partition_cols or None,
            static_partition_values or None,
            partition_counts=partition_counts,
            fmt=fmt, written_rels=written_rels,
        )
        return _obs_count(obs)
    with _staging(target_path) as staging:
        if partition_cols:
            writer = df.repartition(*partition_cols).write.partitionBy(
                *partition_cols
            )
        else:
            writer = df.write
        _format_writer(writer.mode("overwrite"), fmt).save(staging)
    if partition_cols:
        staged = _staged_partition_rels(staging, len(partition_cols))
        if written_rels is not None:
            written_rels.update(staged)
        if partition_counts is not None and fmt == "parquet":
            for rel in staged:
                partition_counts[rel] = parquet_row_count(
                    os.path.join(staging, rel)
                )
    # Move staged data files into place; staged file names embed a
    # task/job UUID so collisions with existing files are impossible.
    ensure_dir_table(target_path)
    for root, _dirs, files in os.walk(staging):
        rel = os.path.relpath(root, staging)
        dst_dir = target_path if rel == "." else os.path.join(target_path, rel)
        for fn in files:
            if _is_data_file(fn):
                os.makedirs(dst_dir, exist_ok=True)
                os.rename(os.path.join(root, fn), os.path.join(dst_dir, fn))
    shutil.rmtree(staging)
    return _obs_count(obs)


def merge_apply(
    target: DataFrame,
    target_path: str,
    source: DataFrame,
    target_alias: str,
    source_alias: str,
    key_pairs: list[tuple[str, str]],
    matched_actions: list[
        tuple[str, dict[str, Column] | None, Column | None]
    ] | None,
    insert_values: dict[str, Column] | None,
    insert_condition: Column | None = None,
    partition_cols: list[str] | None = None,
    touched: list[tuple] | None = None,
) -> int:
    """Execute a MERGE statement (up to two WHEN MATCHED clauses plus
    one WHEN NOT MATCHED) over ``target``, the table's current frame;
    returns the number of affected rows (updated + deleted + inserted).

    Reference: parse/UpdateDeleteSemanticAnalyzer.java:86 rewrites MERGE
    INTO onto a right-outer-join insert over ACID deltas; the log-less
    parquet form is ONE full-outer join target↔source on the key pairs,
    with each target row resolved per clause:

    - matched + UPDATE condition  → assignments evaluated over the joined
      scope (``t.col``/``s.col`` both visible), non-assigned columns keep
      target values; partition columns may not be assigned (Hive rule);
    - matched + DELETE condition  → row dropped;
    - source-only + INSERT        → the VALUES/positional expressions,
      unnamed target columns NULL;
    - everything else             → target row unchanged.

    ``matched_actions`` is an ordered list of
    ``("update", {col: expr}, cond)`` / ``("delete", None, cond)`` —
    Hive allows at most two (one UPDATE + one DELETE, and with two the
    FIRST must carry a condition: UpdateDeleteSemanticAnalyzer.java:86).
    Clause order is first-match-wins: a matched row is claimed by the
    first clause whose condition holds; later clauses see only
    still-unclaimed rows (Hive's WHEN cascade).

    The rewrite runs through ``_rewrite``: matched-changed rows keep
    their target partition values and inserted rows contribute their
    INSERT partition values to the touched set. ``touched`` supplies
    that set up front (``merge_upsert``: the updates' partitions) in
    place of the discovery job.
    """
    fields = {f.name: f.dataType for f in target.schema.fields}
    cols = target.columns

    def build(tgt: DataFrame) -> DataFrame:
        # Synthetic presence markers, not key isNotNull: a NULL-key
        # source row never joins, but Hive classifies it NOT MATCHED and
        # routes it through the INSERT clause — key isNotNull would
        # leave it "neither matched nor source-only" and keep it as an
        # all-NULL phantom target row.
        t = tgt.withColumn("__t_present", F.lit(True)).alias(target_alias)
        s = source.withColumn("__s_present", F.lit(True)).alias(source_alias)
        join_cond = None
        for tc, sc in key_pairs:
            eq = F.col(f"{target_alias}.{tc}") == F.col(f"{source_alias}.{sc}")
            join_cond = eq if join_cond is None else (join_cond & eq)
        joined = t.join(s, join_cond, "full_outer")
        t_present = F.coalesce(
            F.col(f"{target_alias}.__t_present"), F.lit(False)
        )
        s_present = F.coalesce(
            F.col(f"{source_alias}.__s_present"), F.lit(False)
        )
        matched = t_present & s_present
        s_only = ~t_present & s_present

        upd_cond = F.lit(False)
        del_cond = F.lit(False)
        upd_set: dict[str, Column] = {}
        claimed = F.lit(False)
        for kind, sets, cond in matched_actions or []:
            branch = matched & ~claimed
            if cond is not None:
                branch = branch & F.coalesce(cond, F.lit(False))
            if kind == "update":
                upd_cond, upd_set = branch, dict(sets or {})
            else:
                del_cond = branch
            claimed = claimed | branch
        ins_cond = F.lit(False)
        if insert_values is not None:
            ins_cond = s_only if insert_condition is None else (
                s_only & F.coalesce(insert_condition, F.lit(False))
            )

        out = []
        for c in cols:
            expr = F.col(f"{target_alias}.{c}")
            if c in upd_set:
                expr = F.when(
                    upd_cond, upd_set[c].cast(fields[c])
                ).otherwise(expr)
            if insert_values is not None:
                ins_e = insert_values.get(c, F.lit(None))
                expr = F.when(ins_cond, ins_e.cast(fields[c])).otherwise(expr)
            out.append(expr.alias(c))
        return joined.select(
            *out,
            (upd_cond | del_cond | ins_cond).alias("__changed"),
            (~del_cond & ~(s_only & ~ins_cond)).alias("__keep"),
            matched.alias("__matched"),
        )

    return _rewrite(target, target_path, partition_cols, build, touched)
