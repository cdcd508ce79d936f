"""MatchPath — row-sequence pattern matching over partitions.

Reference: ql/src/java/org/apache/hadoop/hive/ql/udf/ptf/MatchPath.java
(registered as MATCH_PATH_TABLE_FUNCTION, FunctionRegistry.java:521) — a
PTF that matches a symbol-pattern (regex over row predicates) against the
ordered rows of each partition and emits one row per match, ≈ a restricted
MATCH_RECOGNIZE.

Spark has no native equivalent (SURVEY §2.6) → applyInPandas: partitions
arrive as ordered pandas frames (Arrow batches); the symbol regex runs on
a per-row symbol string. Partition sizes bound memory — same constraint
as Hive's PTFPartition spill container (exec/persistence/PTFRowContainer).
"""

from __future__ import annotations

import re
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def match_path(
    df: DataFrame,
    partition_col: str,
    order_col: str | list[str],
    symbols: dict[str, Callable[[pd.DataFrame], pd.Series]],
    pattern: str,
    result_cols: list[str],
    all_starts: bool = False,
) -> DataFrame:
    """Match ``pattern`` (regex over single-char symbol names) against each
    partition's ordered rows; emit the first row of each match plus
    match_start/match_end/match_len.

    symbols: single-char symbol → vectorized predicate over the partition
    frame (pandas). Example (MatchPath.java's flight example)::

        match_path(df, "userid", "ts",
                   {"L": lambda p: p["lateness"] > 60,
                    "O": lambda p: p["lateness"] <= 60},
                   pattern="LO*L",
                   result_cols=["userid", "ts"])
    """
    for s in symbols:
        if len(s) != 1:
            raise ValueError(f"symbols must be single chars, got {s!r}")
    rx = re.compile(pattern)
    out_fields = [df.schema[c] for c in result_cols]
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        list(out_fields)
        + [
            StructField("match_start", LongType()),
            StructField("match_end", LongType()),
            StructField("match_len", LongType()),
        ]
    )

    col_names = [f.name for f in schema.fields]

    def run_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # rows arrive (key, order)-sorted from sortWithinPartitions
        pdf = pdf.reset_index(drop=True)
        # per-row symbol string: first symbol whose predicate is true
        sym = pd.Series([""] * len(pdf))
        assigned = pd.Series([False] * len(pdf))
        for s, pred in symbols.items():
            hit = pred(pdf).fillna(False).astype(bool) & ~assigned
            sym[hit] = s
            assigned |= hit
        seq = "".join(sym.replace("", ".").tolist())
        rows = []
        if all_starts:
            # Hive MatchPath semantics (udf/ptf/MatchPath.java): attempt
            # an ANCHORED match at EVERY row — overlapping suffixes of a
            # streak each emit their own (shorter) path, exactly the
            # ptf_matchpath.q golden's sz sequence 6,5,4,...
            for pos in range(len(seq)):
                m = rx.match(seq, pos)
                if m and m.end() > m.start():
                    first = pdf.iloc[pos]
                    rows.append(
                        [first[c] for c in result_cols]
                        + [pos, m.end() - 1, m.end() - pos]
                    )
            return pd.DataFrame(rows, columns=col_names)
        pos = 0
        while pos < len(seq):
            m = rx.search(seq, pos)
            if not m or m.start() == m.end():
                break
            first = pdf.iloc[m.start()]
            rows.append(
                [first[c] for c in result_cols]
                + [m.start(), m.end() - 1, m.end() - m.start()]
            )
            pos = m.end()
        return pd.DataFrame(rows, columns=col_names)

    def run_partition(batches):
        # One Python call per ARROW BATCH, not per group: partitions are
        # hash-distributed by key and sorted by (key, order), so each
        # group is a contiguous row run. The trailing group of a batch
        # may continue in the next batch — carry it forward and process
        # it once its run ends (applyInPandas would instead pay the
        # worker round-trip per tiny group; measured ~2× on per-user
        # sessions).
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            last_key = pdf[partition_col].iloc[-1]
            tail = pdf[partition_col] == last_key
            carry = pdf[tail].reset_index(drop=True)
            head = pdf[~tail]
            if len(head):
                out = head.groupby(
                    partition_col, sort=False, group_keys=False
                ).apply(run_group)
                if len(out):
                    yield out.reset_index(drop=True)
        if carry is not None and len(carry):
            out = run_group(carry)
            if len(out):
                yield out

    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    rep = df.repartition(F.col(partition_col)).sortWithinPartitions(
        partition_col, *order_cols
    )
    return rep.mapInPandas(run_partition, schema)
