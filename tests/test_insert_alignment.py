"""An INSERT maps its SELECT onto the target the same way whether the
target is a path-backed table (``Engine.register_table``) or a
session-catalog table (``CREATE TABLE … STORED AS``): Hive's one rule
(SemanticAnalyzer's INSERT analysis, HIVE-9481's insert-schema check).

- Column names match case-insensitively.
- A PARTITION spec names every partition column, statically or
  dynamically.
- A column list names data columns and dynamic partition columns, each
  at most once; the columns it leaves out are NULL.
- ``WITH … INSERT`` folds the CTE into the INSERT on both sinks.

Each statement runs against both sinks, each seeded with the same row,
and must give the same rows or the same typed error on both.
"""

from __future__ import annotations

import uuid

import pytest

from hive_2_3_2_spark.engine import Engine, HiveQLUnsupportedError

#: table -> (column DDL, partition DDL, partition columns, seed row)
TABLES = {
    "t": ("k INT, v STRING", "", [], (0, "seed")),
    "tp": ("k INT, v STRING", "p STRING", ["p"], (0, "seed", "z")),
    "tp2": ("k INT", "a STRING, b STRING", ["a", "b"], (0, "z", "z")),
}


def _schema(table: str) -> str:
    cols, part, _parts, _seed = TABLES[table]
    return f"{cols}, {part}" if part else cols


@pytest.fixture()
def sinks(spark, tmp_path):
    """Builds one table on both sinks: ``make(table)`` returns
    {"path": name, "catalog": name}, each seeded with the table's row."""
    eng = Engine(spark=spark)
    made = []

    def make(table):
        cols, part, parts, seed = TABLES[table]
        tag = uuid.uuid4().hex[:8]
        names = {
            "path": f"{table}_path_{tag}", "catalog": f"{table}_cat_{tag}"
        }
        writer = spark.createDataFrame([seed], _schema(table)).write
        path = str(tmp_path / names["path"])
        (writer.partitionBy(*parts) if parts else writer).parquet(path)
        eng.register_table(names["path"], path, parts or None)
        eng.sql(
            f"CREATE TABLE {names['catalog']} ({cols}) "
            + (f"PARTITIONED BY ({part}) " if part else "")
            + "STORED AS PARQUET"
        )
        made.append(names["catalog"])
        spark.createDataFrame([seed], _schema(table)).write.insertInto(
            names["catalog"]
        )
        return names

    yield eng, make
    for name in made:
        eng.sql(f"DROP TABLE {name}")


def _outcome(eng, stmt, name, table):
    """Sorted rows of ``name`` after ``stmt``, or the typed error's
    message with the sink-specific ``name`` replaced by ``table``."""
    try:
        eng.sql(stmt.format(**{table: name})).collect()
    except HiveQLUnsupportedError as exc:
        return "error", str(exc).replace(name, table)
    frame = eng.sql(f"SELECT * FROM {name}")
    return "rows", sorted(tuple(r) for r in frame.collect())


CASES = [
    (
        "INSERT INTO {t} (K, V) SELECT 1, 'a'",
        "t",
        ("rows", [(0, "seed"), (1, "a")]),
    ),
    (
        "INSERT INTO {tp} PARTITION (P='x') (K, V) SELECT 1, 'a'",
        "tp",
        ("rows", [(0, "seed", "z"), (1, "a", "x")]),
    ),
    (
        "INSERT INTO {tp} PARTITION (p) (k, p) SELECT 1, 'x'",
        "tp",
        ("rows", [(0, "seed", "z"), (1, None, "x")]),
    ),
    (
        "INSERT INTO {tp2} PARTITION (a='x') SELECT 1, 'y'",
        "tp2",
        ("error", "Value for key b is null or empty"),
    ),
    (
        "INSERT INTO {t} (k, k) SELECT 1, 2",
        "t",
        ("error", "Duplicate column name detected in t table schema"),
    ),
    (
        "WITH c AS (SELECT '8' AS k, 'b' AS v) "
        "INSERT INTO {t} SELECT * FROM c",
        "t",
        ("rows", [(0, "seed"), (8, "b")]),
    ),
]


@pytest.mark.parametrize(
    "stmt, table, expected",
    CASES,
    ids=[
        "column_list_case", "static_spec_and_column_list_case",
        "column_list_names_dynamic_partition", "partial_static_spec",
        "duplicate_column_list", "with_insert_store_cast",
    ],
)
def test_both_sinks_give_the_same_answer(sinks, stmt, table, expected):
    eng, make = sinks
    got = {
        sink: _outcome(eng, stmt, name, table)
        for sink, name in make(table).items()
    }
    kind, value = expected
    for sink, (got_kind, got_value) in got.items():
        assert got_kind == kind, (sink, got_value)
        if kind == "rows":
            assert got_value == value, sink
        else:
            assert value in got_value, (sink, got_value)
    assert got["path"] == got["catalog"]
