"""Every ``PARTITION (...)`` clause goes through one codec:
``_parse_partition_spec`` splits the text, ``Engine._resolve_partition_spec``
maps each name to its declared column and evaluates each literal as
``CAST(CAST(<lit> AS <col type>) AS STRING)``, and
``sources.writers.partition_values`` decodes a ``col=value/...``
directory. A spec value therefore names the same partition in every
statement: quoted with either quote char, holding a backslash escape, a
comma or a path-escaped character, or written as a non-canonical number
for an ``int`` column.

Each case below is one statement that answered differently from Hive
while these statements kept their own spec parsers.
"""

from __future__ import annotations

import pytest

from hive_2_3_2_spark.engine import Engine, HiveQLUnsupportedError
from hive_2_3_2_spark.sources.writers import partition_values


@pytest.fixture()
def eng(spark, tmp_path):
    """``t`` (k int) partitioned by ``ds string`` with partitions
    ``a:b``, ``it's``, ``c,d`` (2 rows) and ``y2008``; ``n`` (k int)
    partitioned by ``p int`` with partitions 1 and 2; ``src`` (k int),
    one row."""
    spark.createDataFrame(
        [(1, "a:b"), (2, "it's"), (3, "c,d"), (4, "c,d"), (5, "y2008")],
        "k int, ds string",
    ).write.partitionBy("ds").parquet(str(tmp_path / "t"))
    spark.createDataFrame([(1, 1), (2, 2)], "k int, p int").write.partitionBy(
        "p"
    ).parquet(str(tmp_path / "n"))
    spark.createDataFrame([(9,)], "k int").write.parquet(str(tmp_path / "src"))
    e = Engine(spark=spark)
    e.register_table("t", str(tmp_path / "t"), ["ds"])
    e.register_table("n", str(tmp_path / "n"), ["p"])
    e.register_table("src", str(tmp_path / "src"))
    return e


def _rows(eng, sql):
    return sorted(tuple(r) for r in eng.sql(sql).collect())


def _show_colon(eng, tmp_path):
    got = _rows(eng, "SHOW PARTITIONS t PARTITION (ds='a:b')")
    assert got == [("ds=a%3Ab",)]


def _show_backslash_quote(eng, tmp_path):
    got = _rows(eng, r"SHOW PARTITIONS t PARTITION (ds='it\'s')")
    assert got == [("ds=it%27s",)]


def _analyze_comma(eng, tmp_path):
    got = _rows(eng, "ANALYZE TABLE t PARTITION (ds='c,d') COMPUTE STATISTICS")
    assert [(rel, n) for rel, n, _size in got] == [("ds=c,d", 2)]


def _insert_if_not_exists_comma(eng, tmp_path):
    eng.sql(
        "INSERT OVERWRITE TABLE t PARTITION (ds='c,d') IF NOT EXISTS "
        "SELECT k FROM src"
    ).collect()
    assert _rows(eng, "SELECT k FROM t WHERE ds = 'c,d'") == [(3,), (4,)]


def _load_percent(eng, tmp_path):
    src = str(tmp_path / "load_src")
    eng.spark.createDataFrame([(7,)], "k int").write.parquet(src)
    eng.sql(
        f"LOAD DATA INPATH '{src}' INTO TABLE t PARTITION (ds='p%41q')"
    ).collect()
    assert _rows(eng, "SELECT ds FROM t WHERE k = 7") == [("p%41q",)]


def _describe_double_quoted(eng, tmp_path):
    got = eng.sql('DESCRIBE t PARTITION (ds="y2008")').collect()
    assert [r.col_name for r in got] == ["k", "ds"]


def _drop_backslash_quote(eng, tmp_path):
    eng.sql(r"ALTER TABLE t DROP PARTITION (ds='it\'s')").collect()
    assert _rows(eng, "SELECT k FROM t WHERE ds = \"it's\"") == []


def _drop_int_leading_zero(eng, tmp_path):
    eng.sql("ALTER TABLE n DROP PARTITION (p=01)").collect()
    assert _rows(eng, "SELECT k, p FROM n") == [(2, 2)]


@pytest.mark.parametrize(
    "case",
    [
        _show_colon,
        _show_backslash_quote,
        _analyze_comma,
        _insert_if_not_exists_comma,
        _load_percent,
        _describe_double_quoted,
        _drop_backslash_quote,
        _drop_int_leading_zero,
    ],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_partition_spec_names_hives_partition(eng, tmp_path, case):
    case(eng, tmp_path)


def test_value_that_fails_its_column_type_is_typed(eng, tmp_path):
    """Hive's partition-spec type check: a non-NULL value the cast to
    the column type turns into NULL names no partition."""
    with pytest.raises(HiveQLUnsupportedError, match="cannot be converted"):
        eng.sql("ALTER TABLE n ADD PARTITION (p='abc')")
    assert not (tmp_path / "n" / "p=__HIVE_DEFAULT_PARTITION__").exists()


def test_partition_values_decodes_a_directory():
    assert partition_values("ds=a%3Ab/hr=__HIVE_DEFAULT_PARTITION__") == {
        "ds": "a:b",
        "hr": None,
    }
