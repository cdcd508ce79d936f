"""Regression pins for the round-9 ADVICE items.

1. medium — the temp-table shadow snapshot carries schema_epochs: a
   temp table shadowing a permanent table with pending conversion
   epochs can neither apply them to its own files nor drop the
   bookkeeping; DROP restores them and old-schema files still convert.
2. low — _strip_temp_db_quals anchors the db qualifier at the START of
   the dotted chain (lookbehind), so spark_catalog.default.t is not
   mangled to spark_catalog.t.
3. low — _obs_count only maps the known empty-CollectMetrics shapes to
   zero; unrecognized exceptions re-raise.
4. low — serde metadata recorded on CATALOG tables is observable via
   SHOW TBLPROPERTIES (merged view), and a cross-physical-format serde
   flip (OrcSerde on a parquet table) is a typed error instead of a
   silently-inert descriptor.
5. low — register_table keeps the table's old path and partition
   columns when the read fails, so a failed registration leaves consistent state.
"""

from __future__ import annotations

import os

import pytest

from hive_2_3_2_spark.engine import Engine, HiveQLUnsupportedError, TableDesc


@pytest.fixture()
def eng(spark, tmp_path):
    eng = Engine(spark=spark)
    p = os.path.join(str(tmp_path), "base")
    spark.createDataFrame(
        [("238", "val_238"), ("86", "val_86")], "key string, value string"
    ).coalesce(1).write.parquet(p)
    eng.register_table("base", p)
    return eng


def test_temp_table_shadow_preserves_schema_epochs(eng, spark):
    """ADVICE #1 (medium): permanent table gets a type-converting
    ALTER (string→int epoch), then a temp table shadows it, is read,
    ALTERed, and dropped — the permanent table's epoch conversion must
    still serve old files as ints (not silently re-read strings under
    the declared int schema)."""
    eng.sql(
        "set hive.metastore.disallow.incompatible.col.type.changes=false"
    )
    eng.sql("alter table base change key key int")
    assert eng.metastore["base"].epochs
    before = sorted(
        (r.key, r.value) for r in eng.sql("select * from base").collect()
    )
    assert before == [(86, "val_86"), (238, "val_238")]
    # shadow it; the temp table has its own files and schema
    eng.sql(
        "create temporary table base as select 1 as key, 'x' as value"
    )
    # the epochs stay with the hidden record, not the temp table's
    assert eng.metastore["base"].epochs == []
    assert eng.metastore["base"].shadowed.epochs
    assert [tuple(r) for r in eng.sql("select * from base").collect()] \
        == [(1, "x")]
    # an ALTER on the TEMP table must not touch the shadowed epochs
    eng.sql("alter table base add columns (extra string)")
    eng.sql("drop table base")
    assert eng.metastore["base"].epochs
    after = sorted(
        (r.key, r.value) for r in eng.sql("select * from base").collect()
    )
    assert after == before


def test_strip_temp_db_quals_leaves_longer_chains_alone(eng):
    """ADVICE #2: a temp table declared in db 'default' must not
    rewrite the 'default.t' TAIL of spark_catalog.default.t."""
    eng.metastore["t"] = TableDesc(temp_db="default")
    out = eng._strip_temp_db_quals("select * from spark_catalog.default.t")
    assert out == "select * from spark_catalog.default.t"
    assert eng._strip_temp_db_quals("select * from default.t") \
        == "select * from t"
    assert eng._strip_temp_db_quals("select 'default.t' from default.t") \
        == "select 'default.t' from t"


def test_obs_count_reraises_unknown_errors():
    """ADVICE #3: the empty-CollectMetrics shapes map to zero; an
    arbitrary failure propagates instead of reading as '0 rows'."""
    from hive_2_3_2_spark.sources.writers import _obs_count

    class _Empty:
        @property
        def get(self):
            raise RuntimeError(
                "java.lang.NullPointerException ... toPyRow"
            )

    class _Missing:
        @property
        def get(self):
            return {}  # empty row dict → KeyError on the metric name

    class _Broken:
        @property
        def get(self):
            raise RuntimeError("connection reset by peer")

    assert _obs_count(_Empty()) == 0
    assert _obs_count(_Missing()) == 0
    with pytest.raises(RuntimeError, match="connection reset"):
        _obs_count(_Broken())


def test_catalog_serde_props_observable_and_cross_format_refused(
    eng, spark
):
    """ADVICE #4: SET SERDE on a catalog table surfaces through SHOW
    TBLPROPERTIES (merged with Spark's own props), and OrcSerde on a
    parquet catalog table is a typed error."""
    spark.sql("DROP TABLE IF EXISTS serde_adv10")
    try:
        eng.sql("create table serde_adv10 (a int) stored as parquet")
        with pytest.raises(
            HiveQLUnsupportedError, match="physical format is parquet"
        ):
            eng.sql(
                "alter table serde_adv10 set serde "
                "'org.apache.hadoop.hive.ql.io.orc.OrcSerde'"
            )
        eng.sql(
            "alter table serde_adv10 set serde "
            "'org.apache.hadoop.hive.ql.io.parquet.serde."
            "ParquetHiveSerDe' with serdeproperties ('k1'='v1')"
        )
        props = {
            r.key: r.value
            for r in eng.sql("show tblproperties serde_adv10").collect()
        }
        assert props["serialization.lib"].endswith("ParquetHiveSerDe")
        assert props["serde.k1"] == "v1"
    finally:
        spark.sql("DROP TABLE IF EXISTS serde_adv10")


def test_register_table_rolls_back_metadata_on_bad_path(eng, tmp_path):
    """ADVICE #5: a failed re-registration (unreadable path) must not
    leave the record pointing at the new path while the old frame
    still serves."""
    good = eng.metastore["base"].path
    bad = os.path.join(str(tmp_path), "definitely-not-there")
    with pytest.raises(Exception):
        eng.register_table("base", bad)
    assert eng.metastore["base"].path == good
    assert eng.metastore["base"].partition_cols == []
    # and a never-registered name leaves no metadata behind
    with pytest.raises(Exception):
        eng.register_table("ghost", bad, ["dt"])
    assert "ghost" not in eng.metastore


def test_groupby_integer_literal_is_constant_like_hive(spark):
    """Hive 2.3's default hive.groupby.orderby.position.alias=false
    (HiveConf.java) makes an integer literal in GROUP BY a CONSTANT:
    ``select count(1) from t group by 1`` = one global bucket, and
    ``select a, count(*) ... group by 1`` is Hive's not-grouped
    SemanticException (r11 completes the r10 partial fix — with the
    conf OFF the constant interpretation now applies everywhere, not
    just where Spark's ordinal reading happened to error; the full
    matrix lives in tests/test_qfile_groupby_position.py)."""
    eng = Engine(spark=spark)
    spark.createDataFrame(
        [(i % 3,) for i in range(9)], "a int"
    ).createOrReplaceTempView("gbyord_t")
    assert eng.sql(
        "select count(1) from gbyord_t group by 1"
    ).collect()[0][0] == 9
    with pytest.raises(Exception, match="MISSING_AGGREGATION"):
        eng.sql(
            "select a, count(*) c from gbyord_t group by 1"
        ).collect()
    # with the conf SET, positions are Hive's alias-on ordinals
    eng.sql("set hive.groupby.orderby.position.alias=true")
    rows = sorted(
        tuple(r) for r in eng.sql(
            "select a, count(*) c from gbyord_t group by 1"
        ).collect()
    )
    assert rows == [(0, 3), (1, 3), (2, 3)]
    eng.sql("set hive.groupby.orderby.position.alias=false")
