"""clientpositive create_with_constraints.q replay, round 9
(reference: ql/src/test/queries/clientpositive/
create_with_constraints.q; parse/HiveParser.g
columnNameTypeOrPKOrFK + DDLSemanticAnalyzer
analyzeAlterTableAddConstraint; metastore KEY_CONSTRAINTS).

Hive 2.x constraints are INFORMATIONAL: declared DISABLE NOVALIDATE
[RELY|NORELY], never enforced, surfaced by DESCRIBE
EXTENDED/FORMATTED and managed by ALTER TABLE ADD/DROP CONSTRAINT.
ENABLE / VALIDATE are 'not supported yet' typed errors
(ErrorMsg.INVALID_CSTR_SYNTAX). The engine records them beside the
table registration — Spark's grammar has no constraint clause, so
they are stripped from the DDL before Catalyst sees it."""

from __future__ import annotations

import pytest

from hive_2_3_2_spark.engine import Engine, HiveQLUnsupportedError

TABLES = ("cns1", "cns2", "cns3", "cns9", "cns10", "cnsbad")


@pytest.fixture()
def eng(spark):
    e = Engine(spark=spark)
    for t in TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    yield e
    for t in TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _constraint_lines(eng, table):
    rows = eng.sql(f"describe extended {table}").collect()
    keep = False
    out = []
    for r in rows:
        if (r.col_name or "") == "Constraints":
            keep = True
        if keep and (r.data_type or "").strip():
            out.append(r.data_type)
    return out


def test_q_create_with_pk_variants(eng):
    """tables 1/2/7/8/9: unnamed and named PKs, RELY/NORELY, composite
    keys — recorded and described."""
    eng.sql("CREATE TABLE cns1 (a STRING, b STRING, "
            "primary key (a) disable novalidate)")
    eng.sql("CREATE TABLE cns2 (a STRING, b STRING, "
            "constraint pk1 primary key (a) disable novalidate)")
    eng.sql("CREATE TABLE cns9 (a STRING, b STRING, "
            "primary key (a, b) disable novalidate rely)")
    assert eng.metastore["cns1"].constraints["pk"]["cols"] == ["a"]
    assert eng.metastore["cns2"].constraints["pk"]["name"] == "pk1"
    assert eng.metastore["cns9"].constraints["pk"]["rely"] is True
    assert eng.metastore["cns9"].constraints["pk"]["cols"] == ["a", "b"]
    lines = _constraint_lines(eng, "cns2")
    assert any("Primary Key for default.cns2:[a], Constraint Name: pk1"
               in ln for ln in lines)
    # the stripped DDL still created a normal writable table
    eng.sql("insert into cns2 values ('1', 'x')")
    assert eng.sql("select * from cns2").count() == 1


def test_q_create_with_fk_and_describe(eng):
    """table3: PK + named FK — DESCRIBE EXTENDED prints Hive's
    Constraints section with parent column and key sequence."""
    eng.sql("CREATE TABLE cns2 (a STRING, b STRING, "
            "constraint pk1 primary key (a) disable novalidate)")
    eng.sql("CREATE TABLE cns3 (x string, "
            "PRIMARY KEY (x) disable novalidate, "
            "CONSTRAINT fk1 FOREIGN KEY (x) REFERENCES cns2(a) "
            "DISABLE NOVALIDATE)")
    lines = _constraint_lines(eng, "cns3")
    assert any(
        "Foreign Keys for default.cns3:[ {Constraint Name: fk1, "
        "(Parent Column Name: default.cns2.a, Column Name: x, "
        "Key Sequence: 1)}]" in ln
        for ln in lines
    ), lines


def test_q_composite_fk_key_sequence(eng):
    """table10 shape: a two-column FK gets Key Sequence 1 and 2."""
    eng.sql("CREATE TABLE cns9 (a STRING, b STRING, "
            "primary key (a, b) disable novalidate rely)")
    eng.sql("CREATE TABLE cns10 (a STRING, b STRING, "
            "constraint pk10 primary key (a) disable novalidate norely, "
            "foreign key (a, b) references cns9(a, b) disable novalidate)")
    fk = eng.metastore["cns10"].constraints["fks"][0]
    assert fk["cols"] == ["a", "b"] and fk["ref_cols"] == ["a", "b"]
    lines = _constraint_lines(eng, "cns10")
    assert any("Key Sequence: 2" in ln for ln in lines), lines


def test_q_alter_add_drop_constraint(eng):
    """the q-file's ALTER tail: DROP CONSTRAINT removes exactly the
    named constraint; ADD CONSTRAINT re-creates it (with RELY);
    duplicate names and a second PK are typed errors; dropping a
    missing name is Hive's 'Constraint not found'."""
    eng.sql("CREATE TABLE cns2 (a STRING, b STRING, "
            "constraint pk1 primary key (a) disable novalidate)")
    eng.sql("ALTER TABLE cns2 DROP CONSTRAINT pk1")
    assert eng.metastore["cns2"].constraints["pk"] is None
    eng.sql("ALTER TABLE cns2 ADD CONSTRAINT pkt2 primary key (a) "
            "disable novalidate")
    assert eng.metastore["cns2"].constraints["pk"]["name"] == "pkt2"
    with pytest.raises(HiveQLUnsupportedError, match="already has a"):
        eng.sql("ALTER TABLE cns2 ADD CONSTRAINT pkt3 primary key (b) "
                "disable novalidate")
    eng.sql("ALTER TABLE cns2 ADD CONSTRAINT fkx FOREIGN KEY (b) "
            "REFERENCES cns2(a) DISABLE NOVALIDATE RELY")
    assert eng.metastore["cns2"].constraints["fks"][0]["rely"] is True
    with pytest.raises(HiveQLUnsupportedError, match="already exists"):
        eng.sql("ALTER TABLE cns2 ADD CONSTRAINT fkx FOREIGN KEY (b) "
                "REFERENCES cns2(a) DISABLE NOVALIDATE")
    with pytest.raises(HiveQLUnsupportedError, match="not found"):
        eng.sql("ALTER TABLE cns2 DROP CONSTRAINT nope")


def test_q_constraint_negative_syntax(eng):
    """create_with_constraints_enable.q / _validate.q (negative
    corpus): ENABLE and VALIDATE are 'not supported yet'; an FK to a
    missing table and mismatched column counts are typed errors."""
    with pytest.raises(HiveQLUnsupportedError, match="ENABLE"):
        eng.sql("CREATE TABLE cnsbad (a string, "
                "primary key (a) enable novalidate)")
    with pytest.raises(HiveQLUnsupportedError, match="VALIDATE"):
        eng.sql("CREATE TABLE cnsbad (a string, "
                "primary key (a) disable validate)")
    eng.sql("CREATE TABLE cns1 (a STRING, b STRING, "
            "primary key (a) disable novalidate)")
    with pytest.raises(HiveQLUnsupportedError, match="unknown table"):
        eng.sql("ALTER TABLE cns1 ADD CONSTRAINT fke FOREIGN KEY (b) "
                "REFERENCES no_such_tbl(a) DISABLE NOVALIDATE")
    with pytest.raises(HiveQLUnsupportedError, match="counts differ"):
        eng.sql("ALTER TABLE cns1 ADD CONSTRAINT fke FOREIGN KEY (a, b) "
                "REFERENCES cns1(a) DISABLE NOVALIDATE")


def test_q_drop_table_clears_constraints(eng, spark):
    eng.sql("CREATE TABLE cns1 (a STRING, "
            "primary key (a) disable novalidate)")
    assert eng.metastore["cns1"].constraints["pk"]["cols"] == ["a"]
    eng.sql("DROP TABLE cns1")
    assert "cns1" not in eng.metastore
