"""End-to-end CliDriver-parity integration: one 20+ statement Hive-style
script (DDL + LOAD DATA + DML + multi-insert + maintenance + SELECTs)
replayed through Engine.run_script, with the final customer-table state
verified against a DuckDB oracle that replays the same mutations in pure
SQL (the reference's q_test_init.sql shape driven through
cli/CliDriver.java:342 processLine)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_2_3_2_spark import Engine
from tests.conftest import assert_matches_oracle


def test_script_transcript_end_to_end(spark, sf_dir, oracle, tmp_path):
    # --- fixture tables the script mutates ---
    cust = str(tmp_path / "cust_s.parquet")
    spark.read.parquet(f"{sf_dir}/customer.parquet").write.parquet(cust)
    part = str(tmp_path / "orders_s.parquet")
    (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .repartition("o_orderpriority")
        .write.partitionBy("o_orderpriority")
        .parquet(part)
    )
    sinks = {}
    for nm in ("hi_sink", "lo_sink"):
        p = str(tmp_path / f"{nm}.parquet")
        spark.createDataFrame(
            [], "o_orderkey bigint, o_totalprice double"
        ).write.parquet(p)
        sinks[nm] = p
    load_src = str(tmp_path / "load_src")
    (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter("o_orderkey < 60")
        .withColumn("o_orderkey", F.col("o_orderkey") + 97000000)
        .drop("o_orderpriority")
        .coalesce(1)
        .write.parquet(load_src)
    )
    n_load = 60 if spark.read.parquet(load_src).count() == 60 else (
        spark.read.parquet(load_src).count()
    )
    exp_dir = str(tmp_path / "export_dir")

    eng = Engine(spark=spark)
    eng.register_table("cust_s", cust)
    eng.register_table("orders_s", part, ["o_orderpriority"])
    for nm, p in sinks.items():
        eng.register_table(nm, p)
    spark.sql(
        "SELECT 1 AS k, 1000.0 AS bal UNION ALL "
        "SELECT 2, -5.0 UNION ALL SELECT 91000003, 42.0"
    ).createOrReplaceTempView("script_src")

    script = f"""
    -- transcript: customer mutations first
    DELETE FROM cust_s WHERE c_acctbal < 0;
    UPDATE cust_s SET c_mktsegment = 'SCRIPTED' WHERE c_custkey % 100 = 0;
    MERGE INTO cust_s t USING script_src s ON t.c_custkey = s.k
      WHEN MATCHED AND s.bal > 0 THEN UPDATE SET c_acctbal = s.bal
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal)
      VALUES (s.k, 'merged', s.bal);
    INSERT INTO cust_s VALUES
      (91000001, 'script;guy', 7, 10.5, 'BUILDING');
    INSERT INTO cust_s (c_custkey, c_name) VALUES (91000002, 'partial');
    SELECT count(*) AS n FROM cust_s;
    -- partitioned-table maintenance
    INSERT INTO orders_s PARTITION (o_orderpriority = '9-SCRIPT')
      SELECT o_orderkey + 95000000, o_custkey, o_orderstatus,
             o_totalprice, o_orderdate
      FROM orders_s WHERE o_orderkey < 40;
    SELECT count(*) AS n FROM orders_s
      WHERE o_orderpriority = '9-SCRIPT';
    FROM orders_s
      INSERT INTO hi_sink SELECT o_orderkey, o_totalprice
        WHERE o_totalprice > 200000
      INSERT INTO lo_sink SELECT o_orderkey, o_totalprice
        WHERE o_totalprice <= 200000;
    TRUNCATE TABLE orders_s PARTITION (o_orderpriority = '9-SCRIPT');
    ALTER TABLE orders_s ADD PARTITION (o_orderpriority = 'Z-EMPTY');
    SHOW PARTITIONS orders_s;
    ALTER TABLE orders_s DROP PARTITION (o_orderpriority = 'Z-EMPTY');
    LOAD DATA INPATH '{load_src}' INTO TABLE orders_s
      PARTITION (o_orderpriority = '8-LOADED');
    SELECT count(*) AS n FROM orders_s
      WHERE o_orderpriority = '8-LOADED';
    EXPORT TABLE orders_s TO '{exp_dir}';
    IMPORT TABLE orders_imported FROM '{exp_dir}';
    SELECT count(*) AS n FROM orders_imported;
    DELETE FROM orders_s
      WHERE o_orderpriority = '8-LOADED' AND o_orderkey % 2 = 0;
    SELECT count(*) AS n FROM orders_s
      WHERE o_orderpriority = '8-LOADED';
    SELECT count(*) AS n FROM cust_s;  -- final sanity read
    """
    results = eng.run_script(script)
    assert len(results) == 21

    # --- per-statement invariants (indexes follow the script order) ---
    total_orders = eng.table("orders_s")
    n_script_part = results[7].collect()[0].n
    assert n_script_part > 0  # static-partition insert landed
    mi = {r.target_table: r.rows_affected for r in results[8].collect()}
    # multi-insert split every order exactly once (hi + lo = table size
    # at that point: original + the 9-SCRIPT insert)
    n_at_multi_insert = (
        spark.read.parquet(f"{sf_dir}/orders.parquet").count() + n_script_part
    )
    assert mi["hi_sink"] + mi["lo_sink"] == n_at_multi_insert
    assert eng.table("hi_sink").count() == mi["hi_sink"]
    # truncate cleared the scripted partition
    assert total_orders.filter("o_orderpriority = '9-SCRIPT'").count() == 0
    # SHOW PARTITIONS saw the ADDed empty partition
    shown = {r.partition for r in results[11].collect()}
    assert "o_orderpriority=Z-EMPTY" in shown
    assert "o_orderpriority=1-URGENT" in shown
    # DROP removed it again
    assert total_orders.filter("o_orderpriority = 'Z-EMPTY'").count() == 0
    # LOAD DATA moved the staged files into the static partition
    n_loaded = results[14].collect()[0].n
    assert n_loaded == n_load > 0
    # IMPORT reproduced the table exactly as of the EXPORT
    assert (
        results[17].collect()[0].n == results[16].collect()[0].rows_affected > 0
    )
    assert (
        eng.table("orders_imported").count()
        == eng.table("orders_s").count() + results[18].collect()[0].rows_affected
    )
    # partition-pruned DELETE halved (±) the loaded partition
    n_after_delete = results[19].collect()[0].n
    assert 0 < n_after_delete < n_loaded

    # --- final customer state vs a DuckDB replay of the same script ---
    final = (
        eng.table("cust_s")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("total"),
            F.sum(
                F.when(F.col("c_mktsegment") == "SCRIPTED", 1).otherwise(0)
            ).cast("long").alias("n_scripted"),
            F.sum(
                F.when(F.col("c_name") == "merged", 1).otherwise(0)
            ).cast("long").alias("n_merged"),
        )
    )
    assert_matches_oracle(
        final,
        oracle,
        """
        WITH src(k, bal) AS (
          VALUES (1, 1000.0), (2, -5.0), (91000003, 42.0)
        ),
        base AS (
          SELECT c_custkey, c_name, c_acctbal,
                 CASE WHEN c_custkey % 100 = 0 THEN 'SCRIPTED'
                      ELSE c_mktsegment END AS c_mktsegment
          FROM customer WHERE c_acctbal >= 0
        ),
        after_merge AS (
          SELECT b.c_custkey, b.c_name,
                 CASE WHEN s.k IS NOT NULL AND s.bal > 0 THEN s.bal
                      ELSE b.c_acctbal END AS c_acctbal,
                 b.c_mktsegment
          FROM base b LEFT JOIN src s ON b.c_custkey = s.k
          WHERE NOT (s.k IS NOT NULL AND s.bal <= 0)
          UNION ALL
          SELECT s.k, 'merged', s.bal, NULL
          FROM src s WHERE s.k NOT IN (SELECT c_custkey FROM base)
        ),
        final AS (
          SELECT * FROM after_merge
          UNION ALL
          SELECT 91000001, 'script;guy', 10.5, 'BUILDING'
          UNION ALL
          SELECT 91000002, 'partial', NULL, NULL
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(c_acctbal), 2) AS total,
               CAST(SUM(CASE WHEN c_mktsegment = 'SCRIPTED' THEN 1
                        ELSE 0 END) AS BIGINT) AS n_scripted,
               CAST(SUM(CASE WHEN c_name = 'merged' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_merged
        FROM final
        """,
    )


def test_script_transcript_round4_surface(spark, tmp_path):
    """A second transcript exercising the round-4 statement surface in
    ONE script through Engine.run_script: schema evolution (ADD/CHANGE
    COLUMNS), views (create/stack/alter), TBLPROPERTIES, partition
    lifecycle (ADD PARTITION via insert, RENAME PARTITION, EXCHANGE
    PARTITION), column statistics, SET-variable substitution, and a
    final SELECT through the view stack whose result is checked against
    the hand-computed expectation."""
    import os

    from hive_2_3_2_spark.engine import Engine

    base = str(tmp_path / "r4_a")
    other = str(tmp_path / "r4_b")
    spark.createDataFrame(
        [(i, f"p{i % 2}", float(i)) for i in range(8)],
        "k bigint, p string, v double",
    ).repartition("p").write.partitionBy("p").parquet(base)
    spark.createDataFrame(
        [(100 + i, "p9", 1.0) for i in range(3)],
        "k bigint, p string, v double",
    ).repartition("p").write.partitionBy("p").parquet(other)

    eng = Engine(spark=spark)
    eng.register_table("r4a", base, ["p"])
    eng.register_table("r4b", other, ["p"])

    script = f"""
    SET hivevar:bump=10;
    -- partition lifecycle FIRST (EXCHANGE requires identical schemas,
    -- so it must precede the evolution below — the engine enforces
    -- Hive's compatibility check as a typed error)
    ALTER TABLE r4b PARTITION (p='p9') RENAME TO PARTITION (p='p2');
    ALTER TABLE r4a EXCHANGE PARTITION (p='p2') WITH TABLE r4b;
    ALTER TABLE r4a ADD COLUMNS (tag STRING);
    INSERT INTO r4a (k, tag, p, v) VALUES (50, 'new', 'p0', ${{bump}}.5);
    UPDATE r4a SET tag = 'old' WHERE k < 3 AND p = 'p0';
    ALTER TABLE r4a CHANGE COLUMN v score DOUBLE;
    ALTER TABLE r4a SET TBLPROPERTIES ('owner'='cli', 'stage'='r4');
    ANALYZE TABLE r4a COMPUTE STATISTICS FOR COLUMNS k, tag;
    CREATE VIEW r4_v1 AS SELECT k, p, tag FROM r4a WHERE k >= 2;
    CREATE VIEW r4_v2 AS SELECT p, count(*) AS n,
      count(tag) AS n_tagged FROM r4_v1 GROUP BY p;
    ALTER VIEW r4_v1 AS SELECT k, p, tag FROM r4a;
    SELECT p, n, n_tagged FROM r4_v2 ORDER BY p;
    """
    results = eng.run_script(script)
    final = {(r.p): (r.n, r.n_tagged) for r in results[-1].collect()}
    # r4a rows: k 0..7 (4 per partition) + inserted k=50 (p0, tagged)
    #   + the exchanged p2 partition (3 rows from r4b, untagged).
    # Views were created BEFORE the ALTER VIEW; v2 still reads v1 which
    # after ALTER covers all k. v columns renamed to score (rename
    # orphans data — but tag was written before the CHANGE so it
    # survives: only v→score was renamed).
    assert final == {"p0": (5, 3), "p1": (4, 0), "p2": (3, 0)}
    # rename left no p9; exchange moved p2 out of r4b
    assert not os.path.exists(os.path.join(other, "p=p9"))
    assert not os.path.exists(os.path.join(other, "p=p2"))
    # tblproperties + column stats persisted on the engine
    assert eng.metastore["r4a"].props["owner"] == "cli"
    k_stats = {
        r.info_name: r.info_value
        for r in eng.sql("DESCRIBE r4a k").collect()
    }
    assert k_stats["num_nulls"] == "0"
    stats = {
        r.info_name: r.info_value
        for r in eng.sql("DESCRIBE r4a tag").collect()
    }
    assert stats["num_nulls"] != ""


def test_migration_journey_csv_to_parquet_warehouse(spark, tmp_path):
    """The 'switch from the reference' user journey in one flow:
    Hive-DDL external CSV table (ROW FORMAT DELIMITED) → query → CTAS
    into a parquet table (STORED AS + LOCATION) → ANALYZE → stats-aware
    join query → Hive-form INSERT OVERWRITE DIRECTORY export."""
    import glob
    import os

    from hive_2_3_2_spark.engine import Engine

    eng = Engine(spark=spark)
    d = str(tmp_path)
    os.makedirs(f"{d}/raw")
    with open(f"{d}/raw/data.csv", "w") as f:
        f.write("1,alice,9.5\n2,bob,7.25\n3,carol,8.0\n")
    spark.sql("DROP TABLE IF EXISTS j_raw")
    spark.sql("DROP TABLE IF EXISTS j_fact")
    eng.sql(
        "CREATE EXTERNAL TABLE j_raw (id INT, name STRING, score DOUBLE) "
        "ROW FORMAT DELIMITED FIELDS TERMINATED BY ',' "
        f"STORED AS TEXTFILE LOCATION '{d}/raw'"
    )
    assert eng.sql("SELECT count(*) AS n FROM j_raw").collect()[0].n == 3
    eng.sql(
        f"CREATE TABLE j_fact STORED AS PARQUET LOCATION '{d}/fact' AS "
        "SELECT id, upper(name) AS name, score * 10 AS pts FROM j_raw"
    )
    eng.sql("ANALYZE TABLE j_fact COMPUTE STATISTICS")
    rows = eng.sql(
        "SELECT f.name, f.pts FROM j_fact f JOIN j_raw r ON f.id = r.id "
        "WHERE r.score > 7.5 ORDER BY f.pts DESC"
    ).collect()
    assert [(r.name, r.pts) for r in rows] == [
        ("ALICE", 95.0), ("CAROL", 80.0),
    ]
    n = eng.sql(
        f"INSERT OVERWRITE DIRECTORY '{d}/export' ROW FORMAT DELIMITED "
        "FIELDS TERMINATED BY '\t' SELECT name, pts FROM j_fact"
    ).collect()[0][0]
    assert n == 3
    txt = "".join(
        open(p).read() for p in sorted(glob.glob(f"{d}/export/part-*"))
    )
    assert "ALICE\t95.0" in txt
    spark.sql("DROP TABLE j_raw")
    spark.sql("DROP TABLE j_fact")
