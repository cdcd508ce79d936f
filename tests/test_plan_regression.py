"""Physical-plan regression suite — the Spark analogue of the reference's
compiler plan goldens (ql/src/test/results/compiler/ and the TPC-DS
explain-only perf suite, CorePerfCliDriver.java:34).

Rather than brittle full-plan diffs, we pin the *scale-critical
properties* of each headline plan: filters pushed to scans, dimension
joins broadcast, no cartesian products, no unexpected extra shuffles.
"""

from __future__ import annotations

import pytest

from hive_2_3_2_spark.plans import explain_str
from hive_2_3_2_spark.suite import load_all

REGISTRY = load_all()


def _plan(spark, sf_dir, name):
    return explain_str(REGISTRY[name].fn(spark, sf_dir))


@pytest.mark.parametrize(
    "name",
    [
        "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier_volume",
        "tpch_q10_returned_items",
    ],
)
def test_dim_joins_broadcast(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_q1_pushes_filter_and_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # only the 7 needed columns reach the scan
    assert "l_comment" not in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    for col in ("l_returnflag", "l_linestatus", "l_quantity", "l_shipdate"):
        assert col in read
    assert "o_orderkey" not in read


def test_q6_fully_pushed_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q6_forecast_revenue")
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({frag})" in plan or frag in plan
    assert "PushedFilters" in plan
    # single aggregate, no join, no wide shuffle
    assert "Join" not in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sort_topk_pushdown")
    assert "TakeOrderedAndProject" in plan, plan


def test_rank_filter_uses_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "window_rank_top_parts")
    assert "WindowGroupLimit" in plan, plan


def test_whole_stage_codegen_covers_q1(spark, sf_dir):
    """The hot aggregation pipeline must be inside WholeStageCodegen
    (Hive's template vectorization equivalent — SURVEY §4.3)."""
    # AQE hides codegen markers until execution: run the query, then read
    # the executed plan (codegen'd operators carry "*(n)" stage markers).
    df = REGISTRY["tpch_q1_pricing_summary"].fn(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark operators compiled into WholeStageCodegen stages
    import re

    assert re.search(r"\*\(\d+\) (HashAggregate|Sort|Project|Filter)", executed), (
        executed
    )


def test_minhash_no_cartesian_and_blocked(spark, sf_dir):
    """The LSH self-join must be an equi-join on the bucket key (blocked),
    never a cartesian."""
    plan = _plan(spark, sf_dir, "dedup_minhash_near_duplicates")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_similarity_broadcasts_queries(spark, sf_dir):
    plan = _plan(spark, sf_dir, "similarity_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q9_all_dims_broadcast_single_agg_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q9_product_profit")
    # AQE explain renders initial+final plans; 4 broadcast joins per copy
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # part dim scan keeps only the 3 needed columns
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln and "p_partkey" in ln]
    assert read and "p_size" not in read[0], read


def test_q21_compiles_to_semi_and_anti_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q21_waiting_suppliers")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_stratified_take_uses_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sample_stratified_per_lang")
    assert "WindowGroupLimit" in plan, plan


def test_hash_split_is_scan_plus_project_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sample_hash_split")
    assert "Join" not in plan and "Exchange hashpartitioning" not in plan, plan


def test_tfidf_broadcasts_corpus_size(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_tfidf_keywords")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan


def test_banded_range_join_is_equi_not_nested_loop(spark, sf_dir):
    """The banded range join must plan as an equi-join on (key, band) —
    the whole point is avoiding BroadcastNestedLoopJoin/cartesian."""
    plan = _plan(spark, sf_dir, "op_banded_range_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pipeline_corpus_prep_no_cartesian(spark, sf_dir):
    """The composed pipeline must stay blocked/broadcast end-to-end —
    no stage may degrade to a cartesian or nested-loop join."""
    plan = _plan(spark, sf_dir, "pipeline_corpus_prep")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rollup_serve_no_cartesian_two_agg_shuffles(spark, sf_dir):
    """Continuous-aggregate serve path: rollup ∪ tail re-aggregation must
    stay a pure keyed hash-agg pipeline — no cartesian, no join at all in
    the merge (the exact+estimate JOIN exists only in the oracle entry)."""
    plan = _plan(spark, sf_dir, "events_rollup_incremental")
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_rollup_refresh_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    """Refresh reads only touched bucket_date partitions: the rollup-side
    scan must carry a PartitionFilters entry on bucket_date (partition
    pruning, not a full-history read)."""
    from datetime import timedelta

    from pyspark.sql import functions as F

    from hive_2_3_2_spark.catalog import load_table
    from hive_2_3_2_spark.operators import rollup_refresh

    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("m")).collect()[0].m
    cutoff = mx - timedelta(days=1)
    path = str(tmp_path / "ru")
    rollup_refresh(spark, path, ev.filter(F.col("ts") < F.lit(cutoff)))

    touched = [
        r[0]
        for r in ev.filter(F.col("ts") >= F.lit(cutoff))
        .select(F.to_date(F.date_trunc("hour", "ts")))
        .distinct()
        .collect()
    ]
    pruned = spark.read.parquet(path).filter(
        F.col("bucket_date").isin(touched)
    )
    plan = explain_str(pruned)
    assert "PartitionFilters" in plan and "bucket_date" in plan, plan


def test_lm_scoring_model_joins_broadcast(spark, sf_dir):
    # the <=729-row bigram/prefix model tables must never shuffle the
    # corpus side: both joins broadcast, aggregation has a partial stage
    plan = _plan(spark, sf_dir, "text_lm_quality_score")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_countmin_probe_broadcasts_sketch(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_countmin_heavy_hitters")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_weighted_sample_is_takeordered(spark, sf_dir):
    # Efraimidis-Spirakis top-k must plan as per-partition heaps, not a
    # global sort
    plan = _plan(spark, sf_dir, "sample_weighted_reservoir")
    assert "TakeOrderedAndProject" in plan, plan


def test_semantic_dedup_no_cartesian(spark, sf_dir):
    # the in-bucket self-join must stay keyed on the bucket id
    plan = _plan(spark, sf_dir, "dedup_semantic_kept")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pmi_joins_keyed_no_cartesian(spark, sf_dir):
    # pair->unigram joins are keyed; only the 1-row totals may broadcast
    plan = _plan(spark, sf_dir, "text_pmi_collocations")
    assert "CartesianProduct" not in plan


def test_smb_bucketed_join_no_exchange(spark, sf_dir):
    """The SMB suite entry's join reads pre-bucketed files with NO
    shuffle exchange on either join side (SMBMapJoinOperator parity).
    At sf0.01 the customer side is small enough to broadcast (the right
    plan at that size), so the 100 TB claim is pinned with broadcast
    disabled: the join must become a SortMergeJoin whose children carry
    no hash-partitioning Exchange — the bucketed layout satisfies the
    join's distribution requirement from disk."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, sf_dir, "join_smb_bucketed")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan, plan
    # the single allowed hash Exchange is the post-join aggregate; the
    # join inputs themselves must not reshuffle
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    join_section = plan[: plan.index("SortMergeJoin")]
    assert "Exchange hashpartitioning" not in join_section, plan


def test_ivfpq_probe_scan_partition_pruned(spark, sf_dir, tmp_path):
    """The IVF-PQ query path must READ only the probed cell partitions
    of the code table (the inverted file = partition layout), broadcast
    the per-query probe frame, and contain no cartesian product."""
    from pyspark.sql import functions as F

    from hive_2_3_2_spark.catalog import load_table
    from hive_2_3_2_spark.llm import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivfpq_plan")
    S.build_ivfpq_index(emb, idx, n_cells=16, m=8, n_codes=64)
    queries = emb.filter(F.col("vec_id") < 2)
    res = S.ivfpq_topk_prebuilt(spark, idx, queries, k=3, nprobe=4)
    plan = explain_str(res)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    # the probed-cell union compiles into STATIC PartitionFilters on the
    # code-table scan (cell IN (...)): the probe reads nprobe-union of
    # 16 partitions, not all of them
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "cell" in pf and " IN " in pf.upper(), plan


def test_ivf_probe_scan_partition_pruned(spark, sf_dir, tmp_path):
    """Same static-pruning guarantee for the plain IVF probe path."""
    from pyspark.sql import functions as F

    from hive_2_3_2_spark.catalog import load_table
    from hive_2_3_2_spark.llm import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf_plan")
    S.build_ivf_index(emb, idx, n_cells=16, n_iter=2)
    queries = emb.filter(F.col("vec_id") < 2)
    plan = explain_str(
        S.ivf_topk_prebuilt(spark, idx, queries, k=3, nprobe=4)
    )
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "cell" in pf and " IN " in pf.upper(), plan


def test_nb_scoring_weights_broadcast(spark, sf_dir):
    """NB classifier scoring must broadcast the vocab-sized weights
    table into the explode+join (never shuffle the corpus on word)."""
    plan = _plan(spark, sf_dir, "text_nb_lang_classifier")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_avro_read_decodes_executor_side(spark, tmp_path):
    """The pure-Python Avro reader must be a DISTRIBUTED decode: a
    binaryFile scan feeding MapInPandas (executor-side, Arrow-batched)
    — never a driver-side loop over collected file contents. Only the
    first file's header bytes reach the driver (schema inference)."""
    from hive_2_3_2_spark.plans import explain_str
    from hive_2_3_2_spark.sources.avro_py import read_avro_py, write_avro_py

    dst = str(tmp_path / "avro_plan")
    write_avro_py(spark.range(100).selectExpr("id", "id * 2 AS v"), dst)
    df = read_avro_py(spark, dst)
    plan = explain_str(df)
    assert "MapInPandas" in plan, plan
    assert "binaryFile" in plan or "BinaryFile" in plan, plan
    assert df.count() == 100


def test_decontaminate_exact_single_pass_no_join(spark, sf_dir):
    """The r6 exact decontamination path must be ONE corpus map pass:
    the eval matrix ships as a broadcast variable inside the
    mapInPandas closure — the plan has no join, no cartesian, and no
    exchange before the report (the only post-scan work is the Arrow
    batch matmul)."""
    plan = _plan(spark, sf_dir, "clean_decontaminate_embeddings")
    assert "MapInPandas" in plan, plan
    for op in ("Join", "CartesianProduct"):
        assert op not in plan, f"unexpected {op} in exact path:\n{plan}"


def test_embedding_near_dups_blocked_join_no_cartesian(spark, sf_dir):
    """The 3-bit sign-blocked pair join must stay an equi-join on blk
    (plus the id inequality as residual) — never a cartesian."""
    plan = _plan(spark, sf_dir, "dedup_embedding_cosine_pairs")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    ), plan


def test_stats_answered_query_is_scan_free(spark, sf_dir):
    """StatsOptimizer parity (Optimizer.java:227): the stats-answered
    aggregate query must compile to a driver-local row — no FileScan,
    no Exchange, no aggregate operator. Hive's equivalent plan is a
    FetchTask over metastore values."""
    plan = _plan(spark, sf_dir, "stats_answered_aggregates")
    for op in ("Scan parquet", "FileScan", "Exchange", "Aggregate"):
        assert op not in plan, f"unexpected {op}:\n{plan}"
    assert "LocalTableScan" in plan, plan


def test_noop_ptf_chain_plans_one_window_exchange(spark, sf_dir):
    """op_noop_ptf_chain (ptf.q chains): a 3-level noop chain must NOT
    plan one shuffle per chain link (Hive's PTFOperator chain would) —
    exactly ONE hashpartitioning Exchange feeds the single Window of
    the one distinct OVER spec."""
    plan = _plan(spark, sf_dir, "op_noop_ptf_chain")
    # formatted explain puts the partitioning on the Arguments line:
    # exactly one hash exchange (the window's); the only other exchange
    # is the final ORDER BY's rangepartitioning
    assert plan.count("hashpartitioning(") == 1, plan
    assert "CartesianProduct" not in plan


def test_int_ts_literal_cast_keeps_pushed_filter(spark, sf_dir):
    """The millis-mode cast rewrite must keep LITERAL timestamp casts
    foldable: a WHERE against CAST('...' AS TIMESTAMP) still reaches
    the parquet scan as a PushedFilter (a wrapped constant would force
    a full scan at any size)."""
    from hive_2_3_2_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    plan = explain_str(eng.sql(
        "select l_orderkey from lineitem "
        "where l_shipdate <= cast('1998-09-02' as timestamp)"
    ))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan
    assert "transform(" not in plan


def test_schema_epoch_read_is_union_of_scans_no_shuffle(spark, tmp_path):
    """A post-conversion read plans as a UNION of ordinary parquet
    scans with per-epoch casts — zero Exchange operators (the epochs
    are a metadata overlay, not a repartition)."""
    import os

    from hive_2_3_2_spark.engine import Engine

    eng = Engine(spark=spark)
    eng.sql(
        "set hive.metastore.disallow.incompatible.col.type.changes=false"
    )
    p = os.path.join(str(tmp_path), "epoch_plan_t")
    spark.createDataFrame(
        [(1, "1.5"), (2, "2.5")], "k int, v string"
    ).coalesce(1).write.parquet(p)
    eng.register_table("epoch_plan_t", p)
    eng.sql("alter table epoch_plan_t replace columns (k int, v double)")
    eng.sql("insert into table epoch_plan_t values (3, 3.5)")
    plan = explain_str(eng.sql("select k, v from epoch_plan_t"))
    assert "Union" in plan, plan
    assert "Exchange" not in plan, plan
