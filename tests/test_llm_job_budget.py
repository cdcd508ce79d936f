"""Spark-job ceilings and plan shapes of the LLM operators, at the test SF.

- ``text_tfidf_keywords`` runs in at most 8 jobs: the token rows are
  hash-partitioned by document once, and the tf aggregate and the rank
  window share that exchange.
- ``similarity_probe_only`` runs in at most 7 jobs, construction (the
  driver-side collect of the query batch) included: the scored
  candidates are partitioned by query once for the dedup, the top-k
  window and the entry's per-query aggregate, and that aggregate is
  broadcast into the left join.
- ``chunk_documents`` tokenizes each document once: its executed plan
  holds one ``split(``.
- ``tfidf_top_terms`` tokenizes once (one ``Generate``), ranks on the
  integers and computes the float score (``round(``/``ln(``) only above
  the ``rn <= k`` filter.

Counts go through ``setJobGroup`` + ``StatusTracker``, after one warm
run, so one-time work (the IVF index build, parquet footer reads of a
first use) is not counted. The ceilings are upper bounds: a plan change
may lower a count, never add a pass.
"""

from __future__ import annotations

import uuid

import pytest

from hive_2_3_2_spark.catalog import load_table
from hive_2_3_2_spark.llm import text as T
from hive_2_3_2_spark.llm.chunking import chunk_documents
from hive_2_3_2_spark.suite import load_all
from hive_2_3_2_spark.suite.llm_similarity import ensure_ivf_index


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches."""
    sc = spark.sparkContext
    group = f"llm-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _entry_jobs(spark, sf_dir, name) -> int:
    """Jobs of building registry entry ``name`` and writing it to the
    ``noop`` sink, as the benchmark times it."""
    fn = load_all()[name].fn

    def run():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()  # warm: one-time reads are not part of the budget
    return _jobs(spark, run)


def _executed_plan(df) -> str:
    """The executed plan after a collect: with AQE, the final plan."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _final(plan: str) -> str:
    """The final-plan part of an adaptive plan string."""
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize(
    "name, ceiling",
    [("text_tfidf_keywords", 8), ("similarity_probe_only", 7)],
)
def test_llm_entry_job_ceiling(spark, sf_dir, name, ceiling):
    if name == "similarity_probe_only":
        ensure_ivf_index(spark, sf_dir)
    assert _entry_jobs(spark, sf_dir, name) <= ceiling


def test_chunk_documents_splits_each_document_once(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    plan = _executed_plan(chunk_documents(docs, chunk_tokens=64, overlap=16))
    assert plan.count("split(") == 1, plan


def test_tfidf_tokenizes_once_and_scores_after_the_rank(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    plan = _final(_executed_plan(T.tfidf_top_terms(docs, k=3)))
    assert plan.count("Generate ") == 1, plan
    assert "ReusedExchange" in plan, plan
    lines = plan.splitlines()
    rank_filter = next(i for i, ln in enumerate(lines) if "Filter (rn#" in ln)
    for fn in ("round(", "ln("):
        at = [i for i, ln in enumerate(lines) if fn in ln]
        # a plan string lists a parent above its children
        assert at and max(at) < rank_filter, plan
