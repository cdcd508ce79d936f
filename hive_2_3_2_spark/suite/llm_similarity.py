"""Similarity-search suite queries (implementations:
hive_2_3_2_spark/llm/similarity.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_3_2_spark.catalog import load_table
from hive_2_3_2_spark.llm import similarity as S
from hive_2_3_2_spark.suite import query


@query(
    "similarity_topk_bruteforce",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.v, c.v) /
               (sqrt(list_dot_product(q.v, q.v)) *
                sqrt(list_dot_product(c.v, c.v))) AS cos_raw
      FROM e q JOIN e c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 5
    )
    SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
           CAST(rnk AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rnk
      FROM scored
    ) t WHERE rnk <= 5
    """,
)
def topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for query vectors vec_id<5
    (llm/similarity.py brute_force_topk — broadcast queries, zip_with dot
    products, per-query window top-k)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.brute_force_topk(emb, queries, k=5)


@query(
    "similarity_topk_lsh",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.v, c.v) /
               (sqrt(list_dot_product(q.v, q.v)) *
                sqrt(list_dot_product(c.v, c.v))) AS cos_raw
      FROM e q JOIN e c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 5
    )
    SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
           CAST(rnk AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rnk
      FROM scored
    ) t WHERE rnk <= 5
    """,
)
def topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via multi-table sign-LSH with multi-probe
    (llm/similarity.py lsh_topk) — the 100 TB scale path (bucket equi-join
    instead of cross product). Run here in a HIGH-RECALL configuration
    (20 tables × 5 planes, deterministic seeds): measured recall is
    exactly 1.0 at sf0.001 and sf0.01, and candidate scoring/rounding/
    tie-break is identical to brute_force_topk, so the approximate result
    EQUALS the exact top-5 — the oracle is the brute-force SQL and the
    driver hash-checks it (the minhash verified-candidates trick applied
    to ANN). The cheaper 8×6 config's recall floor is asserted separately
    in tests/test_llm.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.lsh_topk(emb, queries, k=5, n_planes=5, n_tables=20)


def _recall_booleans(
    queries: DataFrame, approx: DataFrame, exact: DataFrame, floor: int
) -> DataFrame:
    """(query_id, recall_ok, corpus_recall_ok) invariant booleans shared
    by the three ANN entries — identical frames to the per-entry builds
    they replace, constructed with expression TEXT (selectExpr/F.expr)
    instead of py4j Column algebra (~15 round trips saved per entry).

    CONTRACT: ``queries`` must be driver-bounded small (the ANN paths
    already collect/broadcast it — MAX_QUERY_BATCH). The corpus total is
    ``sum(hits) OVER ()``, a single-partition window over one row per
    query vector; a corpus-sized frame here would be a one-partition
    funnel (the reason lm.py's PMI and text.py's n_docs scalars must
    keep their 1-row aggregates and NOT adopt this form — r12 audit)."""
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(F.expr("count(1) AS hits"))
    )
    per_query = (
        queries.selectExpr("vec_id AS query_id")
        .join(hits, "query_id", "left")
        .selectExpr("query_id", "coalesce(hits, 0) AS hits")
    )
    # Corpus total as a window over per_query instead of agg + crossJoin:
    # the crossJoin form referenced per_query TWICE (once under the total
    # aggregate, once as the output side), planning the whole
    # approx/exact/hits subtree twice — AQE stage reuse deduplicates only
    # up to the exchange boundaries, so the post-shuffle joins/aggregates
    # ran twice per execution. sum(hits) OVER () computes the same bigint
    # on ONE pass; the single-partition window holds one row per QUERY
    # vector (the bounded-small side by contract — brute_force_topk
    # broadcasts it), so no skew exposure at scale. Same rows, same
    # types; interleaved 9-run medians on the ivf entry at sf0.1:
    # 0.415 s → 0.281 s, every paired run faster (r12).
    # The trailing filter is ALWAYS TRUE (hits is a coalesced count, so
    # ≥ 0 by construction) and exists purely for measurement integrity:
    # without a reference to a computed column, Dataset.count() lets the
    # optimizer ELIMINATE the provably-unique-keyed left join and with
    # it the whole approx/exact/hits subtree — the count plan collapses
    # to a bare 4-line scan of `queries`, so a count()-timed bench run
    # (bench.py's methodology) measured nothing (discovered r13 while
    # profiling the new probe-only entry; guide §1.4's count() warning).
    # Catalyst has no value-range analysis for aggregates, so it cannot
    # fold the predicate; collected rows are bit-identical with or
    # without it (asserted in tests/test_optimization_r13.py).
    return (
        per_query.filter("hits >= 0")
        .selectExpr(
            "query_id",
            "hits >= 1 AS recall_ok",
            f"sum(hits) OVER () >= {floor} AS corpus_recall_ok",
        )
        .orderBy("query_id")
    )


def ivf_index_path(sf_dir: str) -> str:
    """Persisted IVF index directory for one fixture dir (under the
    system tmpdir via _scratch.scratch_root — repo root stays clean)."""
    import os

    from hive_2_3_2_spark.suite._scratch import scratch_root

    return os.path.join(
        scratch_root("ivf_index"), os.path.basename(sf_dir.rstrip("/"))
    )


def ensure_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the per-SF IVF index if absent (deterministic seeded build);
    returns the index path. bench.py calls this in warm-up so the timed
    entry pays the QUERY path, not the one-time build (r2 verdict)."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    index_path = ivf_index_path(sf_dir)
    if not os.path.exists(os.path.join(index_path, "centroids.json")):
        S.build_ivf_index(emb, index_path, n_cells=32, n_iter=3)
    return index_path


@query(
    "similarity_topk_ivf",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS query_id,
           TRUE AS recall_ok, TRUE AS corpus_recall_ok
    FROM embeddings WHERE vec_id < 5 ORDER BY query_id
    """,
)
def topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via a PREBUILT IVF index (llm/similarity.py
    build_ivf_index + ivf_topk_prebuilt): k-means build + cell-partitioned
    corpus persisted once per SF, probe 8 of 32 cells (partition-pruned
    scan ≈25% of the corpus; 64-dim near-isotropic vectors are the hard
    case for IVF). ANN results can't be value-oracled without forcing a
    de-facto full scan (recall plateaus ~0.96 even at 24/32 cells), so
    this entry emits INVARIANT BOOLEANS instead (the sketch-entry trick):
    Spark computes per-query recall vs the exact brute-force top-5
    internally and returns (query_id, recall_ok, corpus_recall_ok) where
    recall_ok = ≥1 exact neighbor recovered (observed per-query recall
    0.4–1.0 at sf0.01) and corpus_recall_ok = total recall ≥0.6 (observed
    0.8). The seeded build makes both deterministic → the DuckDB oracle
    emits the same literals and the driver hash-checks them. The stronger
    aggregate recall floor is asserted in tests/test_llm.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    index_path = ensure_ivf_index(spark, sf_dir)
    ivf = S.ivf_topk_prebuilt(spark, index_path, queries, k=5, nprobe=8)
    exact = S.brute_force_topk(emb, queries, k=5)
    n_exact = 25  # 5 queries × k=5 exact neighbors
    return _recall_booleans(queries, ivf, exact, int(n_exact * 0.6))


@query(
    "similarity_probe_only",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS query_id,
           TRUE AS k_rows_ok, TRUE AS ranks_ok,
           TRUE AS no_self_ok, TRUE AS neighbors_distinct_ok
    FROM embeddings WHERE vec_id < 5 ORDER BY query_id
    """,
)
def probe_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF ANN probe path ALONE (llm/similarity.py ivf_topk_prebuilt
    over the persisted seeded index — partition-pruned scan of 8/32
    cells, pure-Catalyst probe side, broadcast query batch, per-query
    top-5 window). similarity_topk_ivf necessarily also computes the
    exact brute-force reference to oracle its recall, so most of that
    entry's runtime is the reference, not the ANN path; this entry
    (new in r13) times the probe alone. Oracled with per-query
    STRUCTURAL invariants the deterministic probe must satisfy and
    DuckDB emits as literals: exactly k=5 rows per query (every probed
    cell set holds ≥5 candidates at all fixture SFs), ranks exactly
    {1..5} (5 rows, max 5, sum 15 — distinct by row_number), no
    self-match, 5 distinct neighbors. Recall quality is oracled by
    similarity_topk_ivf; a missing query (empty probe) fails k_rows_ok
    via the left join's coalesce(0)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    index_path = ensure_ivf_index(spark, sf_dir)
    ivf = S.ivf_topk_prebuilt(spark, index_path, queries, k=5, nprobe=8)
    agg = ivf.groupBy("query_id").agg(
        F.expr("count(1) AS n"),
        F.expr("sum(rank) AS rank_sum"),
        F.expr("max(rank) AS rank_max"),
        F.expr("sum(IF(neighbor_id = query_id, 1, 0)) AS self_hits"),
        F.expr("count(DISTINCT neighbor_id) AS n_distinct"),
    )
    # Always-true count()-integrity guard, as in _recall_booleans: the
    # filter's reference to the probe-derived `n` stops the optimizer
    # from eliminating the unique-keyed left join (and the entire IVF
    # probe under it) when the bench times this entry with count().
    # `agg` holds one row per query, and the batch is bounded by
    # MAX_QUERY_BATCH: broadcast it, so `queries` is not shuffled for
    # a sort-merge join the adaptive plan would drop anyway.
    return (
        queries.selectExpr("vec_id AS query_id")
        .join(F.broadcast(agg), "query_id", "left")
        .filter("coalesce(n, 0) >= 0")
        .selectExpr(
            "query_id",
            "coalesce(n, 0) = 5 AS k_rows_ok",
            "coalesce(rank_sum, 0) = 15 AND coalesce(rank_max, 0) = 5"
            " AS ranks_ok",
            "coalesce(self_hits, 0) = 0 AS no_self_ok",
            "coalesce(n_distinct, 0) = 5 AS neighbors_distinct_ok",
        )
        .orderBy("query_id")
    )


@query(
    "similarity_topk_pq",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS query_id,
           TRUE AS recall_ok, TRUE AS corpus_recall_ok
    FROM embeddings WHERE vec_id < 5 ORDER BY query_id
    """,
)
def topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (llm/similarity.py train_pq_codebooks /
    pq_encode / pq_topk): 8 subvector blocks × 256 centroids compress
    each 64-dim vector to 8 bytes (32×), and asymmetric-distance top-5
    runs m table lookups per candidate over ONE scan of the code table.
    Oracled with the same invariant-boolean trick as similarity_topk_ivf:
    deterministic training (bounded ordered sample, fixed Lloyd init) ⇒
    recall vs the exact brute-force top-5 is reproducible; floors pinned
    with margin (per-query ≥1 of 5 exact neighbors — observed min 2;
    corpus recall ≥0.4 — observed 0.52–0.6; near-isotropic 64-dim
    vectors are PQ's hard case, same as IVF's)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    books = S.train_pq_codebooks(emb, m=8, n_codes=256, n_iter=10)
    codes = S.pq_encode(emb, books)
    pq = S.pq_topk(codes, queries, books, k=5)
    exact = S.brute_force_topk(emb, queries, k=5)
    return _recall_booleans(queries, pq, exact, 10)


def ivfpq_index_path(sf_dir: str) -> str:
    """Persisted IVF-PQ index directory for one fixture dir."""
    import os

    from hive_2_3_2_spark.suite._scratch import scratch_root

    return os.path.join(
        scratch_root("ivfpq_index"), os.path.basename(sf_dir.rstrip("/"))
    )


def ensure_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the per-SF IVF-PQ index if absent (deterministic build)."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    index_path = ivfpq_index_path(sf_dir)
    if not os.path.exists(os.path.join(index_path, "ivfpq.json")):
        S.build_ivfpq_index(emb, index_path, n_cells=32, m=8, n_codes=256)
    return index_path


@query(
    "similarity_topk_ivfpq",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS query_id,
           TRUE AS recall_ok, TRUE AS corpus_recall_ok
    FROM embeddings WHERE vec_id < 5 ORDER BY query_id
    """,
)
def topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ ANN (llm/similarity.py build_ivfpq_index /
    ivfpq_topk_prebuilt — Jégou et al. 2011 §IV): the coarse quantizer
    prunes the SCAN (probe 8 of 32 cell partitions ≈25% of the bytes)
    while residual PQ codes compress the MEMORY (8 bytes/vector, 32×) —
    query scoring is base[cell] + m table lookups per candidate, never
    touching a raw vector. Oracled with the invariant-boolean trick of
    similarity_topk_ivf/pq: deterministic build ⇒ reproducible recall vs
    the exact brute-force top-5; floors pinned with margin (per-query ≥1
    exact neighbor — observed min 2 at sf0.01, 3 at sf0.001; corpus
    recall ≥0.4 — observed 0.56/0.72). Residual encoding beats
    raw-vector PQ at a quarter of its scan: same corpus floor with 75%
    of the candidates never read."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    index_path = ensure_ivfpq_index(spark, sf_dir)
    approx = S.ivfpq_topk_prebuilt(spark, index_path, queries, k=5, nprobe=8)
    exact = S.brute_force_topk(emb, queries, k=5)
    return _recall_booleans(queries, approx, exact, 10)
