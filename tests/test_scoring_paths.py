"""Contracts of the scale-path scoring choices added in round 2:

* plain-sum scoring (exact_order=False, the default) equals the
  bit-exact ordered-sum path at the engine's 6-dp float policy;
* terms_filter is physically load-bearing but semantically a no-op;
* top_k's rounded ranking breaks 6-dp ties deterministically by doc_id
  regardless of ulp-level score noise.
"""

import pytest
from pyspark.sql import functions as F

from bayesian_bm25_js_spark.operators.index_build import build_inverted_index
from bayesian_bm25_js_spark.operators.scoring import (
    queries_to_df,
    score_queries,
    top_k,
)
from bayesian_bm25_js_spark.operators.wand import wand_topk


@pytest.fixture(scope="module")
def small_idx(spark):
    from bayesian_bm25_js_spark.functions.prng import mulberry32

    rng = mulberry32(99)
    vocab = [f"w{i}" for i in range(50)]
    corpus = [
        [vocab[int(rng() * 50)] for _ in range(3 + int(rng() * 20))]
        for _ in range(300)
    ]
    docs = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(corpus)],
        "doc_id long, tokens array<string>",
    )
    return build_inverted_index(docs, method="lucene")


QUERIES = [["w0", "w3"], ["w1", "w1", "w7"], ["w49"], ["zzz"]]


def test_plain_sum_matches_exact_order_at_policy(spark, small_idx):
    qdf = queries_to_df(spark, QUERIES)
    fast = score_queries(small_idx, qdf, exact_order=False)
    exact = score_queries(small_idx, qdf, exact_order=True)
    a = {
        (r["query_id"], r["doc_id"]): (round(r["score"], 6), r["tf_overlap"], r["dl"])
        for r in fast.collect()
    }
    b = {
        (r["query_id"], r["doc_id"]): (round(r["score"], 6), r["tf_overlap"], r["dl"])
        for r in exact.collect()
    }
    assert a == b
    # and within a few ulp in raw float64
    raw_a = {(r["query_id"], r["doc_id"]): r["score"] for r in fast.collect()}
    raw_b = {(r["query_id"], r["doc_id"]): r["score"] for r in exact.collect()}
    for k in raw_a:
        assert raw_a[k] == pytest.approx(raw_b[k], rel=1e-12)


def test_terms_filter_is_semantic_noop(spark, small_idx):
    qdf = queries_to_df(spark, QUERIES)
    terms = sorted({t for q in QUERIES for t in q})
    plain = score_queries(small_idx, qdf)
    filtered = score_queries(small_idx, qdf, terms_filter=terms)
    a = sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 9)) for r in plain.collect()
    )
    b = sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 9)) for r in filtered.collect()
    )
    assert a == b


def test_wand_terms_filter_is_semantic_noop(spark, small_idx):
    qdf = queries_to_df(spark, QUERIES)
    terms = sorted({t for q in QUERIES for t in q})
    a = wand_topk(small_idx, qdf, 5).orderBy("query_id", "rank").collect()
    b = (
        wand_topk(small_idx, qdf, 5, terms_filter=terms)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [(r["query_id"], r["rank"], r["doc_id"]) for r in a] == [
        (r["query_id"], r["rank"], r["doc_id"]) for r in b
    ]


def test_topk_rounded_tiebreak_deterministic(spark):
    """Scores equal at 6 dp but differing by ulps rank by doc_id asc."""
    rows = [
        (0, 10, 1.0000000001, 1, 5),
        (0, 3, 1.0000000002, 1, 5),
        (0, 7, 0.9999999999, 1, 5),
        (0, 1, 0.5, 1, 5),
    ]
    df = spark.createDataFrame(
        rows, "query_id long, doc_id long, score double, tf_overlap int, dl int"
    )
    got = [
        r["doc_id"]
        for r in top_k(df, 3).orderBy("rank").collect()
    ]
    assert got == [3, 7, 10]  # all tie at 1.0 rounded -> doc_id asc
    # raw ranking (fixture parity mode) orders by exact float
    raw = [
        r["doc_id"]
        for r in top_k(df, 3, round_dp=None).orderBy("rank").collect()
    ]
    assert raw == [3, 10, 7]


def test_term_id_rides_postings_and_is_pruned_from_hot_path(spark, small_idx):
    assert "term_id" in small_idx.postings.columns
    qdf = queries_to_df(spark, [["w0"]])
    plan = score_queries(small_idx, qdf)._jdf.queryExecution().executedPlan().toString()
    # the probe side never materializes the term string
    assert "term_id" in plan


def test_distributed_estimators_match_driver(spark, small_idx):
    """Exact median/std and base rates from the distributed estimators
    equal the driver (reference-port) estimators on the same scores."""
    import numpy as np

    from bayesian_bm25_js_spark.operators.estimate import (
        estimate_base_rate,
        estimate_base_rate_distributed,
        estimate_parameters,
        estimate_parameters_distributed,
    )

    qdf = queries_to_df(spark, [["w0", "w1"], ["w5"], ["w9", "w2", "w7"]])
    scored = score_queries(small_idx, qdf).persist()
    rows = (
        scored.filter(F.col("score") > 0)
        .groupBy("query_id")
        .agg(F.collect_list("score").alias("s"))
        .collect()
    )
    per_query = [np.asarray(r["s"], dtype=np.float64) for r in sorted(rows, key=lambda r: r["query_id"])]

    a_d, b_d = estimate_parameters(per_query, None, None)
    a_x, b_x = estimate_parameters_distributed(scored, None, None)
    assert b_x == pytest.approx(b_d, rel=1e-12)  # exact selection
    assert a_x == pytest.approx(a_d, rel=1e-9)

    n = small_idx.n_docs
    for method in ("percentile", "mixture", "elbow"):
        want = estimate_base_rate(per_query, n, method)
        got = estimate_base_rate_distributed(scored, n, method, reservoir=10**9)
        assert got == pytest.approx(want, rel=1e-6), method
    scored.unpersist()


def test_scorer_distributed_estimation_path(spark, small_idx):
    """estimation_cap=0 forces the distributed estimators; parameters
    agree with the driver path on the same corpus."""
    from bayesian_bm25_js_spark.functions.prng import mulberry32
    from bayesian_bm25_js_spark.operators.scorer import BayesianBM25SparkScorer

    rng = mulberry32(5)
    corpus = [
        [f"w{int(rng() * 30)}" for _ in range(3 + int(rng() * 10))]
        for _ in range(120)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, tokens array<string>"
    )
    s_driver = BayesianBM25SparkScorer(base_rate="auto").index(docs)
    s_dist = BayesianBM25SparkScorer(base_rate="auto").index(docs, estimation_cap=0)
    assert s_dist.transform.beta == pytest.approx(s_driver.transform.beta, rel=1e-12)
    assert s_dist.transform.alpha == pytest.approx(s_driver.transform.alpha, rel=1e-9)
    assert s_dist.base_rate == pytest.approx(s_driver.base_rate, rel=1e-6)


def test_isin_filter_guards(spark, small_idx):
    """Empty values -> constant-false filter (no `IN ()` parse error);
    unsupported value types fail loudly at build time."""
    import pytest as _pytest

    from bayesian_bm25_js_spark.operators.scoring import isin_filter

    assert small_idx.postings.filter(isin_filter("term", [])).count() == 0
    with _pytest.raises(TypeError):
        isin_filter("term", [1.5])
    with _pytest.raises(TypeError):
        isin_filter("term", [True])
    # escaping: quotes in values must not break the expression
    assert small_idx.postings.filter(isin_filter("term", ["o'brien"])).count() == 0


def test_score_queries_empty_terms_filter(spark, small_idx):
    """terms_filter=[] means 'no terms survive' -> zero rows, not a
    SQL parse failure (ADVICE r02)."""
    from bayesian_bm25_js_spark.operators.scoring import (
        queries_to_df,
        score_queries,
    )

    out = score_queries(
        small_idx, queries_to_df(spark, [["cat"]]), terms_filter=[]
    )
    assert out.count() == 0


QUERY_SCHEMA = "struct<query_id:bigint,pos:int,term:string,is_first:boolean>"


def test_queries_to_df_is_local_relation(spark):
    """The query side plans as a driver-local LocalTableScan, so its
    broadcast runs no Spark job — with or without Arrow enabled."""
    from bayesian_bm25_js_spark.plans.audit import simple_plan

    prev = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled")
    try:
        for arrow in ("true", "false"):
            spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", arrow)
            plan = simple_plan(queries_to_df(spark, [["cat", "dog"], ["w1"]]))
            assert plan.startswith("LocalTableScan"), plan
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", prev)


def test_queries_to_df_keeps_duplicates_with_is_first(spark):
    rows = queries_to_df(spark, [["a", "b", "a", "a"], ["b", "b"]]).collect()
    assert [tuple(r) for r in rows] == [
        (0, 0, "a", True),
        (0, 1, "b", True),
        (0, 2, "a", False),
        (0, 3, "a", False),
        (1, 0, "b", True),
        (1, 1, "b", False),
    ]


def test_queries_to_df_round_trips_awkward_terms(spark):
    terms = ["o'brien", 'say "hi"', "back\\slash", "naïve", "日本語", "😀", ""]
    rows = queries_to_df(spark, [terms]).collect()
    assert [r["term"] for r in rows] == terms


def test_queries_to_df_empty_batch_schema(spark):
    for batch in ([], [[]]):
        df = queries_to_df(spark, batch)
        assert df.schema.simpleString() == QUERY_SCHEMA
        assert df.collect() == []


def test_topk_matches_driver_sort_across_partitions(spark):
    """top_k (partial limit per partition, then the final window)
    equals a driver-side sort on (desc round(score, 6), asc doc_id),
    with each query's 6-dp ties spread over several partitions."""
    k = 10
    rows = [
        # few distinct 6-dp values -> large tie groups; the sub-quantum
        # offset makes tied raw scores differ in their low bits
        (q, d, 0.25 * ((d * 7 + q) % 5) + 1e-8 * (d % 4))
        for q in range(3)
        for d in range(200)
    ]
    df = spark.createDataFrame(
        rows, "query_id long, doc_id long, score double"
    ).repartition(6)
    placed = df.select(
        "query_id", "doc_id", F.spark_partition_id().alias("part")
    ).collect()
    parts = {(r["query_id"], r["doc_id"]): r["part"] for r in placed}

    expected = []
    for q in range(3):
        mine = sorted(
            (r for r in rows if r[0] == q), key=lambda r: (-round(r[2], 6), r[1])
        )[:k]
        # the top tie group of every query spans several partitions
        assert len({parts[(q, d)] for _, d, _ in mine}) > 1
        expected += [(q, rank, d, s) for rank, (_, d, s) in enumerate(mine, 1)]

    got = [
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in top_k(df, k).orderBy("query_id", "rank").collect()
    ]
    assert got == expected
