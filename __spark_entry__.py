"""Driver contract for the spark-graft builder (PySpark target).

entry(spark): flagship calibrated-BM25 top-k over sf0.001.
queries(): one entry per implemented operator (SURVEY.md §2), each
  (spark, sf_dir) -> DataFrame.
oracle_sql(): DuckDB-equivalent ANSI SQL per query, run side-by-side by
  the correctness driver at sf0.01 (row-count + schema + value-hash).

Float policy: every floating output column is rounded (6 dp) in BOTH
engines, and ranks are computed over the rounded score, so last-ulp
differences between JVM/NumPy/DuckDB libm never flip a hash or a rank.
The ranked queries go through operators/scoring.top_k: one query_id
row_number window, with a partial WindowGroupLimit that Spark plans
below the window's exchange for k <= 1000
(spark.sql.optimizer.windowGroupLimitThreshold).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Fixed calibration parameters for oracle-checkable queries (estimation
# itself is exercised by tests/test_spark_scorer.py; an oracle needs
# literal alpha/beta to be SQL-expressible).
ALPHA, BETA, BASE_RATE = 1.0, 0.5, 0.05
K1, B = 1.2, 0.75
TOPK = 10

# Reference-style query workload over the synthetic documents vocab.
QUERY_SET = [
    ["spark", "query"],
    ["hash", "join", "table"],
    ["window", "agg"],
    ["stream", "filter", "sort", "merge"],
    ["table", "table", "scan"],  # duplicate term: contributes twice
]

_QUERY_VALUES_SQL = ", ".join(
    f"({qid}, '{term}')"
    for qid, terms in enumerate(QUERY_SET)
    for term in terms
)

BLOCK_SIZE = 128
BLOCK_TERMS = ["spark", "table", "join", "window"]
_BLOCK_TERMS_SQL = ", ".join(f"'{t}'" for t in BLOCK_TERMS)

# Exact-phrase workload (engine addition; reference is bag-of-words).
# Mix of common 2-term phrases, a rare 3-term phrase, and a
# duplicate-term phrase (both slots pivot the same position array).
PHRASE_SET = [
    ["hash", "join"],
    ["table", "scan"],
    ["window", "agg"],
    ["value", "table", "part"],
    ["table", "table"],
]
_PHRASE_VALUES_SQL = ", ".join(
    f"({qid}, {slot}, '{term}')"
    for qid, phrase in enumerate(PHRASE_SET)
    for slot, term in enumerate(phrase)
)

# Proximity workload (windowed co-occurrence over the same positional
# index). MUST mirror tools/make_golden.PROX_SET / PROX_WINDOW — the
# oracle is a frozen brute-force golden (window enumeration vs the
# engine's two-pointer minimal-cover merge; no SQL can express the
# minimal-window count).
PROX_SET = [
    ["hash", "join"],
    ["table", "scan"],
    ["spark", "window"],
    ["value", "table", "part"],
    ["join"],
]
PROX_WINDOW = 8


# ---------------------------------------------------------------------------
# shared Spark-side builders
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bayesian_bm25_js_spark.operators.tokenize import tokenize_column

    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", tokenize_column(F.col("text")).alias("tokens"))
    )


_INDEX_CACHE: dict = {}


def _index(spark: SparkSession, sf_dir: str):
    from bayesian_bm25_js_spark.operators.index_build import build_inverted_index

    key = (id(spark), sf_dir)
    if key not in _INDEX_CACHE:
        _INDEX_CACHE[key] = build_inverted_index(
            _docs(spark, sf_dir), k1=K1, b=B, method="lucene"
        )
    return _INDEX_CACHE[key]


_BM_CACHE: dict = {}


def _block_max(spark: SparkSession, sf_dir: str):
    """Build-once block-max metadata per (session, sf_dir) — index
    metadata, shared by the WAND and routed query entries."""
    from bayesian_bm25_js_spark.operators.compression import block_max_table

    key = (id(spark), sf_dir)
    if key not in _BM_CACHE:
        _BM_CACHE[key] = block_max_table(
            _index(spark, sf_dir), BLOCK_SIZE
        ).persist()
    return _BM_CACHE[key]


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bayesian_bm25_js_spark.operators.scoring import queries_to_df, score_queries

    idx = _index(spark, sf_dir)
    terms = sorted({t for q in QUERY_SET for t in q})
    return (
        score_queries(idx, queries_to_df(spark, QUERY_SET), terms_filter=terms),
        idx,
    )


def _ranked_topk(scores: DataFrame, k: int = TOPK) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("score"), 6)), F.asc("doc_id")
    )
    return scores.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    return idx.doc_stats.orderBy("doc_id")


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    return (
        idx.term_stats.select(
            "term", "df", F.round("idf", 6).alias("idf_r")
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(100)
    )


def q_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _index(spark, sf_dir)
    return (
        idx.postings.filter(F.col("term").isin(BLOCK_TERMS))
        .select("term", "doc_id", "tf", "dl")
        .orderBy("term", "doc_id")
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores, _ = _scored(spark, sf_dir)
    return _ranked_topk(scores).select(
        "query_id", "rank", "doc_id", F.round("score", 6).alias("score_r")
    ).orderBy("query_id", "rank")


_PIDX_CACHE: dict = {}


def q_phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase BM25 top-k over the positional index
    (operators/phrase.py — engine addition, no reference counterpart:
    bm25.ts:52-148 keeps no positions). Oracle: DuckDB recomputes
    positions via parallel unnest, counts full-slot phrase starts, and
    scores the phrase as a pseudo-term with the same lucene idf."""
    from bayesian_bm25_js_spark.operators.phrase import (
        build_positional_index,
        phrase_topk,
    )

    key = (id(spark), sf_dir)
    if key not in _PIDX_CACHE:
        _PIDX_CACHE[key] = build_positional_index(
            _docs(spark, sf_dir), k1=K1, b=B, method="lucene"
        )
    out = phrase_topk(_PIDX_CACHE[key], PHRASE_SET, k=TOPK)
    return out.select(
        "query_id", "rank", "doc_id", "tf",
        F.round("score", 6).alias("score_r"),
    ).orderBy("query_id", "rank")


def q_proximity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed-co-occurrence BM25 top-k (operators/phrase.py — engine
    addition; the reference keeps no positions). Shares the cached
    positional index with q_phrase_topk. Oracle: frozen brute-force
    golden from tools/make_golden.proximity_golden (independent window
    enumeration; regenerate with `python tools/make_golden.py`)."""
    from bayesian_bm25_js_spark.operators.phrase import (
        build_positional_index,
        proximity_topk,
    )

    key = (id(spark), sf_dir)
    if key not in _PIDX_CACHE:
        _PIDX_CACHE[key] = build_positional_index(
            _docs(spark, sf_dir), k1=K1, b=B, method="lucene"
        )
    out = proximity_topk(_PIDX_CACHE[key], PROX_SET, PROX_WINDOW, k=TOPK)
    return out.select(
        "query_id", "rank", "doc_id", "tf",
        F.round("score", 6).alias("score_r"),
    ).orderBy("query_id", "rank")


_STREAM_IDX_CACHE: dict = {}


def q_streaming_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index grown by three epoch ingests of the streaming maintainer
    (streaming/index_ingest.py — the foreachBatch body driven directly
    in batch mode) must equal the batch build after its read-time
    global-stat refresh (addDocuments semantics, scorer.ts:453-459), so
    the oracle is the SAME exhaustive ranked CTE as bm25_topk."""
    import json
    import tempfile

    from bayesian_bm25_js_spark.operators.scoring import (
        queries_to_df,
        score_queries,
    )
    from bayesian_bm25_js_spark.streaming.index_ingest import (
        ingest_epoch,
        load_streaming_index,
    )

    key = (id(spark), sf_dir)
    if key not in _STREAM_IDX_CACHE:
        path = tempfile.mkdtemp(prefix="spark-graft-stream-idx-")
        with open(f"{path}/meta.json", "w") as f:
            json.dump({"k1": K1, "b": B, "method": "lucene"}, f)
        docs = _docs(spark, sf_dir)
        # batch backfill: the three epoch ingests write disjoint
        # epoch=N directories and share no state, so they run as
        # concurrent jobs (each epoch's tail back-fills the others'
        # freed slots); the streaming path proper still sequences
        # epochs through foreachBatch as before.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            list(
                pool.map(
                    lambda epoch: ingest_epoch(
                        docs.filter(F.col("doc_id") % 3 == epoch), epoch, path
                    ),
                    range(3),
                )
            )
        _STREAM_IDX_CACHE[key] = load_streaming_index(spark, path)
    scores = score_queries(
        _STREAM_IDX_CACHE[key], queries_to_df(spark, QUERY_SET)
    )
    return (
        _ranked_topk(scores)
        .select(
            "query_id", "rank", "doc_id", F.round("score", 6).alias("score_r")
        )
        .orderBy("query_id", "rank")
    )


def q_bm25_calibrated_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bayesian_bm25_js_spark.operators.scoring import calibrate

    scores, idx = _scored(spark, sf_dir)
    top = _ranked_topk(scores)
    out = calibrate(top, idx, ALPHA, BETA, BASE_RATE)
    return out.select(
        "query_id",
        "rank",
        "doc_id",
        F.round("score", 6).alias("score_r"),
        F.round("probability", 6).alias("prob_r"),
    ).orderBy("query_id", "rank")


def q_bm25_wand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-max-WAND pruned top-k (operators/wand.py) — must be
    rank+score identical to the exhaustive bm25_topk under the 6-dp
    policy, so the oracle is the SAME exhaustive ranked CTE."""
    from bayesian_bm25_js_spark.operators.scoring import queries_to_df
    from bayesian_bm25_js_spark.operators.wand import wand_topk

    idx = _index(spark, sf_dir)
    terms = sorted({t for q in QUERY_SET for t in q})
    ranked = wand_topk(
        idx, queries_to_df(spark, QUERY_SET), TOPK,
        block_max=_block_max(spark, sf_dir),
        block_size=BLOCK_SIZE, terms_filter=terms,
    )
    return ranked.select(
        "query_id", "rank", "doc_id", F.round("score", 6).alias("score_r")
    ).orderBy("query_id", "rank")


def q_bm25_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selectivity-routed top-k (operators/wand.auto_topk): binary
    per-batch routing between WAND and exhaustive scoring by the
    measured cost model — rank+score identical to the exhaustive
    scorer either way, so the oracle is the SAME exhaustive ranked
    CTE. A zero batch-volume floor pins the sf0.01 QUERY_SET into the
    WAND regime (the default floor would route this tiny batch
    exhaustive — the other regime, covered by bm25_topk's own gate)."""
    from bayesian_bm25_js_spark.operators.wand import auto_topk

    idx = _index(spark, sf_dir)
    ranked = auto_topk(
        idx, QUERY_SET, TOPK, block_max=_block_max(spark, sf_dir),
        block_size=BLOCK_SIZE, hot_df_frac=0.05,
        min_prunable_postings=0,
    )
    return ranked.select(
        "query_id", "rank", "doc_id", F.round("score", 6).alias("score_r")
    ).orderBy("query_id", "rank")


def q_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error (metrics.ts:17-52) as a two-aggregate
    dataflow (functions/metrics.ece_df) over the same deterministic
    probability/label assignment as reliability_bins."""
    from bayesian_bm25_js_spark.functions.metrics import ece_df

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        ((F.col("vec_id") % 100) / 100.0 + 0.005).alias("prob"),
        (F.col("label") >= 1).cast("int").alias("lbl"),
    )
    return ece_df(emb, "prob", "lbl", n_bins=10).select(
        F.round("ece", 6).alias("ece_r")
    )


def q_explain_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explain-mode trace columns (scorer.ts:497-528, debug.ts:146-190):
    likelihood, tf/norm/composite priors, and posterior for the top-k,
    all as Catalyst expressions."""
    from bayesian_bm25_js_spark.operators.scoring import calibrate

    scores, idx = _scored(spark, sf_dir)
    top = _ranked_topk(scores)
    out = calibrate(top, idx, ALPHA, BETA, BASE_RATE)
    x = F.lit(ALPHA) * (F.col("score") - F.lit(BETA))
    lik = F.when(x >= 0, 1.0 / (1.0 + F.exp(-x))).otherwise(
        F.exp(x) / (1.0 + F.exp(x))
    )
    tfp = 0.2 + 0.7 * F.least(F.lit(1.0), F.col("tf_overlap") / 10.0)
    dlr = F.col("dl") / F.lit(idx.avgdl)
    npr = 0.3 + 0.6 * (1.0 - F.least(F.lit(1.0), F.abs(dlr - 0.5) * 2.0))
    comp = F.greatest(F.lit(0.1), F.least(F.lit(0.9), 0.7 * tfp + 0.3 * npr))
    return out.select(
        "query_id",
        "rank",
        "doc_id",
        F.round(lik, 6).alias("likelihood_r"),
        F.round(tfp, 6).alias("tf_prior_r"),
        F.round(npr, 6).alias("norm_prior_r"),
        F.round(comp, 6).alias("composite_prior_r"),
        F.round("probability", 6).alias("posterior_r"),
    ).orderBy("query_id", "rank")


def q_dense_probabilities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-doc probabilities for one query (getProbabilities
    semantics, scorer.ts:532-547): missing docs exactly 0.0."""
    from bayesian_bm25_js_spark.operators.scoring import (
        calibrate,
        densify_scores,
        queries_to_df,
        score_queries,
    )

    idx = _index(spark, sf_dir)
    q = [["spark", "query", "table"]]
    scores = score_queries(idx, queries_to_df(spark, q))
    qids = spark.createDataFrame([(0,)], "query_id long")
    dense = densify_scores(idx, scores, qids)
    out = calibrate(dense, idx, ALPHA, BETA, BASE_RATE)
    return out.select(
        "doc_id",
        F.round("score", 6).alias("score_r"),
        F.round("probability", 6).alias("prob_r"),
    ).orderBy("doc_id")


def q_block_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-max metadata (scorer.ts:641-674): per-(term, block) max BM25
    contribution, blockSize 128."""
    idx = _index(spark, sf_dir)
    contrib = idx.tf_norm_column(F.col("tf"), F.col("dl")) * F.col("idf")
    return (
        idx.postings.filter(F.col("term").isin(BLOCK_TERMS))
        .withColumn("block_id", F.floor(F.col("doc_id") / BLOCK_SIZE).cast("int"))
        .groupBy("term", "block_id")
        .agg(F.round(F.max(contrib), 6).alias("block_max_r"))
        .orderBy("term", "block_id")
    )


def q_wand_upper_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian WAND bound per (term, block) (probability.ts:346-368,
    scorer.ts:689-697): posterior(sigmoid(alpha*(ub-beta)), 0.9, br)."""
    idx = _index(spark, sf_dir)
    contrib = idx.tf_norm_column(F.col("tf"), F.col("dl")) * F.col("idf")
    ub = F.max(contrib)
    x = F.lit(ALPHA) * (ub - F.lit(BETA))
    lik = F.when(x >= 0, 1.0 / (1.0 + F.exp(-x))).otherwise(
        F.exp(x) / (1.0 + F.exp(x))
    )
    p1 = lik * 0.9 / (lik * 0.9 + (1.0 - lik) * 0.1)
    p1c = F.greatest(F.lit(1e-10), F.least(F.lit(1.0 - 1e-10), p1))
    p2 = (p1c * BASE_RATE) / (p1c * BASE_RATE + (1.0 - p1c) * (1.0 - BASE_RATE))
    p2c = F.greatest(F.lit(1e-10), F.least(F.lit(1.0 - 1e-10), p2))
    return (
        idx.postings.filter(F.col("term").isin(BLOCK_TERMS))
        .withColumn("block_id", F.floor(F.col("doc_id") / BLOCK_SIZE).cast("int"))
        .groupBy("term", "block_id")
        .agg(F.round(p2c, 6).alias("bound_r"))
        .orderBy("term", "block_id")
    )


_IVF_CACHE: dict = {}


def _ivf(spark: SparkSession, sf_dir: str) -> tuple:
    """Build-once IVF quantizer per (session, sf_dir) — mirrors
    _INDEX_CACHE so repeated probe queries don't pay the k-means build
    (VERDICT r02 next-steps #5). -> (assigned, centroids)."""
    from bayesian_bm25_js_spark.operators.similarity import ivf_build

    key = (id(spark), sf_dir)
    if key not in _IVF_CACHE:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        _IVF_CACHE[key] = ivf_build(emb, n_cells=8, n_iters=3)
    return _IVF_CACHE[key]


def _ivf_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    qrows = emb.filter(F.col("vec_id") < 5).collect()
    return spark.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows],
        "query_id long, qvec array<double>",
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (operators/similarity.ivf_build/ivf_topk) probing ALL
    cells — exact by construction, so the oracle is plain brute-force
    cosine SQL. 5 corpus vectors (vec_id 0-4) as queries; re-ranked on
    round(cos, 6) per the engine float policy."""
    from bayesian_bm25_js_spark.operators.similarity import ivf_topk

    qdf = _ivf_queries(spark, sf_dir)
    assigned, centroids = _ivf(spark, sf_dir)
    wide = ivf_topk(assigned, centroids, qdf, k=40, n_probe=8)
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("cos"), 6)), F.asc("vec_id")
    )
    return (
        wide.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select(
            "query_id",
            F.col("rk").cast("int").alias("rank"),
            "vec_id",
            F.round("cos", 6).alias("cos_r"),
        )
        .orderBy("query_id", "rank")
    )


def q_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN through the PRUNED path (n_probe=2 of 8 cells — the
    production behavior, recall < 1 by construction). Oracle: golden
    parquet from an independent pure-Python/NumPy k-means mirror with
    the same deterministic seeding rule (tools/make_golden.py
    ivf_probe_golden; xxhash64 parity pinned in tests/test_xxh64.py)."""
    from bayesian_bm25_js_spark.operators.similarity import ivf_topk

    qdf = _ivf_queries(spark, sf_dir)
    assigned, centroids = _ivf(spark, sf_dir)
    wide = ivf_topk(assigned, centroids, qdf, k=40, n_probe=2)
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("cos"), 6)), F.asc("vec_id")
    )
    return (
        wide.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select(
            "query_id",
            F.col("rk").cast("int").alias("rank"),
            "vec_id",
            F.round("cos", 6).alias("cos_r"),
        )
        .orderBy("query_id", "rank")
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over embeddings vs vec_id=0, JVM-side
    sequential dot products (zip_with + aggregate)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    ref = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("ref"))
    dot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    out = (
        emb.crossJoin(F.broadcast(ref))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            (
                dot(F.col("v"), F.col("ref"))
                / (F.sqrt(dot(F.col("v"), F.col("v"))) * F.sqrt(dot(F.col("ref"), F.col("ref"))))
            ).alias("cos"),
        )
    )
    w = Window.orderBy(F.desc(F.round(F.col("cos"), 6)), F.asc("vec_id"))
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select(
            "rank",
            "vec_id",
            F.round("cos", 6).alias("cos_r"),
            F.round(
                F.greatest(
                    F.lit(1e-10),
                    F.least(F.lit(1.0 - 1e-10), (1.0 + F.col("cos")) / 2.0),
                ),
                6,
            ).alias("prob_r"),
        )
        .orderBy("rank")
    )


def q_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram as a distributed aggregate (metrics.ts:73-105)
    over a deterministic probability/label assignment."""
    from bayesian_bm25_js_spark.functions.metrics import reliability_diagram_df

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        ((F.col("vec_id") % 100) / 100.0 + 0.005).alias("prob"),
        (F.col("label") >= 1).cast("int").alias("lbl"),
    )
    out = reliability_diagram_df(emb, "prob", "lbl", n_bins=10)
    return out.select(
        F.col("__bin").alias("bin"),
        F.round("avg_pred", 6).alias("avg_pred_r"),
        F.round("avg_actual", 6).alias("avg_actual_r"),
        "count",
    )


def q_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        ((F.col("vec_id") % 100) / 100.0 + 0.005).alias("prob"),
        (F.col("label") >= 1).cast("int").alias("lbl"),
    )
    return emb.agg(
        F.round(
            F.avg((F.col("prob") - F.col("lbl")) * (F.col("prob") - F.col("lbl"))),
            6,
        ).alias("brier_r")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + fingerprint dedup (training-data pipeline op): group by
    md5 of the leading 5-token shingle (a rolling-fingerprint proxy),
    keep collision groups with the min doc_id as keeper."""
    from bayesian_bm25_js_spark.operators.tokenize import tokenize_column

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", tokenize_column(F.col("text")).alias("toks")
    )
    fp = F.md5(F.array_join(F.slice("toks", 1, 5), " "))
    return (
        docs.select(fp.alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n") > 1)
        .select("h", "n", "keeper")
        .orderBy("h")
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text-quality features: token count, distinct ratio,
    mean token length (training-data pipeline op)."""
    from bayesian_bm25_js_spark.operators.tokenize import tokenize_column

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", tokenize_column(F.col("text")).alias("toks")
    )
    return docs.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        F.round(
            F.aggregate(
                F.transform("toks", lambda t: F.length(t).cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.size("toks"),
            6,
        ).alias("mean_tok_len_r"),
    ).orderBy("doc_id")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID over documents (textstats.py)."""
    from bayesian_bm25_js_spark.operators.textstats import lang_id_column
    from bayesian_bm25_js_spark.operators.tokenize import tokenize_column

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        lang_id_column(tokenize_column(F.col("text"))).alias("lang_pred"),
    ).orderBy("doc_id")


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + score (textstats.quality_features)."""
    from bayesian_bm25_js_spark.operators.textstats import quality_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = quality_features(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round("distinct_ratio", 6).alias("distinct_ratio_r"),
        F.round("stopword_ratio", 6).alias("stopword_ratio_r"),
        F.round("alnum_ratio", 6).alias("alnum_ratio_r"),
        F.round("quality_score", 6).alias("quality_r"),
    ).orderBy("doc_id")


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram shingle Jaccard for consecutive doc pairs
    (dedup.ngram_jaccard_pairs verification stage)."""
    from bayesian_bm25_js_spark.operators.dedup import ngram_jaccard_pairs
    from bayesian_bm25_js_spark.operators.tokenize import tokenize_column

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", tokenize_column(F.col("text")).alias("tokens")
    )
    # single job: the max-doc bound rides as a broadcast 1-row agg
    # instead of a driver collect
    mx = docs.agg(F.max("doc_id").alias("__mx"))
    pairs = (
        docs.select(F.col("doc_id").alias("a"), (F.col("doc_id") + 1).alias("b"))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("b") <= F.col("__mx"))
        .select("a", "b")
    )
    out = ngram_jaccard_pairs(docs, pairs, shingle_k=3)
    return out.select(
        "a", "b", F.round("jaccard", 6).alias("jaccard_r")
    ).orderBy("a")


def q_cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs by brute-force cosine >= 0.3 among the
    first 100 vectors (baseline for the LSH scale path)."""
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < 100)
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    )
    a = emb.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    dot = lambda x, y: F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, z: acc + z
    )
    cos = dot(F.col("va"), F.col("vb")) / (
        F.sqrt(dot(F.col("va"), F.col("va"))) * F.sqrt(dot(F.col("vb"), F.col("vb")))
    )
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= 0.3)
        .select("a", "b", F.round("cos", 6).alias("cos_r"))
        .orderBy("a", "b")
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates. Oracle: golden parquet fixture
    computed by an INDEPENDENT pure-Python/NumPy pipeline (from-spec
    XXH64 port, tools/make_golden.py) — DuckDB cannot express Spark's
    xxhash64 family in SQL, but it can read the frozen expectation."""
    from bayesian_bm25_js_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from bayesian_bm25_js_spark.operators.tokenize import tokenize_column

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", tokenize_column(F.col("text")).alias("tokens")
    )
    sigs = minhash_signatures(docs, shingle_k=3)
    return (
        minhash_lsh_pairs(sigs, threshold=0.5, n_hashes=64)
        .select("a", "b", F.round("est_jaccard", 6).alias("est_jaccard_r"))
        .orderBy("a", "b")
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, Hamming <= 3 (rows-only)."""
    from bayesian_bm25_js_spark.operators.dedup import (
        simhash_near_pairs,
        simhash_signatures,
    )
    from bayesian_bm25_js_spark.operators.tokenize import tokenize_column

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", tokenize_column(F.col("text")).alias("tokens")
    )
    return simhash_near_pairs(simhash_signatures(docs), max_distance=3).orderBy(
        "a", "b"
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature-extraction plumbing over a deterministic fake
    media table (rows-only; decode is a container stub)."""
    from bayesian_bm25_js_spark.operators.multimodal import (
        extract_features,
        synthesize_media,
    )

    feats = extract_features(synthesize_media(spark, 64))
    return feats.select(
        "doc_id",
        "modality",
        F.round(F.element_at("feature", 1), 6).alias("f0_r"),
        F.size("feature").alias("dim"),
    ).orderBy("doc_id")


def q_media_features_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode end-to-end: deterministic PPM/WAV/Y4M payloads
    (multimodal.synthesize_real_media) decoded by the pure-NumPy codecs
    inside mapInPandas; oracle = golden parquet recomputed by an
    independent NumPy mirror straight from the source arrays
    (tools/make_golden.py:media_real_golden — no codec involved)."""
    from bayesian_bm25_js_spark.operators.multimodal import (
        extract_features,
        synthesize_real_media,
    )

    feats = extract_features(synthesize_real_media(spark, 48), decode="real")
    return feats.select(
        "doc_id",
        "modality",
        F.round(F.element_at("feature", 1), 6).alias("f0_r"),
        F.round(F.element_at("feature", 8), 6).alias("f7_r"),
        F.round(F.element_at("feature", 16), 6).alias("f15_r"),
        F.size("feature").alias("dim"),
    ).orderBy("doc_id")


def q_estimation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-query parameter estimation (scorer.ts:199-446): mulberry32
    Fisher-Yates doc sample -> first-5-token pseudo-queries -> one
    batched scoring job -> driver NumPy estimators (alpha = 1/std,
    beta = median, base rate by percentile / mixture-EM / elbow).
    Oracle: golden parquet from tools/make_golden.estimation_golden —
    an independent from-spec mirror (own PRNG, own BM25 accumulation,
    own estimators; no engine imports)."""
    from bayesian_bm25_js_spark.operators.estimate import (
        estimate_base_rate,
        estimate_parameters,
        pseudo_query_scored_df,
        sample_pseudo_query_scores,
    )

    idx = _index(spark, sf_dir)
    scored = pseudo_query_scored_df(idx, _docs(spark, sf_dir))
    per_query = sample_pseudo_query_scores(idx, scored=scored)
    alpha, beta = estimate_parameters(per_query, None, None)
    row = {
        "n_pseudo_queries": len(per_query),
        "n_scores": int(sum(len(q) for q in per_query)),
        "alpha": float(alpha),
        "beta": float(beta),
        "br_percentile": estimate_base_rate(per_query, idx.n_docs, "percentile"),
        "br_mixture": estimate_base_rate(per_query, idx.n_docs, "mixture"),
        "br_elbow": estimate_base_rate(per_query, idx.n_docs, "elbow"),
    }
    df = spark.createDataFrame(
        [tuple(row.values())],
        "n_pseudo_queries long, n_scores long, alpha double, beta double, "
        "br_percentile double, br_mixture double, br_elbow double",
    )
    return df.select(
        "n_pseudo_queries", "n_scores",
        F.round("alpha", 6).alias("alpha_r"),
        F.round("beta", 6).alias("beta_r"),
        F.round("br_percentile", 6).alias("br_percentile_r"),
        F.round("br_mixture", 6).alias("br_mixture_r"),
        F.round("br_elbow", 6).alias("br_elbow_r"),
    )


def q_multi_field_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-field fused retrieval (multi_field.ts:27-208) end-to-end:
    two fields derived from documents.text (title = first 5 tokens,
    body = rest), per-field sparse Bayesian probabilities with FIXED
    calibration (alpha/beta/base_rate literals — estimation itself is
    covered by pytest), uniform weights, weighted log-odds conjunction
    (fusion.ts:153-281: sigma(n^0.5 * sum(w_i * logit(clamp(p_i))))),
    rounded-rank top-20. Oracle: the same two BM25 pipelines + fusion
    formula in SQL."""
    from bayesian_bm25_js_spark.operators.multi_field import MultiFieldSparkScorer
    from bayesian_bm25_js_spark.operators.tokenize import tokenize_column

    toks = tokenize_column(F.col("text"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.slice(toks, 1, 5).alias("title"),
        F.slice(
            toks, 6, F.greatest(F.size(toks) - F.lit(5), F.lit(0))
        ).alias("body"),
    )
    mf = MultiFieldSparkScorer(
        ["title", "body"],
        base_rate=BASE_RATE,
        k1=K1,
        b=B,
        method="lucene",
        transform_alpha=ALPHA,
        transform_beta=BETA,
    ).index(docs)
    probs = mf.get_probabilities(["spark", "table"], dense=False)
    w = Window.orderBy(
        F.desc(F.round(F.col("probability"), 6)), F.asc("doc_id")
    )
    return (
        probs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select(
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            F.round("prob_title", 6).alias("p_title_r"),
            F.round("prob_body", 6).alias("p_body_r"),
            F.round("probability", 6).alias("fused_r"),
        )
        .orderBy("rank")
    )


def q_temporal_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TemporalBayesianTransform sample weights (probability.ts:676-692)
    over the events table: w = exp(-ln2/halfLife * (maxTs - ts)),
    normalized to sum to n — as distributed column expressions."""
    half_life = 3600.0  # seconds
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000.0).alias("tsd"),
    )
    # one Spark job: both scalars (max_ts+n, then the weight sum) ride
    # as broadcast 1-row aggregates instead of driver collects
    stats = ev.agg(F.max("tsd").alias("__max_ts"), F.count(F.lit(1)).alias("__n"))
    with_raw = ev.crossJoin(F.broadcast(stats)).withColumn(
        "raw_w",
        F.exp(
            F.lit(-0.6931471805599453 / half_life)
            * (F.col("__max_ts") - F.col("tsd"))
        ),
    )
    wsum = with_raw.agg(F.sum("raw_w").alias("__s"))
    return (
        with_raw.crossJoin(F.broadcast(wsum))
        .select(
            "event_id",
            F.round(
                F.col("raw_w") * (F.col("__n").cast("double") / F.col("__s")), 6
            ).alias("weight_r"),
        )
        .orderBy("event_id")
    )


def q_fusion_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """probAnd/probOr (fusion.ts:53-97) as distributed log-space
    aggregates: per user, fuse per-event pseudo-probabilities."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # one Spark job: vmax rides as a broadcast 1-row agg instead of a
    # driver collect (same pattern as temporal_weights)
    vmax = ev.agg(F.max("value").alias("__vmax"))
    p = F.greatest(
        F.lit(1e-10),
        F.least(F.lit(1.0 - 1e-10), F.col("value") / (F.col("__vmax") + 1.0)),
    )
    return (
        ev.crossJoin(F.broadcast(vmax))
        .select("user_id", p.alias("p"))
        .groupBy("user_id")
        .agg(
            F.round(F.exp(F.sum(F.log("p"))), 6).alias("prob_and_r"),
            F.round(1.0 - F.exp(F.sum(F.log(1.0 - F.col("p")))), 6).alias("prob_or_r"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("user_id")
    )


def q_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """balancedLogOddsFusion (fusion.ts:312-328) as a Spark dataflow:
    sparse = dense BM25 probabilities for one query; dense = cosine of
    each doc's embedding vs vec 0; per-set min-max logit normalization
    via windows (operators/hybrid.py)."""
    from bayesian_bm25_js_spark.operators.hybrid import balanced_fusion
    from bayesian_bm25_js_spark.operators.scoring import (
        calibrate,
        densify_scores,
        queries_to_df,
        score_queries,
    )

    idx = _index(spark, sf_dir)
    scores = score_queries(idx, queries_to_df(spark, [["spark", "query", "table"]]))
    qids = spark.createDataFrame([(0,)], "query_id long")
    dense = calibrate(
        densify_scores(idx, scores, qids), idx, ALPHA, BETA, BASE_RATE
    ).select("query_id", "doc_id", F.col("probability").alias("sparse_prob"))

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    ref = emb.filter(F.col("doc_id") == 0).select(F.col("v").alias("ref"))
    dot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    cos_df = emb.crossJoin(F.broadcast(ref)).select(
        "doc_id",
        (
            dot(F.col("v"), F.col("ref"))
            / (F.sqrt(dot(F.col("v"), F.col("v"))) * F.sqrt(dot(F.col("ref"), F.col("ref"))))
        ).alias("cos"),
    )
    cand = dense.join(cos_df, "doc_id")
    out = balanced_fusion(cand, weight=0.5)
    return out.select(
        "doc_id", F.round("fusion_score", 6).alias("fusion_r")
    ).orderBy("doc_id")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: calibrated BM25 top-10 at sf0.001."""
    return q_bm25_calibrated_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "doc_stats": q_doc_stats,
        "term_stats": q_term_stats,
        "postings": q_postings,
        "bm25_topk": q_bm25_topk,
        "phrase_topk": q_phrase_topk,
        "proximity_topk": q_proximity_topk,
        "bm25_wand_topk": q_bm25_wand_topk,
        "bm25_auto_topk": q_bm25_auto_topk,
        "streaming_index_topk": q_streaming_index_topk,
        "bm25_calibrated_topk": q_bm25_calibrated_topk,
        "ece": q_ece,
        "explain_trace": q_explain_trace,
        "dense_probabilities": q_dense_probabilities,
        "block_max": q_block_max,
        "wand_upper_bounds": q_wand_upper_bounds,
        "cosine_topk": q_cosine_topk,
        "ivf_topk": q_ivf_topk,
        "ivf_probe_topk": q_ivf_probe_topk,
        "reliability_bins": q_reliability_bins,
        "brier": q_brier,
        "dedup_exact": q_dedup_exact,
        "text_stats": q_text_stats,
        "lang_id": q_lang_id,
        "quality": q_quality,
        "jaccard_pairs": q_jaccard_pairs,
        "cosine_dup_pairs": q_cosine_dup_pairs,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash_pairs": q_simhash_pairs,
        "media_features": q_media_features,
        "media_features_real": q_media_features_real,
        "estimation": q_estimation,
        "multi_field_topk": q_multi_field_topk,
        "temporal_weights": q_temporal_weights,
        "fusion_by_user": q_fusion_by_user,
        "hybrid_fusion": q_hybrid_fusion,
    }


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

_TOKS = (
    "SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), "
    "'[^a-z0-9]+'), t -> t <> '')) AS term FROM documents"
)

_BM25_CTES = f"""
toks AS ({_TOKS}),
doc_stats AS (SELECT doc_id, count(*)::INT AS dl FROM toks GROUP BY doc_id),
consts AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
         (SELECT coalesce(sum(dl), 0) FROM doc_stats)::DOUBLE
           / (SELECT count(*) FROM documents) AS avgdl
),
tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks GROUP BY doc_id, term),
term_stats AS (
  SELECT term, count(*) AS df,
         ln(1.0 + ((SELECT n_docs FROM consts) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM tf GROUP BY term
),
q(query_id, term) AS (VALUES {_QUERY_VALUES_SQL}),
contribs AS (
  SELECT q.query_id, tf.doc_id, tf.term, ds.dl,
         ts.idf * (tf.tf * ({K1} + 1.0))
           / (tf.tf + {K1} * (1.0 - {B} + {B} * ds.dl / (SELECT avgdl FROM consts))) AS contrib
  FROM q
  JOIN tf USING (term)
  JOIN term_stats ts USING (term)
  JOIN doc_stats ds ON tf.doc_id = ds.doc_id
),
scored AS (
  SELECT query_id, doc_id, sum(contrib) AS score,
         count(DISTINCT term) AS tf_overlap, any_value(dl) AS dl
  FROM contribs GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, score, tf_overlap, dl,
         row_number() OVER (
           PARTITION BY query_id ORDER BY round(score, 6) DESC, doc_id ASC
         ) AS rank
  FROM scored
)
"""

_SIGMOID = (
    "CASE WHEN {x} >= 0 THEN 1.0 / (1.0 + exp(-({x}))) "
    "ELSE exp({x}) / (1.0 + exp({x})) END"
)


def _trace_components_sql(score_expr: str, tf_expr: str, dlr_expr: str):
    """(likelihood, tf_prior, norm_prior, composite_prior) SQL."""
    lik = _SIGMOID.format(x=f"{ALPHA} * (({score_expr}) - {BETA})")
    tfp = f"(0.2 + 0.7 * least(1.0, ({tf_expr}) / 10.0))"
    npr = f"(0.3 + 0.6 * (1.0 - least(1.0, abs(({dlr_expr}) - 0.5) * 2.0)))"
    comp = f"greatest(0.1, least(0.9, 0.7 * {tfp} + 0.3 * {npr}))"
    return lik, tfp, npr, comp


def _posterior_sql(score_expr: str, tf_expr: str, dlr_expr: str) -> str:
    lik, tfp, npr, comp = _trace_components_sql(score_expr, tf_expr, dlr_expr)
    p1 = f"(({lik}) * {comp}) / (({lik}) * {comp} + (1.0 - ({lik})) * (1.0 - {comp}))"
    p1c = f"greatest(1e-10, least(1.0 - 1e-10, {p1}))"
    p2 = (
        f"(({p1c}) * {BASE_RATE}) / "
        f"(({p1c}) * {BASE_RATE} + (1.0 - ({p1c})) * (1.0 - {BASE_RATE}))"
    )
    return f"greatest(1e-10, least(1.0 - 1e-10, {p2}))"


def _lang_sql_scores() -> str:
    from bayesian_bm25_js_spark.operators.textstats import LANG_MARKERS

    cols = []
    for lang, markers in LANG_MARKERS.items():
        lst = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
        cols.append(
            f"len(list_distinct(list_intersect(toks, {lst}))) AS s_{lang}"
        )
    return ", ".join(cols)


def _lang_sql_case() -> str:
    from bayesian_bm25_js_spark.operators.textstats import LANG_MARKERS

    langs = list(LANG_MARKERS)
    gmax = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    whens = "\n".join(
        f"WHEN s_{l} = {gmax} THEN '{l}'" for l in langs[:-1]
    )
    return (
        f"CASE WHEN {gmax} = 0 THEN 'und'\n{whens}\nELSE '{langs[-1]}' END"
    )


_TOK_LIST = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"
)


def _mf_field_ctes(alias: str) -> str:
    """One field's BM25 pipeline CTEs ({alias} must be a CTE of
    (doc_id, toks)): doc/term stats, contributions for the mf_q query
    terms, sparse per-doc posterior with the fixed literals."""
    avgdl = f"(SELECT avgdl FROM {alias}_consts)"
    post = _posterior_sql("score", "tf_overlap", f"dl / {avgdl}")
    return f"""
{alias}_toks AS (SELECT doc_id, unnest(toks) AS term FROM {alias}),
{alias}_ds AS (SELECT doc_id, count(*)::INT AS dl FROM {alias}_toks GROUP BY doc_id),
{alias}_consts AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
         (SELECT coalesce(sum(dl), 0) FROM {alias}_ds)::DOUBLE
           / (SELECT count(*) FROM documents) AS avgdl
),
{alias}_tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM {alias}_toks GROUP BY doc_id, term),
{alias}_ts AS (
  SELECT term, count(*) AS df,
         ln(1.0 + ((SELECT n_docs FROM {alias}_consts) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM {alias}_tf GROUP BY term
),
{alias}_contrib AS (
  SELECT tf.doc_id, tf.term, ds.dl,
         ts.idf * (tf.tf * ({K1} + 1.0))
           / (tf.tf + {K1} * (1.0 - {B} + {B} * ds.dl / {avgdl})) AS contrib
  FROM mf_q q
  JOIN {alias}_tf tf USING (term)
  JOIN {alias}_ts ts USING (term)
  JOIN {alias}_ds ds ON tf.doc_id = ds.doc_id
),
{alias}_scored AS (
  SELECT doc_id, sum(contrib) AS score,
         count(DISTINCT term) AS tf_overlap, any_value(dl) AS dl
  FROM {alias}_contrib GROUP BY doc_id
),
{alias}_prob AS (
  SELECT doc_id, CASE WHEN score > 0 THEN {post} ELSE 0.0 END AS p
  FROM {alias}_scored
)"""


def oracle_sql() -> dict[str, str]:
    avgdl = "(SELECT avgdl FROM consts)"
    post = _posterior_sql("score", "tf_overlap", f"dl / {avgdl}")
    dot = "list_dot_product(e.v, r.v)"
    norm = "sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(r.v, r.v))"
    return {
        "doc_stats": """
            SELECT doc_id,
                   len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                   t -> t <> ''))::INT AS dl
            FROM documents ORDER BY doc_id
        """,
        "term_stats": f"""
            WITH {_BM25_CTES}
            SELECT term, df, round(idf, 6) AS idf_r FROM term_stats
            ORDER BY df DESC, term ASC LIMIT 100
        """,
        "postings": f"""
            WITH {_BM25_CTES}
            SELECT tf.term, tf.doc_id, tf.tf, ds.dl
            FROM tf JOIN doc_stats ds ON tf.doc_id = ds.doc_id
            WHERE tf.term IN ({_BLOCK_TERMS_SQL})
            ORDER BY tf.term, tf.doc_id
        """,
        "bm25_topk": f"""
            WITH {_BM25_CTES}
            SELECT query_id, rank::INT AS rank, doc_id, round(score, 6) AS score_r
            FROM ranked WHERE rank <= {TOPK}
            ORDER BY query_id, rank
        """,
        "phrase_topk": f"""
            WITH pbase AS (SELECT doc_id, {_TOK_LIST} AS toks FROM documents),
            ptoksp AS (
              SELECT doc_id, unnest(toks) AS term,
                     unnest(range(len(toks))) AS pos
              FROM pbase
            ),
            pds AS (SELECT doc_id, len(toks)::INT AS dl FROM pbase),
            pconsts AS (
              SELECT count(*)::DOUBLE AS n_docs,
                     sum(dl)::DOUBLE / count(*) AS avgdl
              FROM pds
            ),
            pq(query_id, slot, term) AS (VALUES {_PHRASE_VALUES_SQL}),
            pplen AS (SELECT query_id, count(*)::INT AS plen
                      FROM pq GROUP BY query_id),
            phits AS (
              SELECT pq.query_id, pq.slot, tp.doc_id,
                     tp.pos - pq.slot AS start
              FROM pq JOIN ptoksp tp USING (term)
            ),
            poccs AS (
              SELECT query_id, doc_id, start, count(*) AS nslots
              FROM phits GROUP BY query_id, doc_id, start
            ),
            ptf AS (
              SELECT o.query_id, o.doc_id, count(*)::INT AS tf
              FROM poccs o JOIN pplen p USING (query_id)
              WHERE o.nslots = p.plen
              GROUP BY o.query_id, o.doc_id
            ),
            pdfs AS (SELECT query_id, count(*) AS pdf FROM ptf GROUP BY query_id),
            pscored AS (
              SELECT t.query_id, t.doc_id, t.tf,
                     ln(1.0 + ((SELECT n_docs FROM pconsts) - s.pdf + 0.5)
                              / (s.pdf + 0.5))
                     * (t.tf * ({K1} + 1.0))
                       / (t.tf + {K1} * (1.0 - {B}
                          + {B} * ds.dl / (SELECT avgdl FROM pconsts))) AS score
              FROM ptf t
              JOIN pdfs s USING (query_id)
              JOIN pds ds USING (doc_id)
            ),
            pranked AS (
              SELECT query_id, doc_id, tf, score,
                     row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY round(score, 6) DESC, doc_id ASC
                     ) AS rank
              FROM pscored
            )
            SELECT query_id, rank::INT AS rank, doc_id, tf,
                   round(score, 6) AS score_r
            FROM pranked WHERE rank <= {TOPK}
            ORDER BY query_id, rank
        """,
        "bm25_calibrated_topk": f"""
            WITH {_BM25_CTES}
            SELECT query_id, rank::INT AS rank, doc_id,
                   round(score, 6) AS score_r,
                   round({post}, 6) AS prob_r
            FROM ranked WHERE rank <= {TOPK}
            ORDER BY query_id, rank
        """,
        # WAND is pruning-only: rank+score identical to exhaustive,
        # so its oracle IS the exhaustive ranked CTE.
        "bm25_wand_topk": f"""
            WITH {_BM25_CTES}
            SELECT query_id, rank::INT AS rank, doc_id, round(score, 6) AS score_r
            FROM ranked WHERE rank <= {TOPK}
            ORDER BY query_id, rank
        """,
        # The router only picks between two rank-identical strategies,
        # so its oracle is ALSO the exhaustive ranked CTE.
        "bm25_auto_topk": f"""
            WITH {_BM25_CTES}
            SELECT query_id, rank::INT AS rank, doc_id, round(score, 6) AS score_r
            FROM ranked WHERE rank <= {TOPK}
            ORDER BY query_id, rank
        """,
        # Streaming maintenance converges to the batch build after the
        # read-time stat refresh, so its oracle is ALSO that CTE.
        "streaming_index_topk": f"""
            WITH {_BM25_CTES}
            SELECT query_id, rank::INT AS rank, doc_id, round(score, 6) AS score_r
            FROM ranked WHERE rank <= {TOPK}
            ORDER BY query_id, rank
        """,
        "ece": """
            WITH pl AS (
              SELECT (vec_id % 100) / 100.0 + 0.005 AS prob,
                     CASE WHEN label >= 1 THEN 1 ELSE 0 END AS lbl
              FROM embeddings
            ),
            binned AS (
              SELECT CASE WHEN prob <= 0.1 THEN 0
                          ELSE CAST(ceil(prob / 0.1) AS INT) - 1 END AS bin,
                     prob, lbl
              FROM pl
            ),
            per_bin AS (
              SELECT bin, avg(prob) AS ap, avg(lbl) AS aa, count(*) AS cnt
              FROM binned GROUP BY bin
            )
            SELECT round(sum(cnt * abs(ap - aa)) / sum(cnt), 6) AS ece_r
            FROM per_bin
        """,
        "explain_trace": f"""
            WITH {_BM25_CTES}
            SELECT query_id, rank::INT AS rank, doc_id,
                   round({_trace_components_sql('score', 'tf_overlap', f'dl / (SELECT avgdl FROM consts)')[0]}, 6) AS likelihood_r,
                   round({_trace_components_sql('score', 'tf_overlap', f'dl / (SELECT avgdl FROM consts)')[1]}, 6) AS tf_prior_r,
                   round({_trace_components_sql('score', 'tf_overlap', f'dl / (SELECT avgdl FROM consts)')[2]}, 6) AS norm_prior_r,
                   round({_trace_components_sql('score', 'tf_overlap', f'dl / (SELECT avgdl FROM consts)')[3]}, 6) AS composite_prior_r,
                   round({_posterior_sql('score', 'tf_overlap', 'dl / (SELECT avgdl FROM consts)')}, 6) AS posterior_r
            FROM ranked WHERE rank <= {TOPK}
            ORDER BY query_id, rank
        """,
        # Golden-fixture oracles: expectations computed by an independent
        # pure-Python/NumPy implementation (tools/make_golden.py; XXH64
        # ported from the public spec, parity pinned in
        # tests/test_xxh64.py), frozen at sf0.01 generation time.
        "proximity_topk": """
            SELECT query_id, rank, doc_id, tf, score_r
            FROM read_parquet('/root/repo/tests/golden/proximity_topk.parquet')
            ORDER BY query_id, rank
        """,
        "minhash_lsh_pairs": """
            SELECT a, b, est_jaccard_r
            FROM read_parquet('/root/repo/tests/golden/minhash_lsh_pairs.parquet')
            ORDER BY a, b
        """,
        "simhash_pairs": """
            SELECT a, b, hamming
            FROM read_parquet('/root/repo/tests/golden/simhash_pairs.parquet')
            ORDER BY a, b
        """,
        "media_features": """
            SELECT doc_id, modality, f0_r, dim
            FROM read_parquet('/root/repo/tests/golden/media_features.parquet')
            ORDER BY doc_id
        """,
        "media_features_real": """
            SELECT doc_id, modality, f0_r, f7_r, f15_r, dim
            FROM read_parquet('/root/repo/tests/golden/media_features_real.parquet')
            ORDER BY doc_id
        """,
        # Parameter estimation (scorer.ts:199-446): golden from an
        # independent from-spec NumPy mirror (tools/make_golden.py
        # estimation_golden — own mulberry32/Fisher-Yates/BM25/
        # estimators, zero engine imports).
        "estimation": """
            SELECT n_pseudo_queries, n_scores, alpha_r, beta_r,
                   br_percentile_r, br_mixture_r, br_elbow_r
            FROM read_parquet('/root/repo/tests/golden/estimation.parquet')
        """,
        "dense_probabilities": f"""
            WITH toks AS ({_TOKS}),
            doc_stats AS (SELECT doc_id, count(*)::INT AS dl FROM toks GROUP BY doc_id),
            consts AS (
              SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
                     (SELECT coalesce(sum(dl), 0) FROM doc_stats)::DOUBLE
                       / (SELECT count(*) FROM documents) AS avgdl
            ),
            tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks GROUP BY doc_id, term),
            term_stats AS (
              SELECT term, count(*) AS df,
                     ln(1.0 + ((SELECT n_docs FROM consts) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
              FROM tf GROUP BY term
            ),
            q(query_id, term) AS (VALUES (0, 'spark'), (0, 'query'), (0, 'table')),
            contribs AS (
              SELECT q.query_id, tf.doc_id, tf.term, ds.dl,
                     ts.idf * (tf.tf * ({K1} + 1.0))
                       / (tf.tf + {K1} * (1.0 - {B} + {B} * ds.dl / (SELECT avgdl FROM consts))) AS contrib
              FROM q JOIN tf USING (term)
                     JOIN term_stats ts USING (term)
                     JOIN doc_stats ds ON tf.doc_id = ds.doc_id
            ),
            scored AS (
              SELECT doc_id, sum(contrib) AS score,
                     count(DISTINCT term) AS tf_overlap, any_value(dl) AS dl
              FROM contribs GROUP BY doc_id
            )
            SELECT d.doc_id,
                   round(coalesce(s.score, 0.0), 6) AS score_r,
                   CASE WHEN coalesce(s.score, 0.0) > 0
                        THEN round({_posterior_sql('s.score', 's.tf_overlap', 's.dl / (SELECT avgdl FROM consts)')}, 6)
                        ELSE 0.0 END AS prob_r
            FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
            ORDER BY d.doc_id
        """,
        "block_max": f"""
            WITH {_BM25_CTES}
            SELECT tf.term, (tf.doc_id // {BLOCK_SIZE})::INT AS block_id,
                   round(max(ts.idf * (tf.tf * ({K1} + 1.0))
                     / (tf.tf + {K1} * (1.0 - {B} + {B} * ds.dl / (SELECT avgdl FROM consts)))), 6) AS block_max_r
            FROM tf JOIN term_stats ts USING (term)
                    JOIN doc_stats ds ON tf.doc_id = ds.doc_id
            WHERE tf.term IN ({_BLOCK_TERMS_SQL})
            GROUP BY tf.term, (tf.doc_id // {BLOCK_SIZE})::INT
            ORDER BY term, block_id
        """,
        "wand_upper_bounds": f"""
            WITH {_BM25_CTES},
            bm AS (
              SELECT tf.term, (tf.doc_id // {BLOCK_SIZE})::INT AS block_id,
                     max(ts.idf * (tf.tf * ({K1} + 1.0))
                       / (tf.tf + {K1} * (1.0 - {B} + {B} * ds.dl / (SELECT avgdl FROM consts)))) AS ub
              FROM tf JOIN term_stats ts USING (term)
                      JOIN doc_stats ds ON tf.doc_id = ds.doc_id
              WHERE tf.term IN ({_BLOCK_TERMS_SQL})
              GROUP BY tf.term, (tf.doc_id // {BLOCK_SIZE})::INT
            )
            SELECT term, block_id,
                   round(greatest(1e-10, least(1.0 - 1e-10,
                     (greatest(1e-10, least(1.0 - 1e-10,
                        (({_SIGMOID.format(x=f'{ALPHA} * (ub - {BETA})')}) * 0.9)
                        / (({_SIGMOID.format(x=f'{ALPHA} * (ub - {BETA})')}) * 0.9
                           + (1.0 - ({_SIGMOID.format(x=f'{ALPHA} * (ub - {BETA})')})) * 0.1)
                     )) * {BASE_RATE})
                     / (greatest(1e-10, least(1.0 - 1e-10,
                        (({_SIGMOID.format(x=f'{ALPHA} * (ub - {BETA})')}) * 0.9)
                        / (({_SIGMOID.format(x=f'{ALPHA} * (ub - {BETA})')}) * 0.9
                           + (1.0 - ({_SIGMOID.format(x=f'{ALPHA} * (ub - {BETA})')})) * 0.1)
                     )) * {BASE_RATE}
                        + (1.0 - greatest(1e-10, least(1.0 - 1e-10,
                           (({_SIGMOID.format(x=f'{ALPHA} * (ub - {BETA})')}) * 0.9)
                           / (({_SIGMOID.format(x=f'{ALPHA} * (ub - {BETA})')}) * 0.9
                              + (1.0 - ({_SIGMOID.format(x=f'{ALPHA} * (ub - {BETA})')})) * 0.1)
                        ))) * (1.0 - {BASE_RATE}))
                   )), 6) AS bound_r
            FROM bm ORDER BY term, block_id
        """,
        "cosine_topk": f"""
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            r AS (SELECT v FROM emb WHERE vec_id = 0),
            sims AS (
              SELECT e.vec_id, {dot} / ({norm}) AS cos
              FROM emb e CROSS JOIN r WHERE e.vec_id <> 0
            ),
            rk AS (
              SELECT vec_id, cos,
                     row_number() OVER (ORDER BY round(cos, 6) DESC, vec_id ASC) AS rank
              FROM sims
            )
            SELECT rank::INT AS rank, vec_id, round(cos, 6) AS cos_r,
                   round(greatest(1e-10, least(1.0 - 1e-10, (1.0 + cos) / 2.0)), 6) AS prob_r
            FROM rk WHERE rank <= 20 ORDER BY rank
        """,
        # IVF probing all cells is exact, so its oracle is brute-force
        # cosine per query vector (vec_id 0-4 as queries, self included).
        "ivf_topk": """
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 5),
            sims AS (
              SELECT q.query_id, e.vec_id,
                     list_dot_product(e.v, q.qv)
                     / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
              FROM emb e CROSS JOIN q
            ),
            rk AS (
              SELECT query_id, vec_id, cos,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY round(cos, 6) DESC, vec_id ASC) AS rank
              FROM sims
            )
            SELECT query_id, rank::INT AS rank, vec_id, round(cos, 6) AS cos_r
            FROM rk WHERE rank <= 10 ORDER BY query_id, rank
        """,
        # Pruned IVF (n_probe=2 of 8): golden fixture from the
        # independent NumPy k-means mirror (same seeding rule).
        "ivf_probe_topk": """
            SELECT query_id, rank, vec_id, cos_r
            FROM read_parquet('/root/repo/tests/golden/ivf_probe_topk.parquet')
            ORDER BY query_id, rank
        """,
        "reliability_bins": """
            WITH pl AS (
              SELECT (vec_id % 100) / 100.0 + 0.005 AS prob,
                     CASE WHEN label >= 1 THEN 1 ELSE 0 END AS lbl
              FROM embeddings
            ),
            binned AS (
              SELECT CASE WHEN prob <= 0.1 THEN 0
                          ELSE CAST(ceil(prob / 0.1) AS INT) - 1 END AS bin,
                     prob, lbl
              FROM pl
            )
            SELECT bin, round(avg(prob), 6) AS avg_pred_r,
                   round(avg(lbl), 6) AS avg_actual_r,
                   count(*) AS count
            FROM binned GROUP BY bin ORDER BY bin
        """,
        "brier": """
            SELECT round(avg(power((vec_id % 100) / 100.0 + 0.005
                   - CASE WHEN label >= 1 THEN 1 ELSE 0 END, 2)), 6) AS brier_r
            FROM embeddings
        """,
        "dedup_exact": """
            WITH fp AS (
              SELECT doc_id,
                     md5(array_to_string(
                       list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                   t -> t <> '')[1:5], ' ')) AS h
              FROM documents
            )
            SELECT h, count(*) AS n, min(doc_id) AS keeper
            FROM fp GROUP BY h HAVING count(*) > 1
            ORDER BY h
        """,
        "text_stats": f"""
            WITH tok_lists AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                 t -> t <> '') AS toks
              FROM documents
            )
            SELECT doc_id,
                   len(toks)::INT AS n_tokens,
                   len(list_distinct(toks))::INT AS n_distinct,
                   round(list_sum(list_transform(toks, t -> length(t)::DOUBLE))
                         / len(toks), 6) AS mean_tok_len_r
            FROM tok_lists ORDER BY doc_id
        """,
        "lang_id": f"""
            WITH t AS (SELECT doc_id, {_TOK_LIST} AS toks FROM documents),
            s AS (SELECT doc_id, {_lang_sql_scores()} FROM t)
            SELECT doc_id, {_lang_sql_case()} AS lang_pred
            FROM s ORDER BY doc_id
        """,
        "quality": f"""
            WITH t AS (
              SELECT doc_id, text, length(text) AS n_chars, {_TOK_LIST} AS toks
              FROM documents
            ),
            feat AS (
              SELECT doc_id,
                     len(toks)::INT AS n_tokens,
                     len(list_distinct(toks))::INT AS n_distinct,
                     CASE WHEN len(toks) > 0
                          THEN len(list_distinct(toks)) / len(toks)
                          ELSE 0.0 END AS distinct_ratio,
                     CASE WHEN len(toks) > 0
                          THEN len(list_distinct(list_intersect(toks,
                            ['the','and','of','to','is','in','that','it','for','with'])))
                               / len(toks)
                          ELSE 0.0 END AS stopword_ratio,
                     CASE WHEN n_chars > 0
                          THEN length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                               / n_chars
                          ELSE 0.0 END AS alnum_ratio,
                     len(toks) AS nt
              FROM t
            )
            SELECT doc_id, n_tokens, n_distinct,
                   round(distinct_ratio, 6) AS distinct_ratio_r,
                   round(stopword_ratio, 6) AS stopword_ratio_r,
                   round(alnum_ratio, 6) AS alnum_ratio_r,
                   round(round(0.4 * least(1.0, nt / 100.0)
                         + 0.3 * distinct_ratio + 0.3 * alnum_ratio, 6), 6) AS quality_r
            FROM feat ORDER BY doc_id
        """,
        "jaccard_pairs": f"""
            WITH t AS (SELECT doc_id, {_TOK_LIST} AS toks FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(toks) - 2, 1) + 1),
                       i -> array_to_string(toks[i:i+2], ' '))) AS s
              FROM t
            )
            SELECT a.doc_id AS a, b.doc_id AS b,
                   round(len(list_intersect(a.s, b.s)) * 1.0
                         / len(list_distinct(a.s || b.s)), 6) AS jaccard_r
            FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
            ORDER BY a
        """,
        "multi_field_topk": f"""
            WITH t AS (SELECT doc_id, {_TOK_LIST} AS toks FROM documents),
            mf_title AS (SELECT doc_id, toks[1:5] AS toks FROM t),
            mf_body AS (SELECT doc_id, toks[6:] AS toks FROM t),
            mf_q(term) AS (VALUES ('spark'), ('table')),
            {_mf_field_ctes('mf_title')},
            {_mf_field_ctes('mf_body')},
            mf_cand AS (
              SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                     coalesce(a.p, 0.0) AS p1, coalesce(b.p, 0.0) AS p2
              FROM mf_title_prob a FULL OUTER JOIN mf_body_prob b
                ON a.doc_id = b.doc_id
            ),
            mf_fused AS (
              SELECT doc_id, p1, p2,
                     {_SIGMOID.format(x=(
                         "sqrt(2.0) * ("
                         "0.5 * ln(greatest(1e-10, least(1.0 - 1e-10, p1)) / (1.0 - greatest(1e-10, least(1.0 - 1e-10, p1))))"
                         " + 0.5 * ln(greatest(1e-10, least(1.0 - 1e-10, p2)) / (1.0 - greatest(1e-10, least(1.0 - 1e-10, p2))))"
                         ")"
                     ))} AS fp
              FROM mf_cand
            ),
            mf_ranked AS (
              SELECT row_number() OVER (ORDER BY round(fp, 6) DESC, doc_id ASC) AS rank,
                     doc_id, p1, p2, fp
              FROM mf_fused
            )
            SELECT rank::INT AS rank, doc_id,
                   round(p1, 6) AS p_title_r,
                   round(p2, 6) AS p_body_r,
                   round(fp, 6) AS fused_r
            FROM mf_ranked WHERE rank <= 20 ORDER BY rank
        """,
        "temporal_weights": """
            WITH ev AS (
              SELECT event_id, epoch_us(ts) / 1000000.0 AS tsd FROM events
            ),
            c AS (
              SELECT max(tsd) AS max_ts, count(*) AS n,
                     sum(exp(-0.6931471805599453 / 3600.0 * ((SELECT max(tsd) FROM ev) - tsd))) AS s
              FROM ev
            )
            SELECT event_id,
                   round(exp(-0.6931471805599453 / 3600.0 * (c.max_ts - tsd))
                         * (c.n / c.s), 6) AS weight_r
            FROM ev, c ORDER BY event_id
        """,
        "fusion_by_user": """
            WITH c AS (SELECT max(value) AS vmax FROM events),
            p AS (
              SELECT user_id,
                     greatest(1e-10, least(1.0 - 1e-10, value / (c.vmax + 1.0))) AS p
              FROM events, c
            )
            SELECT user_id,
                   round(exp(sum(ln(p))), 6) AS prob_and_r,
                   round(1.0 - exp(sum(ln(1.0 - p))), 6) AS prob_or_r,
                   count(*) AS n
            FROM p GROUP BY user_id ORDER BY user_id
        """,
        "hybrid_fusion": f"""
            WITH toks AS ({_TOKS}),
            doc_stats AS (SELECT doc_id, count(*)::INT AS dl FROM toks GROUP BY doc_id),
            consts AS (
              SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
                     (SELECT coalesce(sum(dl), 0) FROM doc_stats)::DOUBLE
                       / (SELECT count(*) FROM documents) AS avgdl
            ),
            tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks GROUP BY doc_id, term),
            term_stats AS (
              SELECT term, count(*) AS df,
                     ln(1.0 + ((SELECT n_docs FROM consts) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
              FROM tf GROUP BY term
            ),
            q(query_id, term) AS (VALUES (0, 'spark'), (0, 'query'), (0, 'table')),
            contribs AS (
              SELECT tf.doc_id, tf.term, ds.dl,
                     ts.idf * (tf.tf * ({K1} + 1.0))
                       / (tf.tf + {K1} * (1.0 - {B} + {B} * ds.dl / (SELECT avgdl FROM consts))) AS contrib
              FROM q JOIN tf USING (term)
                     JOIN term_stats ts USING (term)
                     JOIN doc_stats ds ON tf.doc_id = ds.doc_id
            ),
            scored AS (
              SELECT doc_id, sum(contrib) AS score,
                     count(DISTINCT term) AS tf_overlap, any_value(dl) AS dl
              FROM contribs GROUP BY doc_id
            ),
            sparse AS (
              SELECT d.doc_id,
                     CASE WHEN coalesce(s.score, 0.0) > 0
                          THEN {_posterior_sql('s.score', 's.tf_overlap', 's.dl / (SELECT avgdl FROM consts)')}
                          ELSE 0.0 END AS sp
              FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
            ),
            emb AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v FROM embeddings),
            r AS (SELECT v FROM emb WHERE doc_id = 0),
            dens AS (
              SELECT e.doc_id,
                     list_dot_product(e.v, r.v)
                       / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(r.v, r.v))) AS cos
              FROM emb e CROSS JOIN r
            ),
            cand AS (
              SELECT s.doc_id,
                     ln(greatest(1e-10, least(1.0 - 1e-10, s.sp))
                        / (1.0 - greatest(1e-10, least(1.0 - 1e-10, s.sp)))) AS ls,
                     ln(greatest(1e-10, least(1.0 - 1e-10, (1.0 + d.cos) / 2.0))
                        / (1.0 - greatest(1e-10, least(1.0 - 1e-10, (1.0 + d.cos) / 2.0)))) AS ld
              FROM sparse s JOIN dens d ON s.doc_id = d.doc_id
            ),
            norm AS (
              SELECT doc_id,
                     CASE WHEN max(ls) OVER () - min(ls) OVER () < 1e-12 THEN 0.0
                          ELSE (ls - min(ls) OVER ()) / (max(ls) OVER () - min(ls) OVER ()) END AS ls_n,
                     CASE WHEN max(ld) OVER () - min(ld) OVER () < 1e-12 THEN 0.0
                          ELSE (ld - min(ld) OVER ()) / (max(ld) OVER () - min(ld) OVER ()) END AS ld_n
              FROM cand
            )
            SELECT doc_id, round(0.5 * ld_n + 0.5 * ls_n, 6) AS fusion_r
            FROM norm ORDER BY doc_id
        """,
        "cosine_dup_pairs": """
            WITH emb AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              WHERE vec_id < 100
            )
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_r
            FROM emb a JOIN emb b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))) >= 0.3
            ORDER BY a, b
        """,
    }
