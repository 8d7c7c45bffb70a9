"""Query scoring: broadcast join + ordered aggregation + window top-k.

The reference's postings walk (bm25.ts:105-127) becomes:

  query_terms (tiny)  ── broadcast ──┐
  postings (term, doc_id, tf, dl, idf) ⋈ on term      no shuffle of the
                                                      big side beyond its
                                                      stored partitioning
    → contrib = idf * tf_norm per (query term, doc)
    → groupBy(query_id, doc_id):
        score = ORDERED sum of contribs by query-token position
        tf    = |distinct matched terms| (the prior's overlap count,
                scorer.ts:549-564)
        dl    = first(dl)
    → window top-k (desc score, asc doc_id)           rank-identical
                                                      tie-break (JS
                                                      stable sort)
    → calibration pandas UDF (Arrow-vectorized NumPy kernel)

Float64 parity details:
* duplicate query tokens contribute twice — the query side keeps one
  row per token position, never deduped (bm25.ts:110);
* per-doc contributions are summed in query-token order via
  array_sort(collect_list(struct(pos, contrib))) + aggregate(), because
  float64 addition is not associative (SURVEY §4.4);
* zero-score docs get probability exactly 0.0 (scorer.ts:577-593).
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from bayesian_bm25_js_spark.operators.index_build import InvertedIndex


def isin_filter(col_name: str, values) -> "F.Column":
    """`col IN (...)` built as ONE JVM-parsed expression. PySpark's
    Column.isin() makes a py4j round-trip per literal — measured 1.8s
    of driver time per batch for a 1600-term filter; parsing a single
    SQL string costs ~nothing."""
    vals = list(values)
    if not vals:
        # `col IN ()` is a parse error; an empty filter matches nothing.
        return F.lit(False)
    for v in vals:
        if isinstance(v, bool) or not isinstance(v, (int, str)):
            raise TypeError(
                f"isin_filter supports int/str values only, got {type(v).__name__}"
            )
    if all(isinstance(v, int) for v in vals):
        lst = ",".join(str(v) for v in vals)
    else:
        lst = ",".join("'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'" for v in vals)
    return F.expr(f"`{col_name}` IN ({lst})")


_QUERY_SCHEMA = pa.schema(
    [
        ("query_id", pa.int64()),
        ("pos", pa.int32()),
        ("term", pa.string()),
        ("is_first", pa.bool_()),
    ]
)


def queries_to_df(spark: SparkSession, queries: Sequence[Sequence[str]]) -> DataFrame:
    """[[token,...], ...] -> (query_id, pos, term, is_first).

    Duplicates preserved (they contribute twice to the score,
    bm25.ts:110). is_first marks the first occurrence of a term within
    its query, so the scoring aggregate can count distinct matched
    terms with a plain conditional sum instead of a per-group hash set
    (the overlap count feeds the tf prior, scorer.ts:549-564).

    Built as a typed Arrow table, so the relation is driver-local
    (LocalTableScan) whatever the session's Arrow setting, empty
    batches included: broadcasting it runs no Spark job. A frame made
    from Python tuples plans as Scan ExistingRDD instead, and every
    broadcast of it runs a Python-worker job."""
    rows = []
    for qid, tokens in enumerate(queries):
        seen = set()
        for pos, term in enumerate(tokens):
            rows.append((qid, pos, term, term not in seen))
            seen.add(term)
    columns = list(zip(*rows)) or [[]] * len(_QUERY_SCHEMA)
    return spark.createDataFrame(pa.table(columns, schema=_QUERY_SCHEMA))


def probability_udf(
    alpha: float,
    beta: float,
    base_rate: Optional[float],
    mode: str = "balanced",
    prior_fn=None,
):
    """Arrow-vectorized calibration kernel: (score, tf, dlr) -> probability.

    Runs the exact NumPy two-step posterior (functions/kernel.py) so
    distributed results match the driver oracle bit-for-bit.
    """
    from bayesian_bm25_js_spark.functions.kernel import score_to_probability

    @pandas_udf("double")
    def _prob(score: pd.Series, tf: pd.Series, dlr: pd.Series) -> pd.Series:
        out = score_to_probability(
            score.to_numpy(dtype=np.float64),
            tf.to_numpy(dtype=np.float64),
            dlr.to_numpy(dtype=np.float64),
            alpha,
            beta,
            base_rate,
            mode=mode,
            prior_fn=prior_fn,
        )
        return pd.Series(np.asarray(out, dtype=np.float64))

    return _prob


def filter_terms(df: DataFrame, terms: Sequence[str]) -> DataFrame:
    """Keep the rows of `terms`: on the interned 8-byte term_id when
    the table has one (the columnar scan then never reads the string),
    else on the term string."""
    if "term_id" in df.columns:
        from bayesian_bm25_js_spark.functions.xxh64 import spark_xxhash64

        return df.filter(isin_filter("term_id", [spark_xxhash64(t) for t in terms]))
    return df.filter(isin_filter("term", terms))


def probe_postings(
    index: InvertedIndex,
    query_terms: DataFrame,
    terms_filter: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Broadcast the query tokens into the postings ->
    (query_id, doc_id, pos, is_first, tf, dl, idf, plus the term_id or
    term join key), one row per (query token, matching posting).

    terms_filter: the batch's distinct terms, when known client-side.
    It In-filters the postings scan, and the sorted caches skip whole
    batches on it. idf is read from the postings relation; no
    term_stats join is added per batch.
    """
    qt = query_terms
    if "is_first" not in qt.columns:
        qt = qt.withColumn("is_first", F.lit(True))
    postings = index.postings
    if (
        terms_filter is not None
        and getattr(index, "push_string_filter", False)
        and "term_id" in postings.columns
    ):
        # Layouts whose term_id only exists POST-scan (the packed
        # delta+varint store computes it after decode) opt in to a
        # STRING In-predicate too: term IN (...) reaches the parquet
        # row-group stats, so non-matching blocks are skipped before
        # any varint decode runs. The interned row cache skips this —
        # its term_id filter already batch-prunes, and an extra
        # per-row string compare would cost the hot path.
        postings = postings.filter(isin_filter("term", terms_filter))
    join_key = "term"
    if "term_id" in postings.columns:
        # Interned hot path: probe on 8-byte keys; the columnar scan
        # prunes the string column entirely.
        join_key = "term_id"
        qt = qt.withColumn("term_id", F.xxhash64("term")).drop("term")
        postings = postings.drop("term")
    if terms_filter is not None:
        postings = filter_terms(postings, terms_filter)
    return postings.join(F.broadcast(qt), join_key)


def aggregate_scores(
    index: InvertedIndex, joined: DataFrame, exact_order: bool = False
) -> DataFrame:
    """probe_postings rows -> (query_id, doc_id, score, tf_overlap, dl).

    exact_order=False (default, the scale path): plain float64 SUM —
    whole-stage-codegen'd HashAggregate with map-side combine; shuffle
    carries one double per (query, doc). Differs from the reference's
    left-to-right accumulation by ≤ a few ulp, invisible at the 6-dp
    contract every oracle/rank comparison uses (profiled: the
    collect_list variant spilled 28 GB per 150-query batch at 400k docs
    and broke 8→32 scaling).

    exact_order=True: bit-exact JS parity — per-doc contributions are
    summed in query-token order via array_sort(collect_list(...)) +
    aggregate(), because float64 addition is not associative
    (SURVEY §4.4; bm25.ts:117-123). ObjectHashAggregate, memory-heavy:
    fixture-parity runs only.
    """
    contrib = index.tf_norm_column(F.col("tf"), F.col("dl")) * F.col("idf")
    scored = joined.select(
        "query_id", "doc_id", "pos", "is_first", "dl", contrib.alias("contrib")
    )
    if exact_order:
        score_agg = F.aggregate(
            F.array_sort(F.collect_list(F.struct("pos", "contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        )
    else:
        score_agg = F.sum("contrib")
    return scored.groupBy("query_id", "doc_id").agg(
        score_agg.alias("score"),
        F.sum(F.when(F.col("is_first"), 1).otherwise(0))
        .cast("int")
        .alias("tf_overlap"),
        F.first("dl").alias("dl"),
    )


def score_queries(
    index: InvertedIndex,
    query_terms: DataFrame,
    exact_order: bool = False,
    terms_filter: Optional[Sequence[str]] = None,
) -> DataFrame:
    """-> (query_id, doc_id, score, tf_overlap, dl) for matched docs only.

    Sparse output: docs with no matching term are absent (score
    semantically 0). See probe_postings for terms_filter and
    aggregate_scores for exact_order.
    """
    return aggregate_scores(
        index, probe_postings(index, query_terms, terms_filter), exact_order
    )


def densify_scores(
    index: InvertedIndex, scores: DataFrame, query_ids: DataFrame
) -> DataFrame:
    """Reference dense semantics: every (query, doc) pair exists; missing
    scores become exactly 0.0 (bm25.ts:108). Only viable at fixture
    scale — production uses the sparse path."""
    all_pairs = query_ids.crossJoin(index.doc_stats)
    return (
        all_pairs.join(scores, ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            "doc_id",
            F.coalesce(F.col("score"), F.lit(0.0)).alias("score"),
            F.coalesce(F.col("tf_overlap"), F.lit(0)).alias("tf_overlap"),
            F.coalesce(scores["dl"], all_pairs["dl"]).alias("dl"),
        )
    )


def top_k(
    scores: DataFrame,
    k: int,
    round_dp: Optional[int] = 6,
    est_rows: Optional[int] = None,
) -> DataFrame:
    """Per-query top-k with the mandatory (desc score, asc doc_id)
    tie-break (bm25.ts:139-144 via JS stable sort).

    round_dp (default 6): rank on round(score, 6) — the engine's float
    policy (see __spark_entry__ docstring). With the plain-sum scoring
    path, per-doc float64 totals differ by ulps between physical plans
    (combine order is plan-dependent), so ranking raw bits would make
    near-ties nondeterministic across plans (exhaustive vs WAND). At
    6 dp, equal-at-6dp docs tie-break deterministically by doc_id.
    round_dp=None ranks raw-score bits (exact_order fixture parity).

    One row_number window partitioned by query_id. For `rank <= k`
    Spark plans a partial WindowGroupLimit inside the scoring stage,
    below the window's one exchange: at most k rows per query per
    partition cross the shuffle, so a hot query's whole scored stream
    never funnels through one task. Spark does this only for
    k <= spark.sql.optimizer.windowGroupLimitThreshold (default 1000);
    above it the full stream is shuffled on query_id.

    est_rows is unused; it is accepted so existing callers keep working.
    """
    sort_score = (
        F.col("score") if round_dp is None else F.round(F.col("score"), round_dp)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(sort_score), F.asc("doc_id")
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def calibrate(
    scored: DataFrame,
    index: InvertedIndex,
    alpha: float,
    beta: float,
    base_rate: Optional[float],
    mode: str = "balanced",
    prior_fn=None,
) -> DataFrame:
    """Attach calibrated probability; zero scores pinned to exactly 0.0."""
    udf = probability_udf(alpha, beta, base_rate, mode, prior_fn)
    dlr = F.col("dl") / F.lit(index.avgdl)
    prob = F.when(
        F.col("score") > 0.0,
        udf(F.col("score"), F.col("tf_overlap").cast("double"), dlr),
    ).otherwise(F.lit(0.0))
    return scored.withColumn("probability", prob)
