"""Sub-phase isolation benchmarks (guide §1.4): noop-sink timings for the
expensive bench legs, so optimizations target the real cost, not the leg
total. NOT part of the driver contract — bench.py stays the frozen
measurement harness; this file only feeds OPTIMIZATION_r06.md numbers.

Usage: python bench_extra.py [build|pack|packedq|phrase|all]
Env: BENCH_FILES (default 100000), SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time

N_FILES = int(os.environ.get("BENCH_FILES", "100000"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BLOCK_SIZE = 128


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(name, fn, timings):
    t0 = time.time()
    out = fn()
    timings[name] = round(time.time() - t0, 3)
    log(f"[extra] {name}: {timings[name]}s")
    return out


def get_session():
    from bayesian_bm25_js_spark.session import get_spark

    spark = get_spark(
        master=f"local[{CPUS}]",
        shuffle_partitions=int(os.environ.get("BENCH_SHUFFLE_PARTS", "32")),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def profile_build(spark, timings):
    """index_build leg decomposed: stats pass, postings materialization,
    collision-check/term_stats pass, block_max."""
    from pyspark.sql import functions as F

    from bayesian_bm25_js_spark.operators.compression import block_max_table
    from bayesian_bm25_js_spark.operators.index_build import build_inverted_index
    from bayesian_bm25_js_spark.operators.tokenize import tokenize_column
    from bayesian_bm25_js_spark.sources.corpus import synthesize_code_corpus

    corpus = synthesize_code_corpus(spark, N_FILES).persist()
    timed("corpus_count", corpus.count, timings)
    docs = corpus.select("doc_id", tokenize_column(F.col("content")).alias("tokens"))

    # raw passes over the corpus, isolating tokenize cost
    spark.sparkContext.setJobDescription("extra: stats agg (tokenize pass)")
    timed(
        "pass_stats_agg",
        lambda: docs.select(F.size("tokens").alias("dl"))
        .agg(F.count(F.lit(1)), F.sum("dl"))
        .collect(),
        timings,
    )
    spark.sparkContext.setJobDescription("extra: tf agg noop (tokenize+explode)")
    tf_df = (
        docs.select("doc_id", F.size("tokens").alias("dl"),
                    F.explode("tokens").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
    )
    timed("pass_tf_agg_noop", lambda: noop(tf_df), timings)
    spark.sparkContext.setJobDescription("extra: term_stats noop")
    term_stats = tf_df.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    timed("pass_term_stats_noop", lambda: noop(term_stats), timings)

    # the real build, timed end to end
    spark.sparkContext.setJobDescription("extra: full build")
    t0 = time.time()
    index = build_inverted_index(docs, k1=1.2, b=0.75, method="lucene")
    timings["build_ctor_incl_collision"] = round(time.time() - t0, 3)
    log(f"[extra] build_ctor_incl_collision: {timings['build_ctor_incl_collision']}s")
    timed("build_postings_count", index.postings.count, timings)
    n_layout = index.postings.rdd.getNumPartitions()
    bm = (
        block_max_table(index, BLOCK_SIZE)
        .repartition(n_layout, "term_id")
        .sortWithinPartitions("term_id")
        .persist()
    )
    timed("build_block_max_count", bm.count, timings)
    spark.sparkContext.setJobDescription(None)
    return index, bm, corpus, docs


def profile_pack(spark, index, timings):
    """save_index(packed=True) decomposed."""
    import shutil

    from bayesian_bm25_js_spark.operators.compression import (
        block_max_table,
        pack_postings,
    )

    path = f"/tmp/extra-index-{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    sc = spark.sparkContext

    sc.setJobDescription("extra: postings bucketed write")
    timed(
        "save_postings_write",
        lambda: index.postings.repartition(32, "term")
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite")
        .parquet(f"{path}/postings"),
        timings,
    )
    sc.setJobDescription("extra: term/doc stats writes")
    timed(
        "save_stats_writes",
        lambda: (
            index.term_stats.write.mode("overwrite").parquet(f"{path}/term_stats"),
            index.doc_stats.write.mode("overwrite").parquet(f"{path}/doc_stats"),
        ),
        timings,
    )
    sc.setJobDescription("extra: lineage re-read")
    from bayesian_bm25_js_spark.sources.index_store import _partition_lineage

    timed(
        "save_lineage",
        lambda: _partition_lineage(
            spark.read.parquet(f"{path}/postings"), "postings"
        ),
        timings,
    )
    sc.setJobDescription("extra: pack noop")
    packed_df = pack_postings(index, BLOCK_SIZE)
    timed("pack_noop", lambda: noop(packed_df), timings)
    sc.setJobDescription("extra: pack + bucketed zstd write")
    timed(
        "pack_write",
        lambda: pack_postings(index, BLOCK_SIZE)
        .repartition(32, "term")
        .sortWithinPartitions("term", "block_id")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(f"{path}/packed"),
        timings,
    )
    sc.setJobDescription("extra: block_max write")
    timed(
        "save_block_max_write",
        lambda: block_max_table(index, BLOCK_SIZE)
        .write.mode("overwrite")
        .parquet(f"{path}/block_max"),
        timings,
    )
    sc.setJobDescription(None)
    return path


def profile_packed_query(spark, path, timings):
    from pyspark.sql import functions as F

    from bayesian_bm25_js_spark.operators.compression import unpack_postings
    from bayesian_bm25_js_spark.operators.scoring import (
        calibrate,
        queries_to_df,
        score_queries,
        top_k,
    )
    from bayesian_bm25_js_spark.session import query_mode
    from bayesian_bm25_js_spark.sources.index_store import load_packed_index
    from bench import build_workload

    # meta.json isn't written by profile_pack; synthesize it
    import json as _json

    from bayesian_bm25_js_spark.sources.index_store import PACKED_FORMAT_VERSION

    if not os.path.exists(f"{path}/meta.json"):
        from bayesian_bm25_js_spark.operators.index_build import build_inverted_index  # noqa

    pidx, _ = load_packed_index(spark, path)
    wl = build_workload(200)[:50]
    terms = sorted({t for q in wl for t in q})
    sc = spark.sparkContext

    sc.setJobDescription("extra: packed scan+decode noop")
    packed = spark.read.parquet(f"{path}/packed")
    from bayesian_bm25_js_spark.operators.scoring import isin_filter

    pruned = packed.filter(isin_filter("term", terms))
    timed("packedq_scan_decode_noop", lambda: noop(unpack_postings(pruned)), timings)

    def full():
        with query_mode(spark):
            calibrate(
                top_k(score_queries(pidx, queries_to_df(spark, wl),
                                    terms_filter=terms), 10),
                pidx, 1.0, 0.5, 0.05,
            ).count()

    sc.setJobDescription("extra: packed full query")
    timed("packedq_full_1", full, timings)
    timed("packedq_full_2", full, timings)
    sc.setJobDescription(None)


def profile_phrase(spark, docs, timings):
    from pyspark.sql import functions as F

    from bayesian_bm25_js_spark.functions.prng import mulberry32 as _mb32
    from bayesian_bm25_js_spark.operators.phrase import (
        build_positional_index,
        phrase_topk,
        proximity_topk,
        _slot_pivot,
    )
    from bayesian_bm25_js_spark.session import query_mode

    t0 = time.time()
    pidx = build_positional_index(docs, k1=1.2, b=0.75, method="lucene")
    pidx.postings.count()
    timings["positional_build"] = round(time.time() - t0, 3)
    log(f"[extra] positional_build: {timings['positional_build']}s")

    # same hot workloads as bench.py
    from bayesian_bm25_js_spark.operators.index_build import build_inverted_index

    # top-df terms from the positional postings themselves
    hot_kws = [
        r["term"]
        for r in pidx.postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"))
        .limit(8)
        .collect()
    ]
    rng_p = _mb32(11)
    hot_phrases = [
        [hot_kws[int(rng_p() * len(hot_kws))], f"v{int(rng_p() * 50000)}"]
        for _ in range(50)
    ]
    prox_hot = [
        [hot_kws[int(rng_p() * len(hot_kws))], hot_kws[int(rng_p() * len(hot_kws))]]
        for _ in range(20)
    ]
    sc = spark.sparkContext

    with query_mode(spark):
        sc.setJobDescription("extra: slot_pivot only (prox shape)")
        uniq = [sorted(set(q)) for q in prox_hot]
        g, _ = _slot_pivot(pidx, uniq)
        timed("prox_slot_pivot_noop_1", lambda: noop(g), timings)
        g2, _ = _slot_pivot(pidx, uniq)
        timed("prox_slot_pivot_noop_2", lambda: noop(g2), timings)

        sc.setJobDescription("extra: proximity full")
        timed("prox_full_1",
              lambda: proximity_topk(pidx, prox_hot, 8, 10).count(), timings)
        timed("prox_full_2",
              lambda: proximity_topk(pidx, prox_hot, 8, 10).count(), timings)

        sc.setJobDescription("extra: phrase full")
        timed("phrase_full_1",
              lambda: phrase_topk(pidx, hot_phrases, 10).count(), timings)
        timed("phrase_full_2",
              lambda: phrase_topk(pidx, hot_phrases, 10).count(), timings)
    sc.setJobDescription(None)
    return pidx


if __name__ == "__main__":
    what = sys.argv[1] if len(sys.argv) > 1 else "all"
    timings: dict = {}
    spark = get_session()
    index = bm = corpus = docs = None
    if what in ("build", "pack", "packedq", "all"):
        index, bm, corpus, docs = profile_build(spark, timings)
    path = None
    if what in ("pack", "packedq", "all"):
        path = profile_pack(spark, index, timings)
        # write meta.json so load_packed_index works
        meta = {
            "n_docs": index.n_docs, "avgdl": index.avgdl, "k1": index.k1,
            "b": index.b, "method": index.method, "n_buckets": 32,
            "block_size": BLOCK_SIZE, "packed": True,
            "packed_format": 3, "transform": {},
        }
        with open(f"{path}/meta.json", "w") as f:
            json.dump(meta, f)
    if what in ("packedq", "all") and path:
        profile_packed_query(spark, path, timings)
    if what in ("phrase", "all"):
        if docs is None:
            index, bm, corpus, docs = profile_build(spark, timings)
        profile_phrase(spark, docs, timings)
    print(json.dumps(timings, indent=1))
    if path:
        import shutil

        shutil.rmtree(path, ignore_errors=True)
