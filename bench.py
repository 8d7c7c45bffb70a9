"""Benchmark harness — prints ONE JSON line for the driver.

Phases (timed separately, reported in "queries"):
  corpus_synth     deterministic code corpus (north-rule shape)
  index_build      inverted index + block-max metadata, forced via counts
  query_auto       batched top-10 calibrated BM25 through the DEFAULT
                   retrieve path (selectivity router, the flagship),
                   warm median
  query_warm       the pure block-max-WAND path on the same workload
  query_exhaustive the unpruned scorer (the pruning speedup denominator)
  query_hot_term   every query contains the corpus's top-df term — the
                   skew workload the partial-limit top-k window bounds
  packed_*         posting compression: pack+write, packed-vs-row size,
                   query through the delta+varint layout
  plus the oracle-suite headliners at $SPARK_GRAFT_SF_DIR.
  BENCH_LEAN=1 (scaling trials) keeps build + auto + wand legs only.

Also reported: wand_blocks_kept/total (pruning power) and per-phase
executor-CPU totals (from the event log) — the scaling evidence needs
CPU-vs-wall, not wall alone.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     BENCH_FILES (synthetic corpus size, default 100000),
     BENCH_QUERIES (workload size, default 200).

`python bench.py --scaling` additionally runs the same job at local[2],
local[8] and local[32] in subprocesses (two N->4N pairs) and writes the
scaling-efficiency report with hardware-ceiling probes (pure-Python CPU
burn + NumPy DRAM-bandwidth burn) to BENCH/BASELINE.md — the north
rule's two-cluster-size evidence.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_FILES = int(os.environ.get("BENCH_FILES", "100000"))
N_QUERIES = int(os.environ.get("BENCH_QUERIES", "200"))
BLOCK_SIZE = 128

# Last round's final commit: the ab_vs_prev comparison target. Bumped
# each round so "did this round make it faster" is answerable from
# BENCH_rN.json alone (same-session interleaved A/B, not cross-session
# wall-clock deltas that mostly measure the box — see BENCH_r02 vs
# BENCH_r03, where engine-external probes degraded 0.757 -> 0.157
# between sessions and every untouched leg 'regressed' 1.3-1.5x).
# Kept at the r3 tip for round 5: r4's A/B flagged a build/routed
# regression AGAINST THIS REV at the 50k/200 shape, so r5's artifact
# must answer the same question against the same baseline (VERDICT r4
# what's-wrong #1). Bump to the r5 tip next round.
PREV_ROUND_REV = os.environ.get("BENCH_AB_REV", "f06fd35")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def build_workload(n_queries: int):
    """Deterministic 2-4 term queries: realistic code-search shape —
    each term is 50/50 a hot keyword (Zipf head) or a long-tail
    identifier ("v{N}"), mirroring the corpus token distribution.
    Mixed selectivity exercises both the skew path (hot terms) and the
    block-max pruning path (selective terms)."""
    from bayesian_bm25_js_spark.functions.prng import mulberry32
    from bayesian_bm25_js_spark.sources.corpus import TAIL_VOCAB_SIZE, WEIGHTED_VOCAB

    vocab = sorted(set(WEIGHTED_VOCAB))
    rng = mulberry32(7)
    queries = []
    for _ in range(n_queries):
        n_terms = 2 + int(rng() * 3)
        terms = []
        for _ in range(n_terms):
            if rng() < 0.5:
                terms.append(vocab[int(rng() * len(vocab))])
            else:
                terms.append(f"v{int(rng() * TAIL_VOCAB_SIZE)}")
        queries.append(terms)
    return queries


def _phase_cpu_seconds(log_dir: str, app_id: str) -> dict:
    """Sum executor CPU (s) per jobGroup from the event log."""
    group_of_stage: dict[int, str] = {}
    cpu: dict[str, float] = {}
    for path in glob.glob(f"{log_dir}/**/events_*", recursive=True):
        opener = open(path)
        for line in opener:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                for si in ev.get("Stage Infos", []):
                    group_of_stage[si["Stage ID"]] = g
            elif et == "SparkListenerTaskEnd":
                g = group_of_stage.get(ev["Stage ID"], "")
                tm = ev.get("Task Metrics") or {}
                cpu[g] = cpu.get(g, 0.0) + tm.get("Executor CPU Time", 0) / 1e9
    return cpu


def measure_probes(cpus: int) -> dict:
    """Engine-external hardware-ceiling probes, embedded in every bench
    JSON so cross-round leg comparisons can be normalized for the
    box's condition THAT session. Must run before the JVM exists
    (mp.Pool forks; forking under a live JVM is unsafe). units/s are
    comparable across rounds: the work per unit is fixed."""
    return {
        "cpu_1proc": round(_probe(_burn_cpu, 1), 3),
        "dram_1proc": round(_probe(_burn_mem, 1), 3),
        f"cpu_{cpus}proc": round(_probe(_burn_cpu, cpus), 3),
        f"dram_{cpus}proc": round(_probe(_burn_mem, cpus), 3),
    }


def run_ab(prev_rev: str, trials: int = None,
           n_files: str = None, n_queries: str = None) -> dict:
    """Same-session interleaved A/B of the previous round's code vs
    HEAD on the flagship legs (build + wand + routed queries), lean
    mode, fresh JVM per run. This is the only trustworthy
    round-over-round speed signal on a box whose absolute throughput
    moves 1.3-1.5x between sessions. Raw per-trial rows ride in the
    artifact: this VM occasionally halves throughput for minutes at a
    time, and a contended trial is only diagnosable when the trial
    values themselves are visible next to the medians."""
    if trials is None:
        # 5 interleaved pairs: with 3, identical-code A/Bs measured an
        # hour apart read 0.997 and 0.813 on the routed leg — this
        # box's minute-scale throughput dips need more pairs for the
        # median to converge.
        trials = int(os.environ.get("BENCH_AB_TRIALS", "5"))
    import shutil

    wt = f"/tmp/bench-ab-{prev_rev}"
    shutil.rmtree(wt, ignore_errors=True)
    # a killed earlier run can leave the path registered but missing
    # ("already registered worktree"); prune before adding
    subprocess.run(["git", "worktree", "prune"], capture_output=True)
    rc = subprocess.run(
        ["git", "-C", os.path.dirname(os.path.abspath(__file__)) or ".",
         "worktree", "add", "--detach", wt, prev_rev],
        capture_output=True, text=True,
    )
    if rc.returncode != 0:
        return {"rev": prev_rev, "error": rc.stderr.strip()[:200]}
    try:
        env = dict(
            os.environ,
            BENCH_LEAN="1", BENCH_SKIP_SUITE="1", BENCH_SKIP_PACKED="1",
            BENCH_PROBE="0", BENCH_SKIP_AB="1",
            BENCH_FILES=n_files or os.environ.get("BENCH_AB_FILES", "50000"),
            BENCH_QUERIES=n_queries or os.environ.get("BENCH_AB_QUERIES", "200"),
            SPARK_GRAFT_CPUS=str(CPUS),
        )
        runs: dict[str, list[dict]] = {"prev": [], "cur": []}
        sides = [("prev", wt), ("cur", os.path.dirname(os.path.abspath(__file__)) or ".")]
        for t in range(trials):
            for name, d in sides if t % 2 == 0 else reversed(sides):
                out = subprocess.run(
                    [sys.executable, os.path.join(d, "bench.py")],
                    env=env, cwd=d, capture_output=True, text=True,
                )
                try:
                    runs[name].append(json.loads(out.stdout.strip().splitlines()[-1]))
                except (IndexError, json.JSONDecodeError):
                    return {"rev": prev_rev,
                            "error": f"{name} run failed: {out.stderr.strip()[-300:]}"}
                log(f"[ab] trial {t} {name}: "
                    f"{runs[name][-1]['files_per_sec']} f/s, "
                    f"{runs[name][-1]['qps_top10_calibrated']} q/s")
        med = lambda side, key: statistics.median(
            r.get(key) or 0 for r in runs[side]
        )
        legs = {}
        # cpu_s_* legs ride along as diagnostics: wall down + CPU flat
        # means better scheduling, wall down + CPU down means less work
        for key in ("files_per_sec", "qps_top10_calibrated", "qps_wand",
                    "cpu_s_build", "cpu_s_query_auto", "cpu_s_query_warm"):
            p, c = med("prev", key), med("cur", key)
            legs[key] = {"prev": p, "cur": c,
                         "ratio": round(c / p, 3) if p else None,
                         "raw_prev": [r.get(key) for r in runs["prev"]],
                         "raw_cur": [r.get(key) for r in runs["cur"]]}
        return {"rev": prev_rev, "trials": trials,
                "n_files": int(env["BENCH_FILES"]),
                "n_queries": int(env["BENCH_QUERIES"]), "legs": legs}
    finally:
        shutil.rmtree(wt, ignore_errors=True)
        subprocess.run(["git", "worktree", "prune"], capture_output=True)


def run_sf1() -> dict:
    """Scale rehearsal (VERDICT r03 next #2): the identical build +
    block-max + WAND/routed query + packed write/scan job at 10x the
    bench corpus (default 1M files ~ sf1), fresh JVM, bigger heap.
    Reports absolute throughputs plus the per-leg ratio vs the sf0.1
    run so any leg that falls off its predicted slope is visible in
    the artifact itself."""
    n_files = int(os.environ.get("BENCH_SF1_FILES", "1000000"))
    env = dict(
        os.environ,
        BENCH_FILES=str(n_files),
        BENCH_QUERIES=os.environ.get("BENCH_SF1_QUERIES", "1000"),
        BENCH_LEAN="1",
        BENCH_KEPT_STATS="1",
        BENCH_SKIP_SUITE="1",
        BENCH_SKIP_AB="1",
        BENCH_PROBE="0",
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_DRIVER_MEM=os.environ.get("BENCH_SF1_MEM", "24g"),
    )
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        env=env, capture_output=True, text=True,
    )
    try:
        r = json.loads(out.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        return {"n_files": n_files,
                "error": out.stderr.strip()[-400:] or "no output"}
    keep = ["n_files", "files_per_sec", "qps_top10_calibrated", "qps_wand",
            "wand_blocks_kept_frac", "packed_size_ratio", "cpu_s_build",
            "cpu_s_query_auto", "route_auto", "route_proxy_volume",
            "route_floor_used"]
    sf1 = {k: r.get(k) for k in keep}
    sf1["timings"] = r.get("queries")
    return sf1


def run_bench(cpus: int) -> dict:
    from pyspark.sql import functions as F

    from bayesian_bm25_js_spark.operators.compression import (
        block_max_table,
        pack_postings,
    )
    from bayesian_bm25_js_spark.operators.index_build import build_inverted_index
    from bayesian_bm25_js_spark.operators.scoring import (
        calibrate,
        queries_to_df,
        score_queries,
        top_k,
    )
    from bayesian_bm25_js_spark.operators.tokenize import tokenize_column
    from bayesian_bm25_js_spark.operators.wand import auto_topk, wand_topk
    from bayesian_bm25_js_spark.session import get_spark
    from bayesian_bm25_js_spark.session import query_mode as _query_mode

    # BENCH_QUERY_MODE=0: perf-bisection toggle — run query legs with
    # AQE left on instead of the query_mode AQE-off context
    if os.environ.get("BENCH_QUERY_MODE") == "0":
        import contextlib

        query_mode = lambda _s: contextlib.nullcontext()
    else:
        query_mode = _query_mode
    from bayesian_bm25_js_spark.sources.corpus import synthesize_code_corpus

    # probes BEFORE the JVM exists (fork safety) — skipped in lean
    # scaling/AB children, whose parent probes once for all trials
    probes = None
    if os.environ.get("BENCH_PROBE", "1") != "0":
        probes = measure_probes(cpus)
        log(f"[bench] hw probes: {probes}")

    log_dir = f"/tmp/bench-events-{os.getpid()}"
    os.makedirs(log_dir, exist_ok=True)
    # Two partition knobs, BOTH held constant across the scaling sweep
    # (the cap argument wants identical physical plans at every level):
    # shuffle partitions 32 (build shuffles are cheapest near one
    # partition per core; 128 cost +18% build CPU at local[32]) and
    # cache LAYOUT partitions 128 (the scoring agg combines map-side
    # over the postings cache's partitions and spills ~10 GB/batch when
    # the layout is cores-sized — see build_inverted_index).
    spark = get_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=int(os.environ.get("BENCH_SHUFFLE_PARTS", "32")),
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    timings: dict[str, float] = {}

    # -- JIT warmup (untimed): heat the codegen/JIT paths the timed
    # phases use, so fresh-JVM compilation cost doesn't masquerade as
    # serial fraction in the scaling comparison.
    if os.environ.get("BENCH_WARMUP", "1") != "0":
        t0 = time.time()
        wc = synthesize_code_corpus(spark, 5000).persist()
        wdocs = wc.select("doc_id", tokenize_column(F.col("content")).alias("tokens"))
        widx = build_inverted_index(wdocs, k1=1.2, b=0.75, method="lucene")
        wbm = block_max_table(widx, BLOCK_SIZE)
        wq = build_workload(20)
        wqdf = queries_to_df(spark, wq)
        wterms = sorted({t for q in wq for t in q})
        with query_mode(spark):
            calibrate(
                wand_topk(widx, wqdf, 10, block_max=wbm, block_size=BLOCK_SIZE,
                          terms_filter=wterms),
                widx, 1.0, 0.5, 0.05,
            ).count()
            calibrate(top_k(score_queries(widx, wqdf), 10), widx, 1.0, 0.5, 0.05).count()
        widx.unpersist()
        wc.unpersist()
        log(f"[bench] warmup {time.time() - t0:.1f}s")

    # -- corpus ------------------------------------------------------------
    t0 = time.time()
    corpus = synthesize_code_corpus(spark, N_FILES).persist()
    n = corpus.count()
    timings["corpus_synth"] = round(time.time() - t0, 3)
    log(f"[bench] corpus: {n} files in {timings['corpus_synth']}s")

    # -- index build (inverted index + block-max metadata) -------------------
    sc.setJobGroup("build", "index build")
    t0 = time.time()
    docs = corpus.select("doc_id", tokenize_column(F.col("content")).alias("tokens"))
    # BENCH_LAYOUT_PARTS pins the cache layout (the scaling sweep pins
    # 128 so every level runs one plan); unset, the engine's data-sized
    # default (index_build.layout_grain) applies — coarse for small
    # corpora, 4x-fine when a design-width batch would spill.
    lp_env = os.environ.get("BENCH_LAYOUT_PARTS")
    index = build_inverted_index(
        docs, k1=1.2, b=0.75, method="lucene",
        layout_partitions=int(lp_env) if lp_env else None,
    )
    n_postings = index.postings.count()
    t_idx = time.time() - t0
    n_layout = index.postings.rdd.getNumPartitions()
    t_rdd = time.time() - t0 - t_idx
    bm = (
        block_max_table(index, BLOCK_SIZE)
        .repartition(n_layout, "term_id")
        .sortWithinPartitions("term_id")
        .persist()
    )
    n_blocks = bm.count()
    log(f"[bench] build sub-phases: index {t_idx:.2f}s, rdd-parts {t_rdd:.2f}s, "
        f"block_max {time.time() - t0 - t_idx - t_rdd:.2f}s (layout {n_layout})")
    build_s = time.time() - t0
    sc.setJobGroup("", "")
    timings["index_build"] = round(build_s, 3)
    files_per_sec = round(n / build_s, 1)
    log(
        f"[bench] index: {n_postings} postings, {n_blocks} block entries "
        f"in {build_s:.1f}s = {files_per_sec} files/s"
    )

    # -- query workload: flagship = WAND-pruned calibrated top-10 ------------
    # EVERY timed leg constructs its query DataFrame inside the timed
    # region: a production batch is always new queries, and reusing
    # one persisted/planned query DF across repeats lets Spark skip
    # shuffle stages — flattering whichever leg got the shared object
    # (measured: shared scored-DF hot leg 0.98s vs fresh 1.33s for
    # identical work). Fresh construction keeps all legs — pure wand,
    # pure exhaustive, routed — apples-to-apples.
    workload = build_workload(N_QUERIES)
    terms = sorted({t for q in workload for t in q})
    qdf = queries_to_df(spark, workload)  # un-timed uses (stats leg)

    # All query legs execute under query_mode (AQE off for the action:
    # bounded intermediates + the partial-limit top-k leave AQE only its
    # per-stage driver re-plan cost — profiled 19.6s -> 13.4s per
    # routed 1000-query batch at local[32]). Builds above keep AQE.
    def run_wand():
        with query_mode(spark):
            ranked = wand_topk(
                index, queries_to_df(spark, workload), 10, block_max=bm,
                block_size=BLOCK_SIZE, terms_filter=terms,
            )
            return calibrate(ranked, index, 1.0, 0.5, 0.05).count()

    def run_exhaustive():
        with query_mode(spark):
            scores = score_queries(
                index, queries_to_df(spark, workload), terms_filter=terms
            )
            return calibrate(top_k(scores, 10), index, 1.0, 0.5, 0.05).count()

    def run_auto(wl):
        kw = {}
        if router_floor is not None:
            kw["min_prunable_postings"] = router_floor
        with query_mode(spark):
            ranked = auto_topk(index, wl, 10, block_max=bm, block_size=BLOCK_SIZE, **kw)
            return calibrate(ranked, index, 1.0, 0.5, 0.05).count()

    t0 = time.time()
    n_results = run_wand()
    timings["query_cold"] = round(time.time() - t0, 3)
    # BENCH_REPS: warm repetitions per timed leg (sf1-scale sweeps
    # trade repetition count for corpus size; medians-over-trials still
    # interleave at the sweep level)
    reps = int(os.environ.get("BENCH_REPS", "3"))
    sc.setJobGroup("query", "warm wand queries")
    warm = []
    for _ in range(reps):
        t0 = time.time()
        run_wand()
        warm.append(time.time() - t0)
    sc.setJobGroup("", "")
    query_s = statistics.median(warm)
    timings["query_warm"] = round(query_s, 3)
    qps = round(N_QUERIES / query_s, 2)
    log(f"[bench] wand queries: {N_QUERIES} in median {query_s:.2f}s = {qps} q/s ({n_results} rows)")

    # LEAN mode (scaling trials): skip the comparison legs that don't
    # feed the scaling report — exhaustive A/B, pruning stats, hot-term
    # workload — so each fresh-JVM trial measures build + flagship only.
    lean = os.environ.get("BENCH_LEAN") == "1"

    router_floor = None
    blocks_kept_frac = None
    if not lean or os.environ.get("BENCH_KEPT_STATS") == "1":
        _, kstats = wand_topk(index, qdf, 10, block_max=bm,
                              block_size=BLOCK_SIZE, terms_filter=terms,
                              return_stats=True)
        krow = kstats.agg(
            F.sum("blocks_total").alias("t"), F.sum("blocks_kept").alias("k")
        ).collect()[0]
        blocks_kept_frac = round(krow["k"] / krow["t"], 4) if krow["t"] else None
        log(f"[bench] wand pruning: kept {krow['k']}/{krow['t']} blocks = {blocks_kept_frac}")

    if not lean:
        exh = []
        for _ in range(2):
            t0 = time.time()
            run_exhaustive()
            exh.append(time.time() - t0)
        timings["query_exhaustive"] = round(min(exh), 3)
        log(f"[bench] exhaustive: {timings['query_exhaustive']}s "
            f"(pruning speedup {timings['query_exhaustive']/query_s:.2f}x)")

        # Self-calibrate the router floor from the two branch timings
        # just measured (fit_router_floor docstring has the model):
        # the routed legs below run with THIS box's constants, not the
        # hand-calibrated 50M default.
        from bayesian_bm25_js_spark.operators.wand import (
            estimate_prunable_volume,
            fit_router_floor,
        )

        dfs = index.df_lookup([t for q in workload for t in q])
        batch_volume = sum(dfs.get(t, 0) for q in workload for t in q)
        # fit in the router's OWN proxy units (the estimator it will
        # compare the floor against), not raw avoided volume
        proxy, _ = estimate_prunable_volume(index, workload)
        router_floor = fit_router_floor(
            query_s, timings["query_exhaustive"], batch_volume,
            blocks_kept_frac or 0.2, proxy_volume=proxy,
        )
        log(f"[bench] router floor fitted: {router_floor} proxy postings "
            f"(batch volume {batch_volume}, proxy {proxy:.0f}, "
            f"kept {blocks_kept_frac})")

    # selectivity-routed flagship: per-batch WAND vs exhaustive
    sc.setJobGroup("query_auto", "warm routed queries")
    auto = []
    for i in range(reps):
        t0 = time.time()
        run_auto(workload)
        auto.append(time.time() - t0)
        if i == 0:
            log(f"[bench] router decision: {getattr(index, '_last_route', None)}")
    sc.setJobGroup("", "")
    timings["query_auto"] = round(statistics.median(auto), 3)
    qps_auto = round(N_QUERIES / timings["query_auto"], 2)
    route = getattr(index, "_last_route", None) or {}
    log(f"[bench] routed queries: median {timings['query_auto']}s = "
        f"{qps_auto} q/s (wand {query_s:.2f}s, exhaustive "
        f"{timings.get('query_exhaustive', '-')}s)")

    # -- hot-term skew workload ----------------------------------------------
    # Every query contains the corpus's top-df term: the per-query
    # scored set is ~the whole corpus, the skew workload top_k's
    # partial WindowGroupLimit bounds (at most k rows per query per
    # partition cross its exchange). Timed through WAND, the exhaustive
    # scorer and the router.
    if lean:
        top_term = None
    else:
        top_term = index.term_stats.orderBy(F.desc("df")).limit(1).collect()[0]["term"]
    hot_wl = [[top_term] + q[:2] for q in workload[:50]] if top_term else []
    if hot_wl:
        hot_terms = sorted({t for q in hot_wl for t in q})
        index.df_lookup(hot_terms)  # router df cache warm, like a service

        def best2(fn):
            # single-shot legs swing +-30% on this box; best-of-2 is a
            # stable lower bound and keeps legs comparable
            a = []
            for _ in range(2):
                t0 = time.time()
                fn()
                a.append(time.time() - t0)
            return round(min(a), 3)

        def hot_exhaustive():
            with query_mode(spark):
                hot_scores = score_queries(
                    index, queries_to_df(spark, hot_wl), terms_filter=hot_terms
                )
                calibrate(top_k(hot_scores, 10), index, 1.0, 0.5, 0.05).count()

        timings["query_hot_exhaustive"] = best2(hot_exhaustive)
        def hot_wand():
            with query_mode(spark):
                calibrate(
                    wand_topk(index, queries_to_df(spark, hot_wl), 10,
                              block_max=bm, block_size=BLOCK_SIZE,
                              terms_filter=hot_terms),
                    index, 1.0, 0.5, 0.05,
                ).count()

        timings["query_hot_term"] = best2(hot_wand)
        timings["query_hot_auto"] = best2(lambda: run_auto(hot_wl))
        log(f"[bench] hot-term workload (50 q, all containing '{top_term}', "
            f"df={index.term_stats.filter(F.col('term') == top_term).collect()[0]['df']}): "
            f"wand {timings['query_hot_term']}s, exhaustive "
            f"{timings['query_hot_exhaustive']}s, routed {timings['query_hot_auto']}s")

    # -- positional retrieval legs (hot-term shapes) ---------------------------
    # phrase_hot: selective phrases (hot keyword + rare identifier) —
    # the shape the rarest-term candidate pruning exists for; the
    # _nopruned twin runs the identical workload with the candidate
    # broadcast disabled, so the artifact carries the speedup itself.
    # proximity_hot: two ubiquitous keywords per query — every doc
    # matches, so the timing is dominated by the minimal-cover kernel
    # over ~tf(hot1)+tf(hot2) events per doc (the vectorized-kernel
    # workload, VERDICT r4 next #4).
    if not lean:
        from bayesian_bm25_js_spark.functions.prng import mulberry32 as _mb32
        from bayesian_bm25_js_spark.operators.phrase import (
            build_positional_index,
            phrase_topk,
            proximity_topk,
        )

        t0 = time.time()
        pidx = build_positional_index(docs, k1=1.2, b=0.75, method="lucene")
        pidx.postings.count()
        timings["positional_build_synth"] = round(time.time() - t0, 3)
        hot_kws = [r["term"] for r in index.term_stats.orderBy(F.desc("df"))
                   .limit(8).collect()]
        rng_p = _mb32(11)
        hot_phrases = [
            [hot_kws[int(rng_p() * len(hot_kws))], f"v{int(rng_p() * 50000)}"]
            for _ in range(50)
        ]
        prox_hot = [
            [hot_kws[int(rng_p() * len(hot_kws))],
             hot_kws[int(rng_p() * len(hot_kws))]]
            for _ in range(20)
        ]

        def best2p(fn):
            a = []
            for _ in range(2):
                t0 = time.time()
                fn()
                a.append(time.time() - t0)
            return round(min(a), 3)

        with query_mode(spark):
            timings["phrase_hot"] = best2p(
                lambda: phrase_topk(pidx, hot_phrases, 10).count())
            timings["phrase_hot_nopruned"] = best2p(
                lambda: phrase_topk(pidx, hot_phrases, 10,
                                    candidate_limit=0).count())
            timings["proximity_hot"] = best2p(
                lambda: proximity_topk(pidx, prox_hot, 8, 10).count())
        log(f"[bench] phrase_hot {timings['phrase_hot']}s vs nopruned "
            f"{timings['phrase_hot_nopruned']}s "
            f"({timings['phrase_hot_nopruned']/max(timings['phrase_hot'],1e-9):.2f}x), "
            f"proximity_hot {timings['proximity_hot']}s")
        pidx.unpersist()

    # -- packed-index leg ------------------------------------------------------
    if os.environ.get("BENCH_SKIP_PACKED") != "1":
        import shutil

        from bayesian_bm25_js_spark.sources.index_store import (
            load_packed_index,
            save_index,
        )

        idx_path = f"/tmp/bench-index-{os.getpid()}"
        t0 = time.time()
        save_index(index, idx_path, packed=True, block_size=BLOCK_SIZE)
        timings["packed_write"] = round(time.time() - t0, 3)

        def du(p):
            return sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(p)
                for f in fs
            )

        row_bytes = du(f"{idx_path}/postings")
        packed_bytes = du(f"{idx_path}/packed")
        packed_ratio = round(packed_bytes / row_bytes, 4) if row_bytes else None
        pidx, _ = load_packed_index(spark, idx_path)
        small_wl = workload[:50]
        small_qdf = queries_to_df(spark, small_wl)
        small_terms = sorted({t for q in small_wl for t in q})
        t0 = time.time()
        # terms_filter pushes the term In-predicate into the packed
        # parquet scan, so non-matching blocks are skipped BEFORE any
        # varint decode — the realistic packed query pattern
        with query_mode(spark):
            calibrate(
                top_k(score_queries(pidx, small_qdf, terms_filter=small_terms), 10),
                pidx, 1.0, 0.5, 0.05,
            ).count()
        timings["packed_query_50"] = round(time.time() - t0, 3)
        log(f"[bench] packed: write {timings['packed_write']}s, "
            f"packed/row size {packed_ratio}, 50-query scan {timings['packed_query_50']}s")
        shutil.rmtree(idx_path, ignore_errors=True)
    else:
        packed_ratio = None

    # -- oracle-suite headliners at SF_DIR ------------------------------------
    extras: dict = {}
    if not os.environ.get("BENCH_SKIP_SUITE"):
        import __spark_entry__ as entry_mod

        # build-once costs are their own legs so the query legs time
        # only the per-batch work a user actually pays repeatedly
        t0 = time.time()
        entry_mod._index(spark, SF_DIR).postings.count()
        timings["suite_index_build"] = round(time.time() - t0, 3)
        log(f"[bench] suite_index_build: {timings['suite_index_build']}s")
        t0 = time.time()
        entry_mod._block_max(spark, SF_DIR).count()
        timings["suite_block_max"] = round(time.time() - t0, 3)
        log(f"[bench] suite_block_max: {timings['suite_block_max']}s")
        t0 = time.time()
        entry_mod._ivf(spark, SF_DIR)
        timings["ivf_build"] = round(time.time() - t0, 3)
        log(f"[bench] ivf_build: {timings['ivf_build']}s")

        # recall@10 of the pruned IVF path per n_probe — parity tests
        # prove the path matches its mirror; recall is how a user
        # grades an ANN index (VERDICT r03 missing #2). 32 corpus
        # vectors as queries against the same sf index.
        from bayesian_bm25_js_spark.operators.similarity import ivf_recall

        assigned, centroids = entry_mod._ivf(spark, SF_DIR)
        rq = (
            spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            .filter(F.col("vec_id") < 32)
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qvec"))
        )
        t0 = time.time()
        extras["ivf_recall"] = ivf_recall(
            assigned, centroids, rq, k=10, n_probes=(1, 2, 4, 8)
        )
        timings["ivf_recall_eval"] = round(time.time() - t0, 3)
        log(f"[bench] ivf_recall@10: {extras['ivf_recall']} "
            f"({timings['ivf_recall_eval']}s)")

        for name in ["bm25_calibrated_topk", "bm25_wand_topk", "bm25_auto_topk",
                     "dense_probabilities",
                     "cosine_topk", "ivf_topk", "streaming_index_topk",
                     "phrase_topk", "proximity_topk",
                     "dedup_exact", "text_stats"]:
            fn = entry_mod.queries()[name]
            if name == "streaming_index_topk":
                # first call pays the 3-epoch ingest (cached after);
                # report ingest and query as separate legs like ivf
                t0 = time.time()
                fn(spark, SF_DIR).count()
                timings["streaming_ingest"] = round(time.time() - t0, 3)
                log(f"[bench] streaming_ingest: {timings['streaming_ingest']}s")
            if name == "phrase_topk":
                # first call pays build_positional_index (cached after;
                # proximity_topk reuses it) — report build separately
                t0 = time.time()
                fn(spark, SF_DIR).count()
                timings["positional_build"] = round(time.time() - t0, 3)
                log(f"[bench] positional_build: {timings['positional_build']}s")
            t0 = time.time()
            fn(spark, SF_DIR).count()
            timings[name] = round(time.time() - t0, 3)
            log(f"[bench] {name}: {timings[name]}s")

    app_id = sc.applicationId
    spark.stop()
    cpu = _phase_cpu_seconds(log_dir, app_id)
    import shutil

    shutil.rmtree(log_dir, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    return {
        "metric": "bench_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "cpus": cpus,
        "n_files": n,
        "files_per_sec": files_per_sec,
        # flagship = the routed path (the engine's default retrieve
        # strategy), one batch — batches amortize the metadata scans,
        # so a service maximizes throughput by batching wide, not by
        # splitting into concurrent jobs (measured 2.2x slower)
        "qps_top10_calibrated": qps_auto,
        "qps_wand": qps,
        "wand_blocks_kept_frac": blocks_kept_frac,
        "router_floor_fitted": router_floor,
        "route_auto": route.get("decision"),
        "route_proxy_volume": route.get("proxy_volume"),
        "route_floor_used": route.get("floor"),
        "packed_size_ratio": packed_ratio,
        "probes": probes,
        "cpu_s_build": round(cpu.get("build", 0.0), 1),
        "cpu_s_query_warm": round(cpu.get("query", 0.0) / reps, 1),
        "cpu_s_query_auto": round(cpu.get("query_auto", 0.0) / reps, 1),
        **extras,
    }


def _burn_cpu(_):
    x = 0
    for i in range(30_000_000):
        x += i * i
    return x


def _burn_mem(_):
    import numpy as np

    a = np.arange(32_000_000, dtype=np.float64)  # 256 MB stream
    s = 0.0
    for _ in range(8):
        s += a.sum()
    return s


def _probe(fn, n_procs: int) -> float:
    """Hardware-ceiling probe: embarrassingly parallel work outside any
    JVM/shuffle — what N processes can actually extract from this box,
    the upper bound on ANY engine's scaling here. _burn_cpu is
    compute-bound; _burn_mem is DRAM-bandwidth-bound (the profile of a
    scan/shuffle engine)."""
    import multiprocessing as mp

    t0 = time.time()
    with mp.Pool(n_procs) as p:
        p.map(fn, range(n_procs))
    return n_procs / (time.time() - t0)


def _live_sibling_benches() -> list:
    """Other live `python .../bench.py` processes on this box (/proc
    scan, Linux-only). A concurrent bench — e.g. an orphaned sweep from
    a crashed session — contends for every core AND appends rows with a
    foreign probe signature into scaling_trials.jsonl; starting a sweep
    over one silently corrupts both runs' evidence."""
    me = os.getpid()
    sibs = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().decode(errors="replace").split("\0")
        except OSError:
            continue
        if (
            len(argv) >= 2
            and "python" in os.path.basename(argv[0])
            and argv[1].endswith("bench.py")
        ):
            sibs.append(f"pid {pid}: {' '.join(a for a in argv if a)}")
    return sibs


def run_scaling() -> None:
    """Interleaved subprocess trials at the configured parallelism levels
    (fresh JVM per trial, alternating order to decorrelate machine
    noise), medians reported, plus CPU and DRAM hardware-ceiling
    probes — engine efficiency is meaningful only relative to what the
    (contended, virtualized) box itself delivers."""
    sibs = _live_sibling_benches()
    if sibs and not os.environ.get("SCALING_IGNORE_SIBLINGS"):
        raise SystemExit(
            "[scaling] refusing to start: live bench.py process(es) would "
            "contend for every core and interleave foreign rows into "
            "BENCH/scaling_trials.jsonl:\n  "
            + "\n  ".join(sibs)
            + "\nkill them (or set SCALING_IGNORE_SIBLINGS=1 to override)"
        )
    trials = int(os.environ.get("SCALING_TRIALS", "3"))
    n_files = os.environ.get("BENCH_FILES", "300000")
    # 2000-wide batches: the engine's saturating operating point at the
    # default 128-way layout (tools/width_sweep.py — throughput rises
    # with width as per-batch plan/broadcast cost amortizes, then falls
    # off an agg-spill cliff at ~4000). The SAME width runs at every
    # level, so the comparison stays same-job-at-both-sizes; the width
    # annex in BASELINE.md reports the full per-width curve including
    # the historical 1000-wide protocol point.
    n_queries = os.environ.get("BENCH_QUERIES", "2000")
    levels = [int(x) for x in os.environ.get("SCALING_LEVELS", "2,8,32").split(",")]
    results: dict[int, list[dict]] = {c: [] for c in levels}
    # probes up front so every incremental report has them
    log("[scaling] probing hardware ceilings (cpu + DRAM)...")
    hw_cpu = {c: _probe(_burn_cpu, c) for c in levels}
    hw_mem = {c: _probe(_burn_mem, c) for c in levels}
    os.makedirs("BENCH", exist_ok=True)
    # one run per file — but the PREVIOUS sweep's raw rows are the only
    # replay evidence for its report, so rotate instead of truncating
    # (ADVICE r4: starting-then-aborting a sweep must not destroy them)
    trials_path = "BENCH/scaling_trials.jsonl"
    if os.path.exists(trials_path) and os.path.getsize(trials_path):
        os.replace(
            trials_path,
            f"BENCH/scaling_trials.{int(time.time())}.jsonl",
        )
    open(trials_path, "w").close()
    for t in range(trials):
        for cpus in levels if t % 2 == 0 else reversed(levels):
            env = dict(
                os.environ,
                SPARK_GRAFT_CPUS=str(cpus),
                BENCH_FILES=n_files,
                BENCH_QUERIES=n_queries,
                BENCH_SKIP_SUITE="1",
                BENCH_SKIP_PACKED="1",
                BENCH_LEAN="1",
                BENCH_PROBE="0",
                # protocol: pin the layout so every level (and every
                # round) runs the identical physical plan regardless
                # of the engine's data-sized default
                BENCH_LAYOUT_PARTS=os.environ.get("BENCH_LAYOUT_PARTS", "128"),
                # 8-12g is the sweet spot: bigger heaps anti-scale at 32
                # threads in this VM (lazy page-fault storms on fresh
                # young-gen pages).
                SPARK_DRIVER_MEM=os.environ.get("SPARK_DRIVER_MEM", "10g"),
            )
            out = subprocess.run(
                [sys.executable, __file__], env=env, capture_output=True, text=True
            )
            line = out.stdout.strip().splitlines()[-1]
            r = json.loads(line)
            results[cpus].append(r)
            # raw-trial persistence: the report is a pure function of
            # these rows, so a crashed/edited report writer can replay
            # them (tools/rewrite_scaling_report.py) without re-running
            # ~40 min of trials.
            os.makedirs("BENCH", exist_ok=True)
            with open("BENCH/scaling_trials.jsonl", "a") as fh:
                fh.write(json.dumps({"trial": t, "cpus": cpus, **r,
                                     "hw_cpu": hw_cpu, "hw_mem": hw_mem,
                                     "n_files": n_files,
                                     "n_queries": n_queries}) + "\n")
            log(
                f"[scaling] trial {t} local[{cpus}]: "
                f"{r['files_per_sec']} f/s, {r['qps_top10_calibrated']} q/s, "
                f"cpu build {r['cpu_s_build']}s / query {r['cpu_s_query_auto']}s"
            )
        # crash-safe: regenerate the report after every completed trial
        if all(results[c] for c in levels):
            _write_scaling_report(results, levels, hw_cpu, hw_mem, t + 1,
                                  n_files, n_queries)
    log(f"[scaling] -> {os.environ.get('SCALING_REPORT_PATH', 'BENCH/BASELINE.md')}")


def _write_scaling_report(results, levels, hw_cpu, hw_mem, trials,
                          n_files, n_queries) -> None:
    med = lambda rs, key: statistics.median(r[key] for r in rs)
    mx = lambda rs, key: max(r[key] for r in rs)
    f = {c: med(results[c], "files_per_sec") for c in levels}
    q = {c: med(results[c], "qps_top10_calibrated") for c in levels}
    fm = {c: mx(results[c], "files_per_sec") for c in levels}
    qm = {c: mx(results[c], "qps_top10_calibrated") for c in levels}
    cpu_q = {c: med(results[c], "cpu_s_query_auto") for c in levels}
    cpu_b = {c: med(results[c], "cpu_s_build") for c in levels}

    def eff(d, lo, hi):
        return (d[hi] / d[lo]) / (hi / lo)

    pairs = [(levels[i], levels[i + 1]) for i in range(len(levels) - 1)]
    os.makedirs("BENCH", exist_ok=True)

    def row(label, d, fmt="{:.2f}"):
        return (
            f"| {label} | " + " | ".join(fmt.format(d[c]) for c in levels) + " |\n"
        )

    def eff_row(label, d):
        return (
            f"| {label} | "
            + " | ".join(f"{eff(d, lo, hi):.3f}" for lo, hi in pairs)
            + " |\n"
        )

    report_path = os.environ.get("SCALING_REPORT_PATH", "BENCH/BASELINE.md")
    with open(report_path, "w") as fh:
        fh.write(
            "# BENCH — two-cluster-size scaling evidence (north rule)\n\n"
            "Same job, same input, at three local[N] parallelism levels —\n"
            "two N→4N pairs (2→8 and 8→32) on a 32-vCPU single-socket VM.\n"
            f"Medians over {trials} interleaved fresh-JVM trials per level.\n"
            "Efficiency(lo→hi) = (throughput_hi / throughput_lo) / (hi/lo).\n\n"
            "**Hardware context.** Two engine-external ceiling probes, no JVM\n"
            "and no shuffle: a pure-Python compute burn (cpu ceiling) and a\n"
            "NumPy 256MB-array streaming sum (DRAM-bandwidth ceiling — the\n"
            "resource profile of a scan/shuffle engine). Engine efficiency\n"
            "must be read against these: this box loses DRAM bandwidth per\n"
            "core long before 32 cores.\n\n"
            "| throughput | " + " | ".join(f"local[{c}]" for c in levels) + " |\n"
            "|---|" + "|".join(["---"] * len(levels)) + "|\n"
            + row("index build (files/s)", f, "{:.0f}")
            + row("top-10 calibrated routed queries/s", q)
            + row("cpu-ceiling probe (units/s)", hw_cpu)
            + row("DRAM-ceiling probe (units/s)", hw_mem)
            + "\n| efficiency | "
            + " | ".join(f"{lo}→{hi} (×4)" for lo, hi in pairs)
            + " |\n|---|" + "|".join(["---"] * len(pairs)) + "|\n"
            + eff_row("index build (median)", f)
            + eff_row("queries (median)", q)
            + eff_row("index build (best trial)", fm)
            + eff_row("queries (best trial)", qm)
            + eff_row("cpu ceiling", hw_cpu)
            + eff_row("DRAM ceiling", hw_mem)
            + "\n**Engine-internal parallelization is near-perfect; the gap is "
            "the box.** Total executor-CPU seconds for the same warm query "
            "batch: "
            + ", ".join(f"{cpu_q[c]:.0f}s at local[{c}]" for c in levels)
            + " — the work itself inflates as cores contend for DRAM (the "
            "probes show the same inflation), while stage walls stay at "
            "(total CPU)/(slots). Both partition knobs are level-invariant — "
            "shuffle partitions 32, cached postings/block-max LAYOUT 128-way "
            "doc_id/term_id — so every level runs the identical physical "
            "plan (the cap comparison requires it). The 4x-finer cache "
            "layout keeps the scoring agg's per-task combine map small "
            "enough to never spill (cores-sized layout spilled ~10 GB/batch "
            "at 8 AND 32 threads, +96% stage CPU; build shuffles stay at 32 "
            "partitions — 128 cost +18% build CPU; tools/profile_query.py).\n\n"
            f"Corpus: {n_files} synthetic code files (sources/corpus.py, "
            f"north-rule shape: Zipf-head keywords + 50k-identifier long "
            f"tail), {n_queries}-query mixed hot/rare top-10 calibrated "
            "workload through the DEFAULT retrieve path (selectivity "
            "router, operators/wand.auto_topk — at this shape it routes "
            "the batch through block-max WAND; r2 measured WAND 4x "
            "faster than exhaustive here), warm-median timing, query "
            "actions under session.query_mode (AQE off — builds keep "
            "it), fused bounds/τ/survivor kernel, shuffle on tmpfs "
            "(spark.local.dir=/dev/shm; this VM's block device "
            "serializes shuffle I/O).\n\n"
            "Index-build CPU totals: "
            + ", ".join(f"{cpu_b[c]:.0f}s at local[{c}]" for c in levels)
            + "\n\n**Batch-overlap A/B (negative result, kept off).** "
            "Splitting the 1000-query batch into 4 thread-pooled "
            "concurrent jobs (depth 2) to hide per-batch driver-serial "
            "time measured 28.6 q/s vs 62.8 q/s single-batch at "
            "local[32], with executor CPU inflated ~3x: concurrent "
            "sub-batches each rescan the block_max/postings caches that "
            "one batch amortizes across all its queries, and the "
            "router already overlaps its two branches inside one job. "
            "The throughput knob at high core counts is batch WIDTH "
            "(scan amortization), not job concurrency.\n\nRaw "
            "trials:\n\n```\n"
            + "\n".join(
                f"local[{c}] trial {i}: {r['files_per_sec']} f/s, "
                f"{r['qps_top10_calibrated']} q/s, cpu(q) {r['cpu_s_query_auto']}s"
                for c in levels
                for i, r in enumerate(results[c])
            )
            + "\n```\n"
            # measured vs engine-CPU cap: identical plan/partitioning/data
            # at every level, so per-level executor-CPU totals bound what
            # any scheduler could do: cap(lo->hi) = CPU_lo / CPU_hi (wall
            # cannot beat total-CPU/slots).
            + "\n## Measured vs ceiling (medians)\n\n"
            "The engine runs the IDENTICAL plan, partitioning, and data at "
            "every level — only the thread count varies — so the per-level "
            "executor-CPU totals bound what any scheduler could achieve on "
            "this box: cap(lo→hi) = CPU_lo / CPU_hi (wall cannot beat "
            "total-CPU/slots).\n\n"
            "| queries | " + " | ".join(f"{lo}→{hi}" for lo, hi in pairs) + " |\n"
            "|---|" + "|".join(["---"] * len(pairs)) + "|\n"
            "| measured efficiency | "
            + " | ".join(f"{eff(q, lo, hi):.3f}" for lo, hi in pairs) + " |\n"
            "| CPU-inflation cap | "
            + " | ".join(
                f"{cpu_q[lo] / cpu_q[hi]:.3f}" if cpu_q[hi] else "-"
                for lo, hi in pairs
            )
            + " |\n| measured / cap | "
            + " | ".join(
                f"**{eff(q, lo, hi) / (cpu_q[lo] / cpu_q[hi]):.2f}**"
                if cpu_q[hi] and cpu_q[lo] else "-"
                for lo, hi in pairs
            )
            + " |\n| DRAM-ceiling probe (same box, same hour) | "
            + " | ".join(f"{eff(hw_mem, lo, hi):.3f}" for lo, hi in pairs)
            + " |\n\n| index build | "
            + " | ".join(f"{lo}→{hi}" for lo, hi in pairs) + " |\n"
            "|---|" + "|".join(["---"] * len(pairs)) + "|\n"
            "| measured efficiency | "
            + " | ".join(f"{eff(f, lo, hi):.3f}" for lo, hi in pairs) + " |\n"
            "| CPU-inflation cap | "
            + " | ".join(
                f"{cpu_b[lo] / cpu_b[hi]:.3f}" if cpu_b[hi] else "-"
                for lo, hi in pairs
            )
            + " |\n| measured / cap | "
            + " | ".join(
                f"**{eff(f, lo, hi) / (cpu_b[lo] / cpu_b[hi]):.2f}**"
                if cpu_b[hi] and cpu_b[lo] else "-"
                for lo, hi in pairs
            )
            + " |\n"
        )
        # hand-written interpretation (per-sweep "Reading:" notes, the
        # batch-width annex, ...) lives in BENCH/BASELINE_annex.md and
        # is appended verbatim, so crash-replays and future sweeps
        # never drop it (tools/rewrite_scaling_report.py replays this
        # whole function from the raw trial rows).
        annex = os.path.join("BENCH", "BASELINE_annex.md")
        if os.path.exists(annex):
            fh.write("\n" + open(annex).read())
    for lo, hi in pairs:
        log(
            f"[scaling] ({trials} trials) {lo}->{hi}: build eff={eff(f, lo, hi):.3f} "
            f"query eff={eff(q, lo, hi):.3f} "
            f"cpu ceiling={eff(hw_cpu, lo, hi):.3f} mem ceiling={eff(hw_mem, lo, hi):.3f}"
        )


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        run_scaling()
    else:
        result = run_bench(CPUS)
        # same-day A/B vs last round's code: the only speed comparison
        # that survives this VM's session-to-session throughput swings.
        # Skipped in subprocess children and when git/rev is absent.
        if os.environ.get("BENCH_SKIP_AB") != "1" and os.environ.get(
            "BENCH_LEAN"
        ) != "1":
            result["ab_vs_prev"] = run_ab(PREV_ROUND_REV)
            # design-shape A/B (300k files / 2000-query batches): the
            # r4 regression was shape-dependent, so the artifact
            # carries BOTH shapes (VERDICT r4 next #1)
            if os.environ.get("BENCH_SKIP_AB_DESIGN") != "1":
                result["ab_design"] = run_ab(
                    PREV_ROUND_REV,
                    trials=int(os.environ.get("BENCH_AB_DESIGN_TRIALS", "3")),
                    n_files="300000", n_queries="2000",
                )
        # sf1 scale rehearsal: same job at 10x files, fresh JVM. Ratios
        # vs this run's own legs make slope breaks self-evident.
        if os.environ.get("BENCH_SKIP_SF1") != "1" and os.environ.get(
            "BENCH_LEAN"
        ) != "1":
            sf1 = run_sf1()
            if "error" not in sf1 and sf1.get("files_per_sec"):
                sf1["vs_sf01"] = {
                    "files_per_sec_ratio": round(
                        sf1["files_per_sec"] / result["files_per_sec"], 3
                    ),
                    "qps_ratio": round(
                        sf1["qps_top10_calibrated"]
                        / result["qps_top10_calibrated"], 3
                    ),
                }
            result["sf1"] = sf1
        # Artifact contract: the driver keeps only the LAST ~2000 chars
        # of output and parses the final line as JSON — r4's line
        # outgrew that (ab raw arrays + sf1 timings) and recorded
        # "parsed": null. Full detail goes to a side file; the printed
        # line sheds verbosity until it fits.
        os.makedirs("BENCH", exist_ok=True)
        with open("BENCH/last_bench_full.json", "w") as fh:
            json.dump(result, fh, indent=1)
        slim = json.loads(json.dumps(result))  # deep copy
        def _shed_ab_raw(r):
            for ab in ("ab_vs_prev", "ab_design"):
                for leg in (r.get(ab, {}).get("legs") or {}).values():
                    leg.pop("raw_prev", None)
                    leg.pop("raw_cur", None)

        def _shed_ab_to_ratios(r):
            for ab in ("ab_vs_prev", "ab_design"):
                legs = (r.get(ab, {}) or {}).get("legs") or {}
                for name in list(legs):
                    legs[name] = {"ratio": legs[name].get("ratio")}

        def _shed_minor_query_legs(r):
            # keep the headline timings, push the long tail of suite
            # legs to the full-detail side file
            keep = {"corpus_synth", "index_build", "query_warm",
                    "query_auto", "query_exhaustive", "packed_write",
                    "packed_query_50", "suite_index_build",
                    "bm25_calibrated_topk", "bm25_wand_topk",
                    "bm25_auto_topk", "phrase_topk", "proximity_topk",
                    "phrase_hot", "phrase_hot_nopruned", "proximity_hot"}
            q = r.get("queries") or {}
            for key in [k for k in q if k not in keep]:
                q.pop(key, None)

        def _shed_sf1_detail(r):
            sf1 = r.get("sf1") or {}
            keep = {"n_files", "files_per_sec", "qps_top10_calibrated",
                    "qps_wand", "route_auto"}
            for key in [k for k in sf1 if k not in keep]:
                sf1.pop(key, None)

        shedders = [
            _shed_ab_raw,
            lambda r: (r.get("sf1") or {}).pop("timings", None),
            lambda r: r.pop("probes", None),
            _shed_ab_to_ratios,
            _shed_sf1_detail,
            lambda r: [r.pop(k, None) for k in
                       ("ivf_recall", "route_proxy_volume",
                        "route_floor_used")],
            _shed_minor_query_legs,
            # "queries" is a contract field — last resort only
            lambda r: r.pop("queries", None),
        ]
        for shed in shedders:
            if len(json.dumps(slim)) <= 1800:
                break
            shed(slim)
        print(json.dumps(slim))
