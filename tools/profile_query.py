"""Stage-level profiler for the bench query job (north-rule scaling work).

Runs the same corpus-synth -> index-build -> batched-query pipeline as
bench.py at local[N] with the Spark event log enabled, then aggregates
per-stage wall time, executor task time, GC time, and shuffle volume
from the event log. Prints a JSON report to stdout.

Beyond per-stage metrics it reports the DRIVER-SERIAL residual of the
warm query window: wall time not covered by any running stage (plan
construction, AQE re-planning, job submission gaps, result fetch).
That residual is the quantity the 8→32 scaling pair loses to — stages
parallelize with cores, the residual does not.

Usage: python tools/profile_query.py [cpus] [n_files] [n_queries] [mode]
  mode: "exhaustive" (exhaustive scorer, default) | "auto" (routed default
  path — the scaling protocol's leg) | "wand"
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 400_000
    n_queries = int(sys.argv[3]) if len(sys.argv) > 3 else 150
    mode = sys.argv[4] if len(sys.argv) > 4 else "exhaustive"

    log_dir = f"/tmp/spark-events-{cpus}-{os.getpid()}"
    os.makedirs(log_dir, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    local_dir = "/dev/shm/spark-local"
    os.makedirs(local_dir, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"profile-{cpus}")
        .config("spark.sql.shuffle.partitions",
                os.environ.get("SPARK_SHUFFLE_PARTS", "32"))
        .config("spark.sql.adaptive.enabled",
                "false" if os.environ.get("SPARK_AQE") == "0" else "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "10g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir)
        .config("spark.local.dir", local_dir)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from bench import build_workload
    from bayesian_bm25_js_spark.operators.index_build import build_inverted_index
    from bayesian_bm25_js_spark.operators.scoring import (
        calibrate,
        queries_to_df,
        score_queries,
        top_k,
    )
    from bayesian_bm25_js_spark.operators.tokenize import tokenize_column
    from bayesian_bm25_js_spark.sources.corpus import synthesize_code_corpus

    corpus = synthesize_code_corpus(spark, n_files).persist()
    corpus.count()
    docs = corpus.select("doc_id", tokenize_column(F.col("content")).alias("tokens"))

    t0 = time.time()
    index = build_inverted_index(
        docs, k1=1.2, b=0.75, method="lucene",
        layout_partitions=int(os.environ.get("SPARK_LAYOUT_PARTS", "128")),
    )
    index.postings.count()
    build_s = time.time() - t0

    workload = build_workload(n_queries)
    qdf = queries_to_df(spark, workload)

    if mode in ("auto", "wand"):
        from bayesian_bm25_js_spark.operators.compression import block_max_table
        from bayesian_bm25_js_spark.operators.wand import auto_topk, wand_topk

        bm = (
            block_max_table(index, 128)
            .repartition(int(os.environ.get("SPARK_LAYOUT_PARTS", "128")), "term_id")
            .sortWithinPartitions("term_id")
            .persist()
        )
        bm.count()
        terms = sorted({t for q in workload for t in q})

        if mode == "auto":
            def run_queries():
                ranked = auto_topk(index, workload, 10, block_max=bm, block_size=128)
                return calibrate(ranked, index, 1.0, 0.5, 0.05).count()
        else:
            def run_queries():
                ranked = wand_topk(
                    index, queries_to_df(spark, workload), 10,
                    block_max=bm, block_size=128, terms_filter=terms,
                )
                return calibrate(ranked, index, 1.0, 0.5, 0.05).count()
    else:
        def run_queries():
            scores = score_queries(index, qdf)
            out = calibrate(top_k(scores, 10), index, 1.0, 0.5, 0.05)
            return out.count()

    run_queries()  # cold
    spark.sparkContext.setJobGroup("warmquery", "warm query run")
    t0 = time.time()
    warm_t0_ms = t0 * 1000.0
    run_queries()
    query_s = time.time() - t0
    warm_t1_ms = warm_t0_ms + query_s * 1000.0
    spark.sparkContext.setJobGroup("", "")

    app_id = spark.sparkContext.applicationId
    spark.stop()

    # -- parse event log ----------------------------------------------------
    stages = {}
    stage_tasks = {}
    warm_stage_ids = set()
    job_stage_map = {}
    event_files = []
    for root, _dirs, files in os.walk(log_dir):
        if app_id not in root and not any(app_id in f for f in files):
            continue
        for fn in files:
            if fn.startswith("events_") or fn.startswith(app_id):
                event_files.append(os.path.join(root, fn))

    def open_log(path):
        if path.endswith(".zstd"):
            import subprocess as sp

            p = sp.run(["zstd", "-dc", path], capture_output=True)
            if p.returncode == 0:
                return p.stdout.decode().splitlines()
            try:
                import zstandard

                return (
                    zstandard.ZstdDecompressor()
                    .decompress(open(path, "rb").read(), max_output_size=1 << 31)
                    .decode()
                    .splitlines()
                )
            except ImportError:
                raise RuntimeError("no zstd available to read event log")
        return open(path).read().splitlines()

    for path in event_files:
        for line in open_log(path):
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                et = ev.get("Event")
                if et == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    sids = [s["Stage ID"] for s in ev.get("Stage Infos", [])]
                    if props.get("spark.jobGroup.id") == "warmquery":
                        warm_stage_ids.update(sids)
                elif et == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sid = si["Stage ID"]
                    stages[sid] = {
                        "name": si["Stage Name"].split("\n")[0][:80],
                        "n_tasks": si["Number of Tasks"],
                        "wall_ms": (si.get("Completion Time", 0) or 0)
                        - (si.get("Submission Time", 0) or 0),
                        "_sub_ms": si.get("Submission Time") or 0,
                        "_comp_ms": si.get("Completion Time") or 0,
                    }
                elif et == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    tm = ev.get("Task Metrics") or {}
                    d = stage_tasks.setdefault(
                        sid,
                        {
                            "task_ms": 0,
                            "gc_ms": 0,
                            "cpu_ms": 0,
                            "deser_ms": 0,
                            "shuf_write_b": 0,
                            "shuf_read_b": 0,
                            "shuf_write_ms": 0,
                            "shuf_fetch_ms": 0,
                            "spill_b": 0,
                            "max_task_ms": 0,
                            "result_ser_ms": 0,
                        },
                    )
                    rt = tm.get("Executor Run Time", 0)
                    d["task_ms"] += rt
                    d["max_task_ms"] = max(d["max_task_ms"], rt)
                    d["gc_ms"] += tm.get("JVM GC Time", 0)
                    d["cpu_ms"] += tm.get("Executor CPU Time", 0) // 1_000_000
                    d["deser_ms"] += tm.get("Executor Deserialize Time", 0)
                    d["result_ser_ms"] += tm.get("Result Serialization Time", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    d["shuf_write_b"] += sw.get("Shuffle Bytes Written", 0)
                    d["shuf_write_ms"] += sw.get("Shuffle Write Time", 0) // 1_000_000
                    sr = tm.get("Shuffle Read Metrics") or {}
                    d["shuf_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    d["shuf_fetch_ms"] += sr.get("Fetch Wait Time", 0)
                    d["spill_b"] += tm.get("Disk Bytes Spilled", 0) + tm.get(
                        "Memory Bytes Spilled", 0
                    )

    # driver-serial residual: warm wall not covered by any running stage
    # (plan/analysis, AQE re-planning between shuffle stages, job submit
    # gaps, result fetch). Stages parallelize with cores; this doesn't.
    intervals = sorted(
        (stages[sid]["_sub_ms"], stages[sid]["_comp_ms"])
        for sid in warm_stage_ids
        if sid in stages and stages[sid]["_comp_ms"] > stages[sid]["_sub_ms"]
    )
    covered = 0.0
    cur_lo, cur_hi = None, None
    for lo, hi in intervals:
        lo, hi = max(lo, warm_t0_ms), min(hi, warm_t1_ms)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    driver_gap_s = query_s - covered / 1000.0

    report = {
        "cpus": cpus,
        "mode": mode,
        "n_files": n_files,
        "n_queries": n_queries,
        "build_s": round(build_s, 2),
        "warm_query_s": round(query_s, 2),
        "qps": round(n_queries / query_s, 2),
        "warm_n_stages": len(intervals),
        "stage_covered_s": round(covered / 1000.0, 2),
        "driver_gap_s": round(driver_gap_s, 2),
        "driver_gap_frac": round(driver_gap_s / query_s, 3) if query_s else None,
        "warm_stages": [],
    }
    for sid in sorted(warm_stage_ids):
        if sid not in stages:
            continue
        row = {
            "stage": sid,
            **{k: v for k, v in stages[sid].items() if not k.startswith("_")},
            **stage_tasks.get(sid, {}),
        }
        report["warm_stages"].append(row)
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
