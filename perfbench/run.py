"""Benchmark of the Bayesian BM25 Spark engine, driven through its public API.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload wand_lookup --seed 1 --seconds 12 --trace 0

One driver process runs Spark at local[<cores of this box>] as a closed
loop: one client sends a batch of queries, collects the whole result and
only then sends the next. Queries come from ``--seed``; the engine sees
only their token lists. After the timed window every batch is checked
against an independent path. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs the same workload with a span around every call into a layer and
reports the per-layer metrics instead (see perfbench/README.md).
"""

import time

PROCESS_START = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "bayesian_bm25_js_spark"
OUT = ROOT / ".perfbench_out"

N_FILES = 5_000  # synthetic corpus size; see README.md for why not 100k
BATCH = 50  # queries per retrieve batch
K = 10
WARMUP_BATCHES = 2  # JIT and lazy block-max build happen here, inside setup_s
HOT_TERMS = 12  # hot_exhaustive draws 2-3 of the highest-df keywords
PHRASE_BATCH = 50
PROXIMITY_BATCH = 10
PROXIMITY_WINDOW = 8
TOUR_ROUNDS = 3  # traced runs: phrase/proximity or packed batches per layer
DRIVER_MEMORY = "3g"

WORKLOADS = ("wand_lookup", "hot_exhaustive")  # why each: README.md


def declared(kind: str) -> list:
    """(name, unit) of the "end_to_end" or "per_layer" metrics that
    BENCHMARK.json declares, in its order."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec[kind]]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Refused(Exception):
    """The benchmark cannot run here; exits non-zero without a result."""


def _package_file(_):
    import bayesian_bm25_js_spark

    return bayesian_bm25_js_spark.__file__


def _inside_root(path: str) -> bool:
    return Path(path).resolve().is_relative_to(ROOT)


def _ancestors() -> set:
    pids, pid = set(), os.getpid()
    while pid > 1:
        pids.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as f:
                pid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            break
    return pids


def _rivals() -> list:
    """Other benchmark runs and Spark JVMs: pid and command line."""
    mine, found = _ancestors(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) in mine:
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "org.apache.spark" in cmd or "perfbench/run.py" in cmd:
            found.append(f"pid {entry}: {cmd[:200]}")
    return found


def preflight(grace_s: float = 30.0) -> float:
    """Refuse to run without the package in this checkout, or next to
    another benchmark or Spark JVM (they would share the cores). A JVM
    that is still shutting down gets grace_s to exit; -> seconds waited."""
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        raise Refused(f"no {PACKAGE} package under {ROOT}")
    start = time.perf_counter()
    while rivals := _rivals():
        if time.perf_counter() - start > grace_s:
            raise Refused("another benchmark or Spark JVM is running: " + "; ".join(rivals))
        log(f"waiting for {rivals[0]}")
        time.sleep(1.0)
    return time.perf_counter() - start


def start_spark(scratch: Path, trace: bool):
    """local[<cores>] session whose driver and workers import the package
    from this checkout, with every file Spark writes under scratch."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)  # shuffle grain in get_spark
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "local")
    os.environ["TMPDIR"] = str(tmp)
    sys.path.insert(0, str(ROOT))
    from bayesian_bm25_js_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(scratch / "warehouse"),
    }
    if trace:
        events = scratch / "events"
        events.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events.as_uri(),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        master=f"local[{ncpu}]", app_name="perfbench", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, ncpu


def check_package(spark) -> None:
    """The driver and one Python worker must import the package from this
    checkout, not from another tree on the path."""
    import bayesian_bm25_js_spark

    worker_file = spark.sparkContext.parallelize([0], 1).map(_package_file).collect()[0]
    for where, path in (("driver", bayesian_bm25_js_spark.__file__), ("worker", worker_file)):
        if not _inside_root(path):
            raise Refused(f"{where} imports {PACKAGE} from {path}, not {ROOT}")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


# -- queries -----------------------------------------------------------------


def vocabulary():
    from bayesian_bm25_js_spark.sources.corpus import TAIL_VOCAB_SIZE, WEIGHTED_VOCAB

    keywords = sorted({w for w in WEIGHTED_VOCAB if WEIGHTED_VOCAB.count(w) > 1})
    identifiers = sorted({w for w in WEIGHTED_VOCAB if WEIGHTED_VOCAB.count(w) == 1})
    return keywords, identifiers, TAIL_VOCAB_SIZE


def selective_query(rng, keywords, tail):
    """One long-tail identifier plus 1-3 terms, 50/50 keyword or long-tail."""
    q = [f"v{rng.randrange(tail)}"]
    for _ in range(rng.randint(1, 3)):
        q.append(rng.choice(keywords) if rng.random() < 0.5 else f"v{rng.randrange(tail)}")
    return q


def hot_query(rng, hot):
    return rng.sample(hot, rng.randint(2, 3))


# -- checks ------------------------------------------------------------------


def by_query(rows, offset=0):
    """rows -> {query_id + offset: [(rank, doc_id, score, probability)]}."""
    out: dict = {}
    for r in rows:
        out.setdefault(r["query_id"] + offset, []).append(
            (r["rank"], r["doc_id"], round(r["score"], 6), round(r["probability"], 6))
        )
    for v in out.values():
        v.sort()
    return out


def count_mismatches(batches, reference_rows) -> int:
    """Batches whose rows differ from the reference answer of the same
    queries (one wide reference call over all batches, query ids offset)."""
    ref = by_query(reference_rows)
    bad, offset = 0, 0
    for b in batches:
        got = by_query(b["rows"] or [])
        same = b["rows"] is not None and all(
            got.get(i, []) == ref.get(offset + i, []) for i in range(len(b["queries"]))
        )
        # an engine that returns nothing would agree with itself
        if not same or not got:
            bad += 1
        offset += len(b["queries"])
    return bad


def content_hash(df, cols) -> tuple:
    """Order-independent (row count, sum of 32-bit row hashes)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*cols).bitwiseAND(0xFFFFFFFF)
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return row["n"], row["h"]


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


# -- the run -----------------------------------------------------------------


class Run:
    """One workload in one session: set-up, timed window, checks, tours."""

    def __init__(self, spark, workload, seed, seconds, tracer):
        from bayesian_bm25_js_spark.session import query_mode

        self.spark = spark
        self.workload = workload
        self.seconds = seconds
        self.tr = tracer
        self.query_mode = query_mode
        self.keywords, self.identifiers, self.tail = vocabulary()
        self.rng = random.Random(seed)
        self.warm_rng = random.Random(f"warmup-{seed}")
        self.tour_rng = random.Random(f"tour-{seed}")
        self.batches: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.layer: dict = {}

    # set-up --------------------------------------------------------------

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from bayesian_bm25_js_spark import BayesianBM25SparkScorer
        from bayesian_bm25_js_spark.operators.index_build import build_inverted_index
        from bayesian_bm25_js_spark.operators.tokenize import tokenize_column
        from bayesian_bm25_js_spark.sources.corpus import synthesize_code_corpus

        tr, spark = self.tr, self.spark
        with tr.span("corpus"):
            corpus = synthesize_code_corpus(spark, N_FILES).persist()
            self.content_bytes = corpus.agg(F.sum(F.length("content"))).collect()[0][0]
        with tr.span("tokenize"):
            self.docs = corpus.select(
                "doc_id", tokenize_column(F.col("content")).alias("tokens")
            ).persist()
            self.docs.count()
        corpus.unpersist()
        self.scorer = BayesianBM25SparkScorer()
        if tr.enabled:
            # Build first on its own so build and estimation get separate
            # spans; scorer.index() then finds the identical plans cached
            # (it shares the cache entries) and its span holds the estimation.
            with tr.span("index_build"):
                built = build_inverted_index(self.docs)
            self.layer["index_build.postings"] = built.postings.count()
            self.layer["index_build.layout_parts"] = built.postings.rdd.getNumPartitions()
            with tr.span("estimate"):
                self.scorer.index(self.docs)
        else:
            self.scorer.index(self.docs)
        index = self.scorer.index_
        top = (
            index.term_stats.filter(F.col("term").isin(self.keywords))
            .orderBy(F.desc("df"), "term")
            .limit(HOT_TERMS)
            .collect()
        )
        self.hot = [r["term"] for r in top]
        if self.workload == "wand_lookup" and tr.enabled:
            with tr.span("block_max") as s:
                # the scorer's own lazily built cache, which retrieve uses
                s["blocks"] = self.scorer._block_max_cached().count()
        for _ in range(WARMUP_BATCHES):
            self.facade_batch(self.make_batch(self.warm_rng))

    # operations ----------------------------------------------------------

    def make_batch(self, rng):
        if self.workload == "wand_lookup":
            return [selective_query(rng, self.keywords, self.tail) for _ in range(BATCH)]
        return [hot_query(rng, self.hot) for _ in range(BATCH)]

    def strategy(self, reference=False):
        if self.workload == "wand_lookup":
            return "exhaustive" if reference else "wand"
        return "wand" if reference else "auto"

    def facade_batch(self, queries):
        """retrieve() then collect(); -> (rows, plan seconds, collect seconds)."""
        with self.query_mode(self.spark):
            t0 = time.perf_counter()
            df = self.scorer.retrieve(queries, k=K, strategy=self.strategy())
            t1 = time.perf_counter()
            rows = df.collect()
        return rows, t1 - t0, time.perf_counter() - t1

    def layered_batch(self, queries, op):
        """The same batch as facade_batch, one span per layer, each
        layer's output materialized at its boundary."""
        from bayesian_bm25_js_spark.operators.scoring import (
            calibrate,
            queries_to_df,
            score_queries,
            top_k,
        )
        from bayesian_bm25_js_spark.operators.wand import route_queries, wand_topk

        tr, spark = self.tr, self.spark
        index, t = self.scorer.index_, self.scorer.transform
        terms = sorted({w for q in queries for w in q})
        est = len(queries) * index.n_docs
        with self.query_mode(spark), tr.span("batch", op=op):
            if self.workload == "wand_lookup":
                with tr.span("wand"):
                    with tr.span("wand.survivors") as s:
                        ranked, stats = wand_topk(
                            index, queries_to_df(spark, queries), K,
                            block_max=self.scorer._block_max_cached(),
                            terms_filter=terms, est_rows=est, return_stats=True,
                        )
                        agg = stats.groupBy().sum("blocks_total", "blocks_kept").collect()[0]
                        s["blocks_total"], s["blocks_kept"] = agg[0], agg[1]
                    with tr.span("wand.score_topk"):
                        ranked = ranked.persist()
                        ranked.count()
            else:
                with tr.span("route"):
                    route_queries(index, queries)
                with tr.span("score_topk") as s:
                    scored = score_queries(
                        index, queries_to_df(spark, queries), terms_filter=terms
                    ).persist()
                    s["scored_rows"] = scored.count()
                    ranked = top_k(scored, K, est_rows=est).persist()
                    ranked.count()
                    scored.unpersist()
            with tr.span("calibrate") as s:
                rows = (
                    calibrate(ranked, index, t.alpha, t.beta, t.base_rate,
                              mode=t.training_mode)
                    .select("query_id", "rank", "doc_id", "score", "probability")
                    .collect()
                )
                s["rows"] = len(rows)
            ranked.unpersist()
        return rows

    def window(self) -> float:
        """Closed loop for `seconds`; -> seconds since process start. A
        traced run spends the first half on the facade and the second
        half on layered batches."""
        start = time.perf_counter()
        since_start = start - PROCESS_START
        i = 0
        while True:
            now = time.perf_counter() - start
            if self.batches and now >= self.seconds:
                break
            traced = self.tr.enabled and now >= self.seconds / 2
            queries = self.make_batch(self.rng)
            b = {"queries": queries, "rows": None, "traced": traced}
            t0 = time.perf_counter()
            try:
                if traced:
                    b["rows"] = self.layered_batch(queries, op=f"batch-{i}")
                else:
                    b["rows"], b["plan_s"], b["collect_s"] = self.facade_batch(queries)
            except Exception as exc:  # counted as a failed operation
                log(f"batch {i} failed: {exc!r}")
            b["s"] = time.perf_counter() - t0
            self.batches.append(b)
            i += 1
        self.attempted += len(self.batches)
        log("batch seconds " + " ".join(f"{b['s']:.3f}" for b in self.batches))
        return since_start

    def cache_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(info.memSize() for info in infos) / (1024 * 1024)

    # after the window ----------------------------------------------------

    def check(self) -> None:
        """Compare every batch with the reference strategy and count the
        router's decisions; a hot batch routed to WAND fails."""
        from bayesian_bm25_js_spark.operators.wand import (
            estimate_prunable_volume,
            route_queries,
        )

        t0 = time.perf_counter()
        index = self.scorer.index_
        ok = [b for b in self.batches if b["rows"] is not None]
        self.failed += len(self.batches) - len(ok)
        try:
            with self.query_mode(self.spark):
                ref = self.scorer.retrieve(
                    [q for b in ok for q in b["queries"]], k=K,
                    strategy=self.strategy(reference=True),
                ).collect()
            self.failed += count_mismatches(ok, ref)
        except Exception as exc:
            log(f"reference run failed: {exc!r}")
            self.failed += len(ok)
        routes = {"wand": 0, "exhaustive": 0}
        volumes = []
        for b in self.batches:
            exhaustive, _ = route_queries(index, b["queries"])
            routes["exhaustive" if exhaustive else "wand"] += 1
            volumes.append(estimate_prunable_volume(index, b["queries"])[0])
        if self.workload == "hot_exhaustive":
            self.failed += routes["wand"]
        self.layer["route.wand_batches"] = routes["wand"]
        self.layer["route.exhaustive_batches"] = routes["exhaustive"]
        self.layer["route.proxy_volume"] = statistics.median(volumes)
        log(f"routes {routes}, failed {self.failed}/{self.attempted}, "
            f"check took {time.perf_counter() - t0:.1f} s")

    def end_to_end(self, setup_s: float, cache_mb: float) -> dict:
        times = [b["s"] for b in self.batches if b["rows"] is not None]
        queries = BATCH * len(times)
        return {
            "setup_s": setup_s,
            "qps": queries / sum(times) if times else 0.0,
            "batch_p50_s": statistics.median(times) if times else 0.0,
            "cache_mb": cache_mb,
        }

    # traced runs only ----------------------------------------------------

    def tour(self, scratch: Path) -> None:
        """Layers the timed batches do not reach: the positional index on
        wand_lookup, the packed store on hot_exhaustive."""
        if self.workload == "wand_lookup":
            self.positional_tour()
        else:
            self.publish_tour(scratch / "index")

    def _op(self, fn) -> None:
        self.attempted += 1
        try:
            if not fn():
                self.failed += 1
        except Exception as exc:
            log(f"tour operation failed: {exc!r}")
            self.failed += 1

    def positional_tour(self) -> None:
        """Phrase batches are checked against candidate_limit=0 (no
        rarest-term prune); proximity batches must rank 1..n per query."""
        from bayesian_bm25_js_spark.operators.phrase import (
            build_positional_index,
            phrase_topk,
            proximity_topk,
        )

        tr, rng = self.tr, self.tour_rng

        def rows_of(rs):
            return sorted((r["query_id"], r["rank"], r["doc_id"], r["tf"],
                           round(r["score"], 6)) for r in rs)

        with tr.span("positional_build", op="positional_build"):
            pidx = build_positional_index(self.docs)
            pidx.postings.count()
        for i in range(TOUR_ROUNDS):
            phrases = [[rng.choice(self.hot), rng.choice(self.identifiers)]
                       for _ in range(PHRASE_BATCH)]
            near = [rng.sample(self.hot, 2) for _ in range(PROXIMITY_BATCH)]

            def phrase_op():
                with self.query_mode(self.spark):
                    with tr.span("phrase", op=f"phrase-{i}"):
                        got = phrase_topk(pidx, phrases, K).collect()
                    ref = phrase_topk(pidx, phrases, K, candidate_limit=0).collect()
                return got and rows_of(got) == rows_of(ref)

            def proximity_op():
                with self.query_mode(self.spark):
                    with tr.span("proximity", op=f"proximity-{i}"):
                        got = proximity_topk(pidx, near, PROXIMITY_WINDOW, K).collect()
                ranks: dict = {}
                for r in got:
                    ranks.setdefault(r["query_id"], []).append(r["rank"])
                return len(ranks) == len(near) and all(
                    sorted(v) == list(range(1, len(v) + 1)) for v in ranks.values()
                )

            self._op(phrase_op)
            self._op(proximity_op)
        pidx.unpersist()

    def publish_tour(self, path: Path) -> None:
        """save(packed) -> from_saved(packed): the loaded index must hash
        equal to the in-memory one and answer batches identically."""
        from bayesian_bm25_js_spark import BayesianBM25SparkScorer

        tr, rng = self.tr, self.tour_rng
        with tr.span("save", op="save"):
            self.scorer.save(str(path), packed=True)
        sizes = {
            "postings": dir_bytes(path / "postings"),
            "packed": dir_bytes(path / "packed"),
            "block_max": dir_bytes(path / "block_max"),
            "stats": dir_bytes(path / "term_stats") + dir_bytes(path / "doc_stats"),
        }
        for name, n in sizes.items():
            self.layer[f"save.bytes.{name}"] = n
        self.layer["save.bytes_per_content_byte"] = dir_bytes(path) / self.content_bytes
        with tr.span("load", op="load"):
            loaded = BayesianBM25SparkScorer.from_saved(self.spark, str(path), packed=True)

        def same_index():
            a, b = self.scorer.index_, loaded.index_
            return all(
                content_hash(getattr(a, part), cols) == content_hash(getattr(b, part), cols)
                for part, cols in (
                    ("postings", ["term", "doc_id", "tf", "dl"]),
                    ("term_stats", ["term", "df"]),
                    ("doc_stats", ["doc_id", "dl"]),
                )
            )

        self._op(same_index)
        for i in range(TOUR_ROUNDS):
            queries = self.make_batch(rng)

            def packed_op():
                with self.query_mode(self.spark):
                    with tr.span("packed_query", op=f"packed-{i}"):
                        got = loaded.retrieve(queries, k=K).collect()
                    ref = self.scorer.retrieve(queries, k=K).collect()
                return got and by_query(got) == by_query(ref)

            self._op(packed_op)

    def per_layer(self, spans: list) -> dict:
        def med(name, key="wall_s"):
            vals = [s[key] for s in spans if s["name"] == name]
            return statistics.median(vals) if vals else 0.0

        def count(name, key):
            vals = [s["counts"][key] for s in spans if s["name"] == name]
            return statistics.median(vals) if vals else 0.0

        m = dict(self.layer)
        m["session.start_s"] = med("session")
        m["corpus.synth_s"] = med("corpus")
        m["tokenize.s"] = med("tokenize")
        for layer in ("index_build", "score_topk", "positional_build", "save",
                      "wand", "estimate", "phrase", "proximity"):
            m[f"{layer}.s"] = med(layer)
            for key in ("cpu_s", "shuffle_write_mb", "spill_mb"):
                m[f"{layer}.{key}"] = med(layer, key)
        m["block_max.s"] = med("block_max")
        m["block_max.blocks"] = count("block_max", "blocks")
        kept = sum(s["counts"]["blocks_kept"] for s in spans if s["name"] == "wand.survivors")
        total = sum(s["counts"]["blocks_total"] for s in spans if s["name"] == "wand.survivors")
        m["wand.survivors"] = count("wand.survivors", "blocks_kept")
        m["wand.blocks_kept_frac"] = kept / total if total else 0.0
        m["score_topk.scored_rows"] = count("score_topk", "scored_rows")
        m["calibrate.s"] = med("calibrate")
        m["calibrate.rows"] = count("calibrate", "rows")
        facade = [b for b in self.batches if not b["traced"] and b["rows"] is not None]
        traced = [b for b in self.batches if b["traced"] and b["rows"] is not None]
        m["retrieve.plan_s"] = statistics.median(b["plan_s"] for b in facade)
        m["retrieve.collect_s"] = statistics.median(b["collect_s"] for b in facade)
        for key in ("driver_gap_s", "gc_s", "tasks"):
            m[f"batch.{key}"] = med("batch", key)
        m["load.s"] = med("load")
        m["packed_query.s"] = med("packed_query")

        def qps(bs):
            return BATCH * len(bs) / sum(b["s"] for b in bs) if bs else 0.0

        m["trace.overhead_ratio"] = qps(traced) / qps(facade) if facade else 0.0
        ops = [s for s in spans if s["name"] == "batch"]
        m["trace.span_coverage_min"] = min(
            (s["child_cover_s"] / s["wall_s"] for s in ops), default=0.0
        )
        return m


def result_json(correct, attempted, failed, metrics, spec) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics.get(name, 0.0), "unit": unit}
                    for name, unit in spec},
    })


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def measure(args, scratch: Path, waited: float) -> str:
    """One run with every file under scratch; -> the result line."""
    sys.path.insert(0, str(HERE))
    from spans import Tracer, attribute, layer_table, read_event_log

    trace = bool(args.trace)
    tracer = Tracer(enabled=trace)
    spark = None
    try:
        with tracer.span("session"):
            spark, ncpu = start_spark(scratch, trace)
            check_package(spark)
        tracer.sc = spark.sparkContext
        log(f"{args.workload} seed={args.seed} local[{ncpu}] {N_FILES} files")
        run = Run(spark, args.workload, args.seed, args.seconds, tracer)
        run.setup()
        setup_s = run.window() - waited
        cache_mb = run.cache_mb()
        run.check()
        if trace:
            run.tour(scratch)
    finally:
        if spark is not None:
            stop_spark(spark)

    if not trace:
        metrics = run.end_to_end(setup_s, cache_mb)
        return result_json(run.failed == 0, run.attempted, run.failed, metrics,
                           declared("end_to_end"))
    attribute(tracer.spans, read_event_log(str(scratch / "events")))
    metrics = run.per_layer(tracer.spans)
    layers = layer_table(tracer.spans)
    out = OUT / "traces" / f"{args.workload}-seed{args.seed}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    tracer.write(str(out), {"layers": layers, "metrics": metrics})
    for name, row in layers.items():
        log(f"{name:18} " + " ".join(f"{k}={v:.3f}" for k, v in row.items()))
    log(f"spans written to {out}")
    return result_json(run.failed == 0, run.attempted, run.failed, metrics,
                       declared("per_layer"))


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        waited = preflight()
        scratch = OUT / f"{args.workload}-{args.seed}-{os.getpid()}"
        shutil.rmtree(scratch, ignore_errors=True)
        scratch.mkdir(parents=True)
        try:
            line = measure(args, scratch, waited)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    except Refused as exc:
        log(f"refusing to run: {exc}")
        return 2
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
