"""M3/M4 tests: posting compression, block-max, WAND pruning safety,
index persistence, checkpointed resumable builds."""

import shutil

import numpy as np
import pytest

from tests.conftest import SMALL_CORPUS, docs_df
from tests.oracle import OracleBM25

from pyspark.sql import functions as F

from bayesian_bm25_js_spark.functions.prng import mulberry32
from bayesian_bm25_js_spark.operators.compression import (
    block_max_table,
    pack_postings,
    unpack_postings,
    varint_decode,
    varint_encode,
)
from bayesian_bm25_js_spark.operators.index_build import build_inverted_index
from bayesian_bm25_js_spark.operators.scoring import (
    queries_to_df,
    score_queries,
    top_k,
)
from bayesian_bm25_js_spark.operators.wand import wand_topk


def random_corpus(n_docs=400, vocab=50, seed=5):
    rng = mulberry32(seed)
    words = [f"w{i}" for i in range(vocab)]
    corpus = []
    for _ in range(n_docs):
        length = 3 + int(rng() * 18)
        # Zipf-ish: square the draw to favor low indices
        corpus.append([words[int((rng() ** 2) * vocab)] for _ in range(length)])
    return corpus


@pytest.fixture(scope="module")
def rnd_index(spark):
    corpus = random_corpus()
    idx = build_inverted_index(
        docs_df(spark, corpus), k1=1.2, b=0.75, method="lucene"
    )
    return corpus, idx


def test_varint_roundtrip():
    rng = mulberry32(9)
    vals = [int(rng() * 10**(1 + int(rng() * 8))) for _ in range(500)]
    assert varint_decode(varint_encode(np.array(vals))) == vals
    assert varint_decode(varint_encode(np.array([]))) == []
    assert varint_decode(varint_encode(np.array([0]))) == [0]


def test_pack_unpack_roundtrip(rnd_index):
    _, idx = rnd_index
    packed = pack_postings(idx, block_size=64)
    restored = unpack_postings(packed)
    orig = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in idx.postings.select("term", "doc_id", "tf", "dl").collect()
    }
    rest = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in restored.select("term", "doc_id", "tf", "dl").collect()
    }
    assert rest == orig


def test_packed_blocks_are_small_and_sorted(rnd_index):
    _, idx = rnd_index
    # count-chunked (default storage layout): full blocks, deltas from
    # min_doc_id
    packed = pack_postings(idx, block_size=64).collect()
    per_term: dict = {}
    for r in packed:
        assert 1 <= r["n"] <= 64
        gaps = varint_decode(bytes(r["doc_deltas"]))
        assert len(gaps) == r["n"]
        doc_ids = np.cumsum(gaps) + r["min_doc_id"]
        assert doc_ids[0] == r["min_doc_id"] and doc_ids[-1] == r["max_doc_id"]
        assert (np.diff(doc_ids) > 0).all()
        per_term.setdefault(r["term"], []).append(r)
    # only the LAST chunk of a term may be partial
    for term, rows in per_term.items():
        rows.sort(key=lambda r: r["block_id"])
        assert [r["block_id"] for r in rows] == list(range(len(rows)))
        for r in rows[:-1]:
            assert r["n"] == 64, term

    # doc-range mode (reference BlockMaxIndex blocking, scorer.ts:659-661)
    packed_range = pack_postings(idx, block_size=64, pack_by="range").collect()
    for r in packed_range:
        assert r["block_id"] == r["min_doc_id"] // 64 == r["max_doc_id"] // 64
        gaps = varint_decode(bytes(r["doc_deltas"]))
        doc_ids = np.cumsum(gaps) + r["min_doc_id"]
        assert doc_ids[0] == r["min_doc_id"] and doc_ids[-1] == r["max_doc_id"]


def test_block_count_rule(spark):
    """nBlocks = ceil(nDocs/bs) (tests/bmw.test.ts:42-51) for a term
    present in every doc."""
    cases = [(100, 64, 2), (128, 64, 2), (129, 64, 3), (1, 64, 1), (64, 64, 1)]
    for n_docs, bs, want in cases:
        corpus = [["common", f"x{i % 7}"] for i in range(n_docs)]
        idx = build_inverted_index(docs_df(spark, corpus), method="lucene")
        bm = block_max_table(idx, block_size=bs)
        got = bm.filter("term = 'common'").count()
        assert got == want, (n_docs, bs)


def test_block_max_dominates_members(rnd_index):
    """Block bound >= every member contribution, <= global max
    (tests/bmw.test.ts:66-114 invariants)."""
    corpus, idx = rnd_index
    oracle = OracleBM25(1.2, 0.75, "lucene")
    oracle.index(corpus)
    bm = {
        (r["term"], r["block_id"]): r["max_contrib"]
        for r in block_max_table(idx, block_size=64).collect()
    }
    global_max = {}
    for term, postings in oracle.inverted.items():
        idf = oracle.idf[term]
        for doc_id, tf in postings:
            dl = oracle.doc_lengths[doc_id]
            contrib = idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / oracle.avgdl))
            key = (term, doc_id // 64)
            assert bm[key] >= contrib - 1e-12
            global_max[term] = max(global_max.get(term, 0.0), contrib)
    for (term, _), v in bm.items():
        assert v <= global_max[term] + 1e-12


@pytest.mark.parametrize("k", [1, 5, 20])
def test_wand_equals_exhaustive(spark, rnd_index, k):
    """Core safety property: pruned top-k rank-identical to exhaustive."""
    corpus, idx = rnd_index
    queries = [
        ["w0", "w3"],
        ["w1", "w7", "w19"],
        ["w2", "w2", "w11"],  # duplicate token
        ["w40", "w49"],  # rare terms
        ["nope"],  # unknown term
    ]
    qdf = queries_to_df(spark, queries)
    plain = top_k(score_queries(idx, qdf), k)
    pruned = wand_topk(idx, qdf, k, block_size=64)
    a = [
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 12))
        for r in plain.orderBy("query_id", "rank").collect()
    ]
    b = [
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 12))
        for r in pruned.orderBy("query_id", "rank").collect()
    ]
    assert a == b


def test_auto_topk_routes_and_matches_exhaustive(spark, rnd_index):
    """The selectivity router must (a) be rank-identical to the
    exhaustive scorer in BOTH routing regimes, (b) flip regimes on the
    batch-volume floor (binary routing — one pipeline per batch)."""
    from bayesian_bm25_js_spark.operators.wand import auto_topk, route_queries

    corpus, idx = rnd_index
    queries = [
        ["w0", "w1"],        # both Zipf-head terms (unprunable)
        ["w40", "w49"],      # rare tail (highly prunable)
        ["w0", "w45"],       # mixed: min-df is rare
        ["w2", "w2", "w3"],  # duplicate hot tokens
        ["nope"],            # unknown term -> no candidates at all
    ]
    qdf = queries_to_df(spark, queries)
    plain = top_k(score_queries(idx, qdf), 5)
    a = [
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 12))
        for r in plain.orderBy("query_id", "rank").collect()
    ]
    for floor in (0, 50_000_000):  # wand regime / exhaustive regime
        routed = auto_topk(
            idx, queries, 5, block_size=64, hot_df_frac=0.25,
            min_prunable_postings=floor,
        )
        b = [
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 12))
            for r in routed.orderBy("query_id", "rank").collect()
        ]
        assert a == b, floor
    # binary routing: floor=0 -> whole batch through WAND; default
    # floor -> this tiny batch's avoidable fan-out can't pay WAND's
    # fixed phase cost -> whole batch exhaustive
    exh, wand_side = route_queries(
        idx, queries, hot_df_frac=0.25, min_prunable_postings=0
    )
    assert exh == [] and wand_side == [0, 1, 2, 3, 4]
    exh, wand_side = route_queries(idx, queries, hot_df_frac=0.25)
    assert wand_side == [] and exh == [0, 1, 2, 3, 4]


def test_wand_actually_prunes(spark):
    """A selective term concentrated in one block prunes the rest: the
    needle block's lower bound exceeds every hay-only block's upper
    bound."""
    corpus = [
        (["needle", "hay"] if i < 10 else ["hay", f"x{i % 5}"])
        for i in range(200)
    ]
    idx = build_inverted_index(docs_df(spark, corpus), method="lucene")
    qdf = queries_to_df(spark, [["needle", "hay"]])
    ranked, stats = wand_topk(idx, qdf, 2, block_size=16, return_stats=True)
    row = stats.collect()[0]
    assert row["blocks_total"] == 13  # 200/16 blocks all contain hay
    assert row["blocks_kept"] < row["blocks_total"]
    # and the result is still the exhaustive top-k
    plain = top_k(score_queries(idx, qdf), 2)
    assert [
        (r["doc_id"], r["score"]) for r in ranked.orderBy("rank").collect()
    ] == [(r["doc_id"], r["score"]) for r in plain.orderBy("rank").collect()]


def test_save_load_roundtrip(spark, rnd_index, tmp_path):
    corpus, idx = rnd_index
    from bayesian_bm25_js_spark.sources.index_store import load_index, save_index

    path = str(tmp_path / "idx")
    meta = save_index(idx, path, transform_params={"alpha": 1.5, "beta": 0.2},
                      packed=True, block_size=64)
    assert meta["n_docs"] == idx.n_docs
    assert meta["lineage"]
    idx2, params = load_index(spark, path)
    assert params == {"alpha": 1.5, "beta": 0.2}
    assert idx2.n_docs == idx.n_docs and idx2.avgdl == idx.avgdl
    qdf = queries_to_df(spark, [["w0", "w5"]])
    a = top_k(score_queries(idx, qdf), 5).orderBy("rank").collect()
    b = top_k(score_queries(idx2, qdf), 5).orderBy("rank").collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]


def test_packed_index_query_parity(spark, rnd_index, tmp_path):
    """Scoring directly off the packed (delta+varint) layout matches the
    row layout exactly."""
    corpus, idx = rnd_index
    from bayesian_bm25_js_spark.sources.index_store import (
        load_packed_index,
        save_index,
    )

    path = str(tmp_path / "pidx")
    save_index(idx, path, packed=True, block_size=64)
    pidx, _ = load_packed_index(spark, path)
    qdf = queries_to_df(spark, [["w0", "w5", "w20"], ["w1"]])
    a = top_k(score_queries(idx, qdf), 5).orderBy("query_id", "rank").collect()
    b = top_k(score_queries(pidx, qdf), 5).orderBy("query_id", "rank").collect()
    assert [(r["query_id"], r["doc_id"], r["score"]) for r in a] == [
        (r["query_id"], r["doc_id"], r["score"]) for r in b
    ]


def test_packed_format_version_check(spark, rnd_index, tmp_path):
    """An index packed by an older layout (no packed_format / stale
    version in meta.json) fails loudly with a re-pack message instead
    of an unresolved-column error deep in the decode plan."""
    import json

    import pytest

    from bayesian_bm25_js_spark.sources.index_store import (
        load_packed_index,
        save_index,
    )

    corpus, idx = rnd_index
    path = str(tmp_path / "pidx_v1")
    save_index(idx, path, packed=True, block_size=64)
    from bayesian_bm25_js_spark.sources.index_store import PACKED_FORMAT_VERSION

    meta = json.load(open(f"{path}/meta.json"))
    assert meta["packed_format"] == PACKED_FORMAT_VERSION
    meta.pop("packed_format")  # simulate a pre-versioning pack
    json.dump(meta, open(f"{path}/meta.json", "w"))
    with pytest.raises(ValueError, match="older build"):
        load_packed_index(spark, path)


def test_terms_filter_falls_back_to_string_isin(spark, rnd_index):
    """A custom postings layout with NO term_id column still gets the
    string In-filter from terms_filter (it is the only scan pruning
    such a layout can have) — regression for the silent-drop case."""
    from bayesian_bm25_js_spark.operators.index_build import InvertedIndex

    corpus, idx = rnd_index
    plain = InvertedIndex(
        spark=spark,
        postings=idx.postings.drop("term_id"),
        term_stats=idx.term_stats,
        doc_stats=idx.doc_stats,
        n_docs=idx.n_docs,
        avgdl=idx.avgdl,
        k1=idx.k1,
        b=idx.b,
        method=idx.method,
    )
    qdf = queries_to_df(spark, [["w0", "w5"]])
    scored = score_queries(plain, qdf, terms_filter=["w0", "w5"])
    plan = scored._jdf.queryExecution().optimizedPlan().toString()
    assert "term" in plan and " IN " in plan, plan
    a = top_k(scored, 5).orderBy("rank").collect()
    b = top_k(score_queries(idx, qdf), 5).orderBy("rank").collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in a] == [
        (r["doc_id"], round(r["score"], 9)) for r in b
    ]


def test_checkpointed_build_resumes(spark, tmp_path):
    from bayesian_bm25_js_spark.sources.checkpoints import (
        checkpointed_build,
        read_metrics,
        stage_done,
    )

    path = str(tmp_path / "ckpt")
    corpus = spark.createDataFrame(
        [(i, " ".join(doc)) for i, doc in enumerate(SMALL_CORPUS)],
        "doc_id long, content string",
    )
    idx, params = checkpointed_build(spark, corpus, path, method="lucene")
    assert idx.n_docs == len(SMALL_CORPUS)
    assert stage_done(path, "docs") and stage_done(path, "postings") and stage_done(path, "params")
    assert params["alpha"] is not None

    # Resume with a DIFFERENT corpus: sealed stages must be loaded, not
    # recomputed — result still reflects the original build.
    other = spark.createDataFrame(
        [(0, "totally different text")], "doc_id long, content string"
    )
    idx2, params2 = checkpointed_build(spark, other, path, method="lucene")
    assert idx2.n_docs == len(SMALL_CORPUS)
    assert params2 == params
    docs_metrics = read_metrics(path, "docs")
    assert docs_metrics["rows"] == len(SMALL_CORPUS)
    assert docs_metrics["partitions"]


def test_df_lookup_caches_across_batches(rnd_index):
    """Router v2: the driver-side term->df cache makes a warm batch's
    routing decision free of Spark jobs — re-lookups are served from
    the dict (proved by poisoning the cache), and terms absent from
    the vocab cache df=0 instead of re-collecting every batch."""
    _, idx = rnd_index
    first = idx.df_lookup(["w0", "w7", "definitely-absent"])
    assert first["w0"] > 0 and first["definitely-absent"] == 0
    # poison the cache: if the second lookup hit Spark it would return
    # the true df again, not the sentinel
    idx._df_cache["w0"] = -123
    second = idx.df_lookup(["w0", "definitely-absent"])
    assert second == {"w0": -123, "definitely-absent": 0}
    idx._df_cache["w0"] = first["w0"]  # restore for other tests


def test_fit_router_floor():
    from bayesian_bm25_js_spark.operators.wand import fit_router_floor

    # typical shape: wand 3.6s with 20% kept, exhaustive 2.3s over 10M
    # postings -> c_e = 2.3e-7 s/posting, a_w = 3.6 - 0.2*2.3 = 3.14s,
    # floor = a_w/c_e ~= 13.7M avoided postings
    floor = fit_router_floor(3.6, 2.3, 10_000_000, 0.2)
    assert floor == int((3.6 - 2.3 * 0.2) / (2.3 / 10_000_000))
    # WAND strictly dominating -> floor 0 (always route to WAND)
    assert fit_router_floor(0.1, 5.0, 10_000_000, 0.1) == 0
    # degenerate measurements fall back to the default constant
    assert fit_router_floor(0.0, 2.0, 1000, 0.2) == 50_000_000
    assert fit_router_floor(2.0, 2.0, 0, 0.2) == 50_000_000
    # proxy rescale: the router compares its (smaller) prunable-only
    # estimate against the floor, so the floor must shrink by
    # proxy/avoided — decision stays sign-consistent with the timings
    # at the fit point. The r4 miss shape: wand 5.32s < exhaustive
    # 7.19s over V=16.57M, kept 0.207, proxy 10.09M — unscaled floor
    # (8.83M < proxy: fine here, but the 3.34/2.84 session read 10.67M
    # > proxy and mis-routed); scaled floor must sit BELOW the proxy
    # whenever wand measured faster.
    v, kept, proxy = 16_568_866, 0.2072, 10_091_163
    scaled = fit_router_floor(5.32, 7.19, v, kept, proxy_volume=proxy)
    assert scaled < proxy
    unscaled = fit_router_floor(5.32, 7.19, v, kept)
    assert scaled == int(unscaled * proxy / ((1 - kept) * v)) or abs(
        scaled - unscaled * proxy / ((1 - kept) * v)
    ) <= 1
    # and when exhaustive measured faster, the scaled floor sits ABOVE
    # the proxy (batch routes exhaustive)
    assert fit_router_floor(7.19, 5.32, v, kept, proxy_volume=proxy) > proxy


def test_for_codec_roundtrip():
    """Frame-of-reference bit-packing: exact roundtrip across mixed
    widths, all-equal rows (zero payload), empty rows, and outliers."""
    from bayesian_bm25_js_spark.operators.compression import (
        _for_decode_rows,
        _for_encode_rows,
    )

    rng = mulberry32(13)
    rows = [
        [100] * 7,                               # all-equal -> width 0
        [],                                      # empty
        [int(rng() * 5000) + 3 for _ in range(128)],
        [0, 1],
        [7, 7, 7, 8],                            # width 1
        [int(rng() * 2**40), 5, 9],              # outlier forces wide row
    ]
    lens = np.array([len(r) for r in rows], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    flat = np.array([x for r in rows for x in r], dtype=np.int64)
    blobs, mins, widths = _for_encode_rows(flat, starts, lens)
    assert widths[0] == 0 and blobs[0] == b""   # all-equal stores nothing
    assert blobs[1] == b"" and widths[4] == 1
    out = _for_decode_rows(blobs, mins, widths, lens)
    assert out.tolist() == flat.tolist()


def test_query_mode_toggles_and_restores(spark):
    from bayesian_bm25_js_spark.session import query_mode

    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    with query_mode(spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        # an action planned inside the context runs without AQE
        assert spark.range(10).groupBy((F.col("id") % 3).alias("g")).count().count() == 3
    assert spark.conf.get("spark.sql.adaptive.enabled", "true") == prev

    # the conf is restored even when the action raises
    try:
        with query_mode(spark):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.adaptive.enabled", "true") == prev


def _bounds_and_tau(block_max, query_terms, k):
    """Catalyst parity oracle for wand._fused_survivors -> (bounds, tau).

    The same bounds and two witness rules as the production kernel's
    docstring, written as plain Spark phases: bounds groupBy, rule 1's
    kth-largest-lb window, rule 2's per-term cumulative-count window,
    and the outer join that takes the larger τ (-∞ when neither rule
    applies)."""
    from pyspark.sql.window import Window

    qt = query_terms
    if "is_first" not in qt.columns:
        w_first = Window.partitionBy("query_id", "term").orderBy("pos")
        qt = qt.withColumn("is_first", F.row_number().over(w_first) == 1)
    key = "term_id" if "term_id" in block_max.columns else "term"
    if key == "term_id":
        qt = qt.withColumn("term_id", F.xxhash64("term")).drop("term")
    qb = block_max.join(F.broadcast(qt.select("query_id", key, "is_first")), key)

    bounds = qb.groupBy("query_id", "block_id").agg(
        F.sum("max_contrib").alias("ub"),
        F.max("max_contrib").alias("lb"),
    )

    # rule 1: kth largest lb over distinct blocks
    w1 = Window.partitionBy("query_id").orderBy(F.desc("lb"), F.asc("block_id"))
    rule1 = (
        bounds.withColumn("__rn", F.row_number().over(w1))
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.min(F.when(F.col("__rn") <= k, F.col("lb"))).alias("kth_lb"),
        )
        .select(
            "query_id",
            F.when(F.col("n_blocks") >= k, F.col("kth_lb")).alias("tau1"),
        )
    )

    # rule 2: best single-term count witness (is_first dedupes
    # duplicate query tokens)
    w2 = Window.partitionBy("query_id", key).orderBy(
        F.desc("min_contrib"), F.asc("block_id")
    )
    cum = qb.filter(F.col("is_first")).withColumn("__cum", F.sum("n").over(w2))
    tau_t = (
        cum.filter((F.col("__cum") >= k) & (F.col("__cum") - F.col("n") < k))
        .groupBy("query_id", key)
        .agg(F.max("min_contrib").alias("tau_t"))
    )
    rule2 = tau_t.groupBy("query_id").agg(F.max("tau_t").alias("tau2"))

    tau = rule1.join(rule2, "query_id", "outer").select(
        "query_id",
        F.coalesce(
            F.greatest("tau1", "tau2"),
            F.col("tau1"),
            F.col("tau2"),
            F.lit(float("-inf")),
        ).alias("tau"),
    )
    return bounds, tau


def test_fused_survivors_matches_catalyst_phases(spark, rnd_index):
    """The applyInPandas survivors kernel must keep exactly the blocks
    the Catalyst bounds/tau phases keep — same witness rules, same
    tie-breaks — for every query shape (hot, rare, mixed, duplicate
    tokens, unknown terms, k larger than the candidate set)."""
    from bayesian_bm25_js_spark.operators.compression import block_max_table
    from bayesian_bm25_js_spark.operators.wand import (
        ROUND_SLACK,
        _fused_survivors,
    )

    corpus, idx = rnd_index
    queries = [
        ["w0", "w1"],
        ["w40", "w49"],
        ["w0", "w45"],
        ["w2", "w2", "w3"],
        ["nope"],
        ["w7"],
    ]
    bm = block_max_table(idx, 64)
    qdf = queries_to_df(spark, queries)
    for k in (1, 5, 100):
        bounds, tau = _bounds_and_tau(bm, qdf, k)
        keep = F.col("ub") >= F.col("tau") - F.lit(ROUND_SLACK)
        catalyst = {
            (r["query_id"], r["block_id"])
            for r in bounds.join(tau, "query_id").filter(keep).collect()
        }
        fused = {
            (r["query_id"], r["block_id"])
            for r in _fused_survivors(bm, qdf, k).collect()
        }
        assert fused == catalyst, k


def test_fused_stats_match_catalyst_stats(spark, rnd_index):
    """return_stats rides the production fused kernel (ADVICE r4); its
    (blocks_total, blocks_kept) must equal the counts of the Catalyst
    oracle's phases — including for queries that keep zero blocks (the
    null-marker row) and unknown-term queries (no candidate blocks at
    all)."""
    from bayesian_bm25_js_spark.operators.compression import block_max_table
    from bayesian_bm25_js_spark.operators.wand import ROUND_SLACK, wand_topk

    corpus, idx = rnd_index
    queries = [["w0", "w1"], ["w40", "w49"], ["nope"], ["w2", "w2", "w3"]]
    qdf = queries_to_df(spark, queries)
    bm = block_max_table(idx, 64)
    k = 3

    _, stats = wand_topk(
        idx, qdf, k, block_max=bm, block_size=64, return_stats=True
    )
    got = {
        r["query_id"]: (r["blocks_total"], r["blocks_kept"])
        for r in stats.collect()
    }

    bounds, tau = _bounds_and_tau(bm, qdf, k)
    keep = F.col("ub") >= F.col("tau") - F.lit(ROUND_SLACK)
    expected = {
        r["query_id"]: (r["blocks_total"], r["blocks_kept"])
        for r in bounds.join(tau, "query_id")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("blocks_total"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("blocks_kept"),
        )
        .collect()
    }
    assert got == expected
    # the unknown-term query has no candidate blocks on either side
    assert set(got) == {0, 1, 3}, got


def test_survivor_pack_shift_scales_past_int32_blocks():
    """The packed survivor key must widen its block_id field when the
    corpus outgrows 2^31 blocks (ADVICE r4: 10^12 docs / 128-block =
    7.8e9 block ids > int32)."""
    from bayesian_bm25_js_spark.operators.wand import _survivor_pack_shift

    assert _survivor_pack_shift(100_000, 128) == 32  # historical layout
    big = 10**12
    shift = _survivor_pack_shift(big, 128)
    max_block = big // 128
    assert shift > 32 and max_block < (1 << shift)
    # query ids keep a workable range even at extreme scale
    assert (1 << (63 - shift)) >= 1_000_000
