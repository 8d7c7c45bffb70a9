"""spark-submit entry point: batched top-k queries over a saved index.

Usage (cluster):
  python tools/make_pyfiles.py                 # -> dist/bayesian_bm25_js_spark.zip
  spark-submit --py-files dist/bayesian_bm25_js_spark.zip \\
      jobs/query_job.py \\
      --index <index-path> --queries <one query per line, space-separated terms> \\
      [--k 10] [--strategy auto] [--packed] [--out <parquet-path>]

Local smoke:
  spark-submit jobs/build_index_job.py --synthesize 2000 --out /tmp/idx
  echo "static void main" > /tmp/q.txt
  spark-submit jobs/query_job.py --index /tmp/idx --queries /tmp/q.txt

Results: (query_id, rank, doc_id, score, probability) — query_id indexes
into the input line order. --strategy auto routes each batch between
block-max WAND and the exhaustive scorer by measured cost
(operators/wand.route_queries); wand/exhaustive force one path. All
strategies are rank-identical under the engine's round(score, 6) policy.
Every strategy ranks through operators/scoring.top_k: one query_id
row_number window, below whose exchange Spark plans a partial
WindowGroupLimit, so at most k rows per query per partition are
shuffled. Spark plans it only for
k <= spark.sql.optimizer.windowGroupLimitThreshold (default 1000).
"""

from __future__ import annotations

import argparse
import sys


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--index", required=True, help="saved index path")
    parser.add_argument("--queries", required=True,
                        help="text file: one query per line, whitespace-separated terms")
    parser.add_argument("--k", type=int, default=10)
    parser.add_argument("--strategy", default="auto",
                        choices=["auto", "wand", "exhaustive"])
    parser.add_argument("--packed", action="store_true",
                        help="query through the delta+varint packed layout")
    parser.add_argument("--out", default=None,
                        help="write results parquet here (default: show)")
    args = parser.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("bb25-query").getOrCreate()

    from bayesian_bm25_js_spark.operators.scoring import (
        calibrate,
        queries_to_df,
        score_queries,
        top_k,
    )
    from bayesian_bm25_js_spark.sources.index_store import (
        load_index,
        load_packed_index,
    )

    import os

    loader = load_packed_index if args.packed else load_index
    # accept either a direct index layout or a build_index_job --out
    # root (which nests the queryable layout under <out>/index)
    idx_path = args.index
    if not os.path.exists(f"{idx_path}/meta.json") and os.path.exists(
        f"{idx_path}/index/meta.json"
    ):
        idx_path = f"{idx_path}/index"
    index, params = loader(spark, idx_path)

    with open(args.queries) as f:
        queries = [line.split() for line in f if line.strip()]
    if not queries:
        print("no queries", file=sys.stderr)
        return 1

    if args.strategy == "exhaustive":
        qdf = queries_to_df(spark, queries)
        terms = sorted({t for q in queries for t in q})
        ranked = top_k(score_queries(index, qdf, terms_filter=terms), args.k)
    elif args.strategy == "wand":
        from bayesian_bm25_js_spark.operators.wand import wand_topk

        qdf = queries_to_df(spark, queries)
        terms = sorted({t for q in queries for t in q})
        ranked = wand_topk(index, qdf, args.k, terms_filter=terms)
    else:
        from bayesian_bm25_js_spark.operators.wand import auto_topk

        ranked = auto_topk(index, queries, args.k)

    out = calibrate(
        ranked,
        index,
        params.get("alpha", 1.0),
        params.get("beta", 0.0),
        params.get("base_rate"),
    ).select("query_id", "rank", "doc_id", "score", "probability")

    if args.out:
        out.repartition(1).sortWithinPartitions("query_id", "rank").write.mode(
            "overwrite"
        ).parquet(args.out)
        print(f"wrote {args.out}")
    else:
        out.orderBy("query_id", "rank").show(50, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
