#!/usr/bin/env python
"""Per-round benchmark harness (driver contract).

Prints ONE JSON line:
  {"metric": ..., "value": <total seconds>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, ...extras}

Two surfaces are measured:
* headline driver-contract queries over $SPARK_GRAFT_SF_DIR
  (default /root/testdata/sf0.1) — BM25 family, dedup, LSH, ANN, windows;
* the REAL engine: index build over the deterministic synthetic pages
  corpus (docs/sec) and p50 top-10 BM25 latency over the frozen 40-query
  reference set (sources/queryset.py).

Scaling-efficiency evidence (local[8] vs local[32]) is the committed
32-core history in BENCH/scaling_r*.json and BENCH/BASELINE.md; no tool in
the tree re-measures it, since it needs at least 32 cores.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "20000"))

HEADLINE = [
    "bm25_single",
    "bm25_and",
    "bm25_or",
    "bm25_not",
    "bm25_phrase",
    "topk_tf",
    "term_df",
    "index_stats",
    "dedup_exact",
    "ngram_jaccard",
    "minhash_lsh_pairs",
    "text_quality",
    "fingerprint",
    "ann_cosine_topk",
    "ann_ivf_quantized",
    "rrf_fusion",
    "pagerank",
    "events_window",
    "asof_join",
    "range_join",
]


def _force(df) -> int:
    """Fully execute a DataFrame without driver-side materialization cost
    dominating: count() runs the whole plan (aggregations, joins, top-k)."""
    return df.count()


def main() -> None:
    from search_engine_spark.session import get_spark

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    from search_engine_spark.driver_queries import QUERIES

    timings: dict[str, float] = {}

    # warm the JVM/Arrow paths once so q1 doesn't pay first-job setup
    _force(spark.read.parquet(f"{SF_DIR}/documents.parquet"))

    for name in HEADLINE:
        fn, _sql = QUERIES[name]
        t0 = time.perf_counter()
        _force(fn(spark, SF_DIR))
        timings[name] = round(time.perf_counter() - t0, 4)

    # ---- real engine: index build throughput --------------------------------
    from search_engine_spark.operators.pipeline import run_build
    from search_engine_spark.sources.pages import cached_pages

    pages_path = cached_pages(BENCH_DOCS)
    wh = f"/tmp/se_bench_wh_n{BENCH_DOCS}"
    pages = spark.read.parquet(str(pages_path))
    t0 = time.perf_counter()
    cat = run_build(spark, pages, wh, force=True)
    build_s = time.perf_counter() - t0
    timings["engine_index_build"] = round(build_s, 4)
    docs_per_sec = BENCH_DOCS / build_s

    # ---- real engine: query-set p50 top-10 BM25 latency (packed + WAND;
    # phrase/NOT queries on the general packed kernel) -----------------------
    from search_engine_spark.plans.wand import PackedQueryEngine
    from search_engine_spark.sources.queryset import QUERY_STRINGS

    eng = PackedQueryEngine.from_catalog(cat)
    eng.packed = eng.packed.cache()
    eng.doclens = eng.doclens.cache()
    eng.docmeta = eng.docmeta.cache()
    for df in (eng.packed, eng.doclens, eng.docmeta):
        _force(df)

    lat = []
    for q in QUERY_STRINGS:
        t0 = time.perf_counter()
        eng.search(q, k=10).collect()
        lat.append(time.perf_counter() - t0)
    p50 = statistics.median(lat)
    timings["engine_queryset_p50"] = round(p50, 4)
    timings["engine_queryset_total"] = round(sum(lat), 4)

    # ---- real engine: one-job batch retrieval throughput ------------------
    # (amortized kernel: per-term weights computed once per bucket, every
    # query scored densely — the cluster-scale offline-retrieval shape)
    from search_engine_spark.plans.wand import route
    from search_engine_spark.plans.query_ast import compile_query

    routable = [q for q in QUERY_STRINGS
                if route(compile_query(q)) is not None]
    batch_queries = routable * 40
    t0 = time.perf_counter()
    eng.search_batch(batch_queries, k=10).count()
    batch_s = time.perf_counter() - t0
    timings["engine_batch_search"] = round(batch_s, 4)
    batch_qps = len(batch_queries) / batch_s

    # ---- MIXED one-job batch: flat + phrase + NOT + synonym-shaped ---------
    # queries all share the general bucket kernel (one pass, one shared
    # phrase-df subplan) instead of one job per non-flat query — the
    # round-4 batching of the offline-retrieval path
    mixed_all = [q for q in QUERY_STRINGS if compile_query(q) is not None]
    mixed_queries = mixed_all * 40
    t0 = time.perf_counter()
    eng.search_batch(mixed_queries, k=10).count()
    mixed_s = time.perf_counter() - t0
    timings["engine_batch_mixed"] = round(mixed_s, 4)
    mixed_qps = len(mixed_queries) / mixed_s

    total = sum(timings.values())
    print(
        json.dumps(
            {
                "metric": "index-build docs/sec + query-set p50 top-10 BM25 latency",
                "value": round(total, 4),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "index_build_docs": BENCH_DOCS,
                "index_build_docs_per_sec": round(docs_per_sec, 2),
                "query_p50_sec": round(p50, 4),
                "n_queries": len(QUERY_STRINGS),
                "batch_qps": round(batch_qps, 2),
                "batch_queries": len(batch_queries),
                "batch_mixed_qps": round(mixed_qps, 2),
                "batch_mixed_queries": len(mixed_queries),
                "cpus": CPUS,
            }
        )
    )


if __name__ == "__main__":
    main()
