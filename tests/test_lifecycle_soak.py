"""Composed lifecycle soak: stream ingest -> incremental consolidation ->
three tiered appends -> delete -> a tiered append the compaction-debt
policy promotes to full -> compaction.

After every step one query per class must equal the pure-Python oracle
over the surviving corpus, and the warehouse must hold exactly the tables
the engine's layout defines.  At the end the compacted warehouse must be
bit-identical to a from-scratch build of the survivors and answer every
query mode the same way.

Each batch's urls sort after every earlier url, so doc ids continue
densely and the bit-identity contract of ``run_append`` and the stream
consolidator applies.  Per-step wall times are printed as one JSON line
(``lifecycle_soak_steps``)."""

import datetime as dt
import json
import math
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from search_engine_spark import schemas
from search_engine_spark.oracle.bm25_oracle import OracleIndex
from search_engine_spark.sources.catalog import IndexCatalog
from search_engine_spark.sources.queryset import QUERY_STRINGS

from tests.helpers import _packed_fingerprint

LAYOUT = {"num_shards": 8, "salt_buckets": 4, "merge_factor": 2}
MAX_GENERATIONS = 4          # base + 3 tiered tails; the 4th append promotes
POOL = ["search", "engine", "connection", "link", "joining", "index",
        "crawler", "parser", "news", "signal", "apple", "union", "ranking",
        "document", "query", "w0", "w1", "w2", "w3", "w4"]
HEADS = ["search engine", "engine search", "crawler search", "news link"]
# (query, synonyms, mode) — one per class the oracle answers
ORACLE_QUERIES = [
    ("search", False, None),                # word
    ("search engine", False, None),         # AND
    ("crawler | parser", False, None),      # OR
    ("engine - crawler", False, None),      # NOT
    ('"search engine"', False, None),       # phrase
    ("connection", True, None),             # synonym
    ("search engine", False, "dynamic"),    # dynamic parity mode
]
# the tables every lifecycle state must hold, and the write-aside tables
# no step may leave behind
CORE = {"docmeta", "index_stats", "doclens", "postings_partial",
        "postings_packed"}
ASIDE = {"postings_next", "docmeta_next", "index_stats_next",
         "postings_packed_next", "postings_partial_next"}


def _doc(prefix: str, i: int) -> dict:
    url = f"http://{prefix}{i:03d}.com/p"
    words = [HEADS[i % len(HEADS)]] + [
        POOL[(i * (j + 3) + j * j) % len(POOL)] for j in range(8 + i % 3)
    ]
    h = sum(url.encode())
    html = (f"<html><head><title>alpha t{h % 5}</title></head>"
            f"<body>{' '.join(words)}</body></html>")
    return {"url": url,
            "warc_ts": dt.datetime(2026, 1, 1) + dt.timedelta(seconds=h),
            "html": html.encode(), "text": "", "lang": "en"}


def _batch(prefix: str, n: int) -> list[dict]:
    return [_doc(prefix, i) for i in range(n)]


def _frame(spark, rows):
    return spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
         for r in rows], schemas.PAGES)


def _tables(cat) -> set[str]:
    return {p.name for p in cat.warehouse.iterdir()
            if (p / "_SUCCESS").exists()}


def _ranked(rows) -> list[tuple[str, float]]:
    return [(r["url"], r["score"]) for r in rows]


def _same(got, want, what):
    assert [u for u, _ in got] == [u for u, _ in want], what
    assert [s for _, s in got] == pytest.approx(
        [s for _, s in want], rel=1e-9, abs=1e-12), what


def _engine(cat):
    from search_engine_spark.plans.wand import PackedQueryEngine

    return PackedQueryEngine.from_catalog(cat)


def _check_oracle(cat, rows, step):
    eng, oracle = _engine(cat), OracleIndex(rows)
    for q, syn, mode in ORACLE_QUERIES:
        if mode == "dynamic":
            got = eng.search(q, k=10, dynamic_mode=True).collect()
            want = oracle.topk_dynamic(q, k=10)
        else:
            got = eng.search(q, k=10, synonyms=syn).collect()
            want = oracle.topk(q, k=10, synonyms=syn)
        assert want, (step, q)
        _same(_ranked(got), [(u, s) for _d, s, u, _t in want],
              (step, q, mode))


def test_lifecycle_soak(spark, tmp_path):
    from search_engine_spark.operators.pipeline import (
        compact_deletes, run_append, run_build, run_delete,
    )
    from search_engine_spark.streaming.ingest import (
        consolidate_stream_incremental, incremental_index,
    )

    base = _batch("a", 40)
    appends = [_batch(p, 12) for p in "bcde"]
    deleted = {base[3]["url"], base[17]["url"], base[31]["url"],
               appends[0][2]["url"], appends[1][5]["url"],
               appends[2][11]["url"]}
    width = math.ceil(len(base) / LAYOUT["salt_buckets"])

    # the from-scratch build of the survivors, on the base build's grid:
    # the end-state reference, and the table set a fresh build writes
    survivors = [r for b in [base] + appends for r in b
                 if r["url"] not in deleted]
    scratch = run_build(spark, _frame(spark, survivors),
                        str(tmp_path / "wh_scratch"), bucket_width=width,
                        **LAYOUT)
    logical = "postings" in _tables(scratch)

    steps: dict[str, float] = {}
    live: list[dict] = []
    cat = IndexCatalog(spark, tmp_path / "wh")

    def after(step: str, t0: float) -> None:
        steps[step] = round(time.perf_counter() - t0, 2)
        tables = _tables(cat)
        assert CORE <= tables, (step, CORE - tables)
        assert not tables & ASIDE, (step, tables & ASIDE)
        # the stream writes its doc rows to docs_stream and nothing else:
        # no stream-side docmeta/postings, no staged delta tables (listed
        # by directory: per-batch overwrites leave no _SUCCESS marker)
        dirs = {p.name for p in cat.warehouse.iterdir() if p.is_dir()}
        assert not [t for t in dirs
                    if (t.endswith("_stream") and t != "docs_stream")
                    or "_delta_" in t], (step, dirs)
        # a lifecycle warehouse holds a logical postings table exactly
        # when a from-scratch build writes one
        assert ("postings" in tables) == logical, step
        _check_oracle(cat, live, step)

    # 1. stream-ingest the base, consolidate (first call: full build)
    src = tmp_path / "pages_in"
    src.mkdir()
    pq.write_table(pa.Table.from_pylist(base), src / "b0.parquet")
    t0 = time.perf_counter()
    incremental_index(spark, str(src), str(cat.warehouse),
                      str(tmp_path / "ck"))
    assert consolidate_stream_incremental(cat, **LAYOUT) == "full"
    live += base
    after("stream_consolidate", t0)
    assert int(cat.get_prop("p6a_bucket_width")) == width

    # 2. three tiered appends, each a new manifest generation
    for i, batch in enumerate(appends[:3], start=1):
        t0 = time.perf_counter()
        run_append(spark, _frame(spark, batch), str(cat.warehouse),
                   label=f"t{i}", compaction="tiered",
                   max_generations=MAX_GENERATIONS)
        live += batch
        after(f"tiered_append_{i}", t0)
        gens = cat.read_manifest("postings_packed")["generations"]
        assert len(gens) == i + 1

    # 3. delete across the base and the tiered generations
    t0 = time.perf_counter()
    run_delete(spark, spark.createDataFrame([(u,) for u in sorted(deleted)],
                                            "url string"),
               str(cat.warehouse))
    live = [r for r in live if r["url"] not in deleted]
    after("delete", t0)

    # 4. a fourth tiered append would exceed max_generations: promoted
    t0 = time.perf_counter()
    run_append(spark, _frame(spark, appends[3]), str(cat.warehouse),
               label="t4", compaction="tiered",
               max_generations=MAX_GENERATIONS)
    live += [r for r in appends[3] if r["url"] not in deleted]
    after("promoted_append", t0)
    rec = [r for r in cat.lineage_records()
           if r["phase"] == "a6_merge_t4"][-1]
    assert rec["compaction"] == "full" and rec["promoted_from_tiered"]
    assert cat.read_manifest("postings_packed") is None

    # 5. compaction retires the tombstones
    t0 = time.perf_counter()
    compact_deletes(spark, str(cat.warehouse))
    after("compact_deletes", t0)
    assert not cat.exists("tombstones")

    print("lifecycle_soak_steps " + json.dumps(steps))

    # the compacted warehouse IS a from-scratch build of the survivors
    assert _packed_fingerprint(cat) == _packed_fingerprint(scratch)
    meta = sorted(tuple(r) for r in cat.read("docmeta").collect())
    assert meta == sorted(tuple(r) for r in scratch.read("docmeta").collect())

    eng, ref = _engine(cat), _engine(scratch)

    def batch(e):
        return sorted((r["query"], r["rank"], r["doc_id"], r["score"])
                      for r in e.search_batch(QUERY_STRINGS, k=10).collect())

    assert batch(eng) == batch(ref)
    for q, kw in (('"search engine"~3', {}), ("cra*", {}),
                  ("engine", {"site": "b00"}),
                  ("search engine", {"static_mode": True}),
                  ("search engine", {"dynamic_mode": True})):
        got = [(r["doc_id"], r["url"], r["score"])
               for r in eng.search(q, k=10, **kw).collect()]
        want = [(r["doc_id"], r["url"], r["score"])
                for r in ref.search(q, k=10, **kw).collect()]
        assert got and got == want, (q, kw)
