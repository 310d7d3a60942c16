"""Block-max WAND kernel (M4): pruning must be lossless — the packed
engine's top-k must equal the exhaustive pure-Python oracle's top-k
(rank-identical, scores to float tolerance) on the frozen query set."""

import numpy as np
import pytest

from search_engine_spark.plans import bm25, wand
from search_engine_spark.plans.query_ast import compile_query
from search_engine_spark.sources.queryset import QUERY_STRINGS

from tests.helpers import JOB_BUDGETS, _jobs_for


# ---------------------------------------------------------------------------
# pure-kernel unit tests (no Spark)
# ---------------------------------------------------------------------------

def _mk_term(rng, n_docs, density, idf):
    from search_engine_spark.operators import codec

    ids = np.flatnonzero(rng.random(n_docs) < density).astype(np.int64)
    if ids.size == 0:
        ids = np.array([int(rng.integers(0, n_docs))], dtype=np.int64)
    tfs = rng.integers(1, 8, ids.size).astype(np.int64)
    return ids, tfs, idf


def _brute_or(terms, dls, avgdl, k):
    scores: dict[int, float] = {}
    for t in terms:
        for d, tf in zip(t["ids"], t["tfs"]):
            scores[d] = scores.get(d, 0.0) + t["idf"] * bm25.weight(tf, dls[d], avgdl)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [d for d, _ in ranked], [s for _, s in ranked]


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
@pytest.mark.parametrize("k", [3, 10, 50])
def test_topk_or_equals_bruteforce(seed, k):
    from search_engine_spark.operators import codec

    rng = np.random.default_rng(seed)
    n_docs = 3000
    dls = rng.integers(20, 400, n_docs).astype(np.float64)
    avgdl = float(dls.mean())
    terms = []
    for density, idf in [(0.3, 0.5), (0.05, 2.1), (0.01, 4.0), (0.002, 6.0)]:
        ids, tfs, _ = _mk_term(rng, n_docs, density, idf)
        last, maxw = codec.block_headers(
            ids, np.array([bm25.weight(t, dls[d], avgdl) for d, t in zip(ids, tfs)])
        )
        terms.append(
            {"ids": ids, "tfs": tfs, "block_last": last, "block_maxw": maxw,
             "idf": idf}
        )
    got_ids, got_sc = wand.topk_or(terms, dls, 0, k, avgdl)
    want_ids, want_sc = _brute_or(terms, dls, avgdl, k)
    assert list(got_ids) == want_ids
    np.testing.assert_allclose(got_sc, want_sc, rtol=1e-12)


def test_topk_or_ties_kept_deterministically():
    from search_engine_spark.operators import codec

    # every doc identical → scores all equal; top-k must be lowest doc ids
    n = 500
    ids = np.arange(n, dtype=np.int64)
    tfs = np.ones(n, dtype=np.int64)
    dls = np.full(n, 100.0)
    last, maxw = codec.block_headers(ids, np.full(n, bm25.weight(1, 100.0, 100.0)))
    terms = [{"ids": ids, "tfs": tfs, "block_last": last, "block_maxw": maxw,
              "idf": 1.0}]
    got_ids, _ = wand.topk_or(terms, dls, 0, 10, 100.0)
    assert list(got_ids) == list(range(10))


# ---------------------------------------------------------------------------
# routing
# ---------------------------------------------------------------------------

def test_route_flat_trees():
    assert wand.route(compile_query("search")) == ("or", ["search"])
    mode, stems = wand.route(compile_query("search engine"))
    assert mode == "and" and stems == ["search", "engin"]
    mode, stems = wand.route(compile_query("w1 | w2 | w3"))
    assert mode == "or" and stems == ["w1", "w2", "w3"]
    assert wand.route(compile_query('"search engine"')) is None
    assert wand.route(compile_query("search - engine")) is None
    assert wand.route(compile_query("search & (engine | crawler)")) is None
    assert wand.route(compile_query("the")) is None  # stopword → empty plan


# ---------------------------------------------------------------------------
# engine equivalence on the frozen query set
# ---------------------------------------------------------------------------

def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def _oracle_rows(oracle, query):
    return [(d, round(s, 9)) for d, s, _u, _t in oracle.topk(query, k=10)]


@pytest.mark.parametrize("query", [q for q in QUERY_STRINGS
                                   if wand.route(compile_query(q)) is not None])
def test_packed_engine_matches_exhaustive(oracle, packed_engine, query):
    got = _rows(packed_engine.search(query, k=10))
    want = _oracle_rows(oracle, query)
    assert [d for d, _ in got] == [d for d, _ in want], query
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in want], rtol=1e-9
    )


def test_search_batch_matches_per_query(packed_engine):
    """One-job batch evaluation must equal per-query search results."""
    routable = [q for q in QUERY_STRINGS
                if wand.route(compile_query(q)) is not None]
    batch = packed_engine.search_batch(routable, k=10).collect()
    by_q: dict[str, list] = {}
    for r in sorted(batch, key=lambda r: (r["query"], r["rank"])):
        by_q.setdefault(r["query"], []).append((r["doc_id"], round(r["score"], 9)))
    for q in routable:
        want = _rows(packed_engine.search(q, k=10))
        assert by_q.get(q, []) == want, q


def _batch_rows(engine, queries, **kw) -> dict[str, list]:
    """search_batch's rows per query, in rank order."""
    batch = engine.search_batch(queries, k=10, **kw).collect()
    by_q: dict[str, list] = {}
    for r in sorted(batch, key=lambda r: (r["query"], r["rank"])):
        by_q.setdefault(r["query"], []).append((r["doc_id"], round(r["score"], 9)))
    return by_q


def test_search_batch_is_total_over_mixed_queries(packed_engine):
    """A batch mixing flat, phrase, NOT, NEAR, stopword-only and repeated
    queries must return per-query results equal to search() — nothing
    silently dropped, nothing ranked twice; so must a synonym batch."""
    mixed = [
        "search engine",               # flat AND
        "crawler | parser",            # flat OR
        '"search engine"',             # phrase → general kernel
        "search - engine",             # NOT → general kernel
        '"engine search"~8',           # NEAR → general kernel
        "the of and",                  # stopword-only → defined-empty
        "search engine",               # repeated → ranked once
    ]
    by_q = _batch_rows(packed_engine, mixed)
    for q in mixed[:5]:
        want = _rows(packed_engine.search(q, k=10))
        assert by_q.get(q, []) == want, q
    assert by_q['"engine search"~8']
    assert "the of and" not in by_q  # defined-empty, not an error
    synonym = ["connection", "search connection", "crawler | connection"]
    by_q = _batch_rows(packed_engine, synonym, synonyms=True)
    for q in synonym:
        want = _rows(packed_engine.search(q, k=10, synonyms=True))
        assert by_q.get(q, []) == want and want, q


@pytest.mark.parametrize("query", ["search engine", "crawler | parser"])
def test_search_batch_of_one_flat_query_equals_search(packed_engine, query):
    """A batch holding one flat query runs the planner's block-max WAND
    branch, as search() does: same rows, same order, same scores."""
    want = _rows(packed_engine.search(query, k=10))
    assert _batch_rows(packed_engine, [query]) == {query: want}
    assert want


def test_packed_engine_fallback_paths(oracle, packed_engine):
    """Phrase and NOT trees on the general kernel equal the oracle."""
    for q in ['"search engine"', "search - engine", "engine - (crawler | parser)"]:
        got = _rows(packed_engine.search(q, k=10))
        want = _oracle_rows(oracle, q)
        assert [d for d, _ in got] == [d for d, _ in want], q
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in want], rtol=1e-9)


def test_search_batch_job_count_is_constant_in_queries(packed_engine):
    """The scale contract of batch retrieval: a mixed batch (flat +
    phrases + NOT + synonyms) must submit O(1) Spark jobs regardless of
    |queries| — every non-flat AST shares ONE general-kernel pass and ONE
    phrase-df subplan, instead of one job per query (the round-3
    driver-side bottleneck)."""
    spark = packed_engine.spark

    def mixed(n: int) -> list[str]:
        base = [
            "w{} engine".format,        # flat AND
            'search | w{}'.format,      # flat OR
            '"w{} w1"'.format,          # phrase
            "search - w{}".format,      # NOT
            '"w0 w1" w{}'.format,       # phrase + AND
        ]
        return [base[i % len(base)](i % 7) for i in range(n)]

    small = _jobs_for(
        spark, "batch-small",
        lambda: packed_engine.search_batch(mixed(5), k=5).count(),
    )
    large = _jobs_for(
        spark, "batch-large",
        lambda: packed_engine.search_batch(mixed(40), k=5).count(),
    )
    assert large == small, (small, large)
    # a fixed handful (bucket shuffle + phrase-df aggregate + broadcast +
    # rank window), NOT O(|queries|): 40 mixed queries at ~3 jobs each
    # would be 100+
    assert small <= 20, small


@pytest.mark.parametrize("query,kw,budget", JOB_BUDGETS)
def test_search_job_count_per_class(packed_engine, query, kw, budget):
    rows = []
    jobs = _jobs_for(
        packed_engine.spark, f"class-{query}",
        lambda: rows.extend(packed_engine.search(query, k=10, **kw).collect()),
    )
    assert rows, query
    assert jobs <= budget, (query, jobs)


def test_site_search_job_count(packed_engine):
    url = packed_engine.docmeta.select("url").first()["url"]
    site = url.split("/")[2]
    rows = []
    jobs = _jobs_for(
        packed_engine.spark, "class-site",
        lambda: rows.extend(
            packed_engine.search("search | w0", k=10, site=site).collect()),
    )
    assert rows and all(site in r["url"] for r in rows)
    assert jobs <= 4, jobs


@pytest.mark.parametrize("query", ["", "the of and"])
def test_empty_query_launches_no_job(packed_engine, query):
    """An empty or stopword-only query answers from a driver-local
    relation: no Spark job, not even to collect nothing."""
    out = []
    jobs = _jobs_for(
        packed_engine.spark, f"empty-{query}",
        lambda: out.extend(packed_engine.search(query, k=10).collect()),
    )
    assert out == [] and jobs == 0
