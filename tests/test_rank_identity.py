"""Rank-identity (SURVEY.md §5.2 layer 5; the north-rule correctness gate):
engine top-10 (doc_id, score) must equal the frozen pure-Python BM25 oracle
rank-identically on the full query set, ties broken (score DESC, doc_id ASC).
"""

import pytest

from search_engine_spark.sources.queryset import QUERIES


def _run(engine, oracle, q, k=10, synonyms=False, tol=1e-9):
    got = [
        (r["doc_id"], r["score"])
        for r in engine.search(q, k=k, synonyms=synonyms).collect()
    ]
    exp = [(d, s) for d, s, _, _ in oracle.topk(q, k=k, synonyms=synonyms)]
    assert [d for d, _ in got] == [d for d, _ in exp], (
        f"query {q!r}: docs {got} vs {exp}"
    )
    for (gd, gs), (ed, es) in zip(got, exp):
        assert gs == pytest.approx(es, rel=tol, abs=tol), (
            f"query {q!r} doc {gd}: score {gs} vs {es}"
        )


@pytest.mark.parametrize("qid,q", QUERIES)
def test_rank_identity(packed_engine, oracle, qid, q):
    """The one-job batch path (search_batch) must be rank-identical to the
    oracle on every query of the frozen set."""
    got = [(r["doc_id"], r["score"]) for r in sorted(
        packed_engine.search_batch([q], k=10).collect(),
        key=lambda r: r["rank"])]
    exp = [(d, s) for d, s, _, _ in oracle.topk(q, k=10)]
    assert [d for d, _ in got] == [d for d, _ in exp], q
    assert [s for _, s in got] == pytest.approx(
        [s for _, s in exp], rel=1e-9, abs=1e-9), q


# Real-vocabulary queries: every word below is (a) in the synthetic corpus
# vocabulary and (b) has a WordNet synset for its stem in the FULL 41k-line
# fixtures/synsets.txt (same provenance as the reference's
# query/synsets.txt: public WordNet noun synsets, query/dump_synsets.py).
# This proves expansion parity on real data, not just the old 50-line toy.
SYNONYM_QUERIES = [
    "connection", "search engine", "apple", "attention", "bias",
    "news", "retrieval", "inference", "adoption", "bonus",
    "detention", "size", "women", "teeth", "wolves",
    "signal cluster", "document ranking", "query engine",
    "apple | news", "attention - bias", "size (bonus | news)",
    "engine indexing", "hopeful singing",
]


@pytest.mark.parametrize("q", SYNONYM_QUERIES)
def test_rank_identity_with_synonyms(packed_engine, oracle, q):
    _run(packed_engine, oracle, q, synonyms=True)


@pytest.mark.parametrize("q", ["connection", "news retrieval", "apple | size"])
def test_rank_identity_with_synonyms_packed(packed_engine, oracle, q):
    _run(packed_engine, oracle, q, synonyms=True)


@pytest.mark.parametrize("qid,q", QUERIES)
def test_rank_identity_packed(packed_engine, oracle, qid, q):
    """The physical path (varbyte + block-max WAND + general kernel) must be
    rank-identical to the oracle too; 1e-9 tolerance absorbs float addition
    order inside the kernel."""
    _run(packed_engine, oracle, q)


NONFLAT_QUERIES = [
    '"search engine"', '"index the documents"', '"search engine" ranking',
    "search - engine", "- search", "engine - (crawler | parser)",
    "search & (engine | crawler)", 'documents "index documents"',
]


@pytest.mark.parametrize("q", NONFLAT_QUERIES)
def test_rank_identity_packed_without_fallback(packed_engine, oracle, q):
    """Phrases/NOT/nesting are served by the packed general kernel."""
    _run(packed_engine, oracle, q)


@pytest.mark.parametrize("q", ["connection", "news retrieval",
                               "attention - bias"])
def test_rank_identity_synonyms_packed_without_fallback(packed_engine, oracle,
                                                        q):
    _run(packed_engine, oracle, q, synonyms=True)


def test_nonempty_results_for_head_terms(packed_engine):
    assert packed_engine.search("search").count() > 0
    assert packed_engine.search("w0").count() > 0


def test_stopword_query_empty(packed_engine):
    assert packed_engine.search("the of and").count() == 0
