"""NEAR/k ordered-proximity operator on the REAL engine: parser syntax
("a b"~k), packed positional kernel (window-widened phrase chain), and the
pure-Python oracle's ordered chain — independent implementations
cross-checked (plus NEAR/1 ≡ Phrase exactly)."""

import pytest

from search_engine_spark.plans.query_ast import (
    Near, Phrase, Word, compile_query, parse,
)

QUERIES = ['"w0 w1"~3', '"w0 scores"~4', '"w1 w0"~8']


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

def test_parse_near_suffix():
    ast = parse('"search engine"~3')
    assert isinstance(ast, Near)
    assert ast.window == 3
    assert ast.terms == ["search", "engine"]


def test_parse_plain_phrase_is_not_near():
    ast = parse('"search engine"')
    assert isinstance(ast, Phrase) and not isinstance(ast, Near)


def test_parse_near_window_clamped_to_one():
    assert parse('"search engine"~0').window == 1


def test_near_suffix_only_binds_to_phrase():
    # after a word, ~3 is just another (stemmable) token, not a modifier
    ast = parse("search ~3")
    assert not isinstance(ast, Near)


def test_optimize_keeps_near_window():
    ast = compile_query('"search the engine"~5')
    assert isinstance(ast, Near)
    assert ast.window == 5
    # inner stopword dropped, like Phrase
    assert ast.effective_stems == ["search", "engin"]


def test_optimize_collapses_single_stem_near_to_word():
    ast = compile_query('"the search"~4')
    assert isinstance(ast, Word)


# ---------------------------------------------------------------------------
# NEAR/1 ≡ Phrase (exact equality, packed path)
# ---------------------------------------------------------------------------

def test_near1_equals_phrase_packed(packed_engine):
    got = [
        (r.doc_id, round(r.score, 9))
        for r in packed_engine.search('"w0 w1"~1', k=10).collect()
    ]
    want = [
        (r.doc_id, round(r.score, 9))
        for r in packed_engine.search('"w0 w1"', k=10).collect()
    ]
    assert got == want
    assert got  # fixture sanity: the phrase matches


# ---------------------------------------------------------------------------
# packed kernel ≡ exhaustive oracle (rank identity)
# ---------------------------------------------------------------------------

def _packed_vs_oracle(packed_engine, oracle, q):
    got = [(r.doc_id, r.score)
           for r in packed_engine.search(q, k=10).collect()]
    want = [(d, s) for d, s, _u, _t in oracle.topk(q, k=10)]
    assert [d for d, _ in got] == [d for d, _ in want], q
    assert [s for _, s in got] == pytest.approx(
        [s for _, s in want], rel=1e-9, abs=1e-12), q
    assert got, q


@pytest.mark.parametrize("q", QUERIES)
def test_near_packed_matches_exhaustive(q, packed_engine, oracle):
    _packed_vs_oracle(packed_engine, oracle, q)


def test_near_mixed_tree_packed_matches_exhaustive(packed_engine, oracle):
    _packed_vs_oracle(packed_engine, oracle, '"w0 w1"~4 scores')


# ---------------------------------------------------------------------------
# semantics
# ---------------------------------------------------------------------------

def _match_count(packed_engine, q):
    return packed_engine.search(q, k=10**6).count()


def test_near_candidates_monotone_in_window(packed_engine):
    counts = [
        _match_count(packed_engine, f'"w0 w1"~{k}')
        for k in (1, 2, 4, 8, 16)
    ]
    assert counts == sorted(counts)
    # strictly widens somewhere on this corpus (not a vacuous check)
    assert counts[-1] > counts[0]


def test_near_superset_of_phrase_subset_of_ordered_and(packed_engine):
    near = {
        r.doc_id
        for r in packed_engine.search('"w0 w1"~6', k=10**6).collect()
    }
    phrase = {
        r.doc_id
        for r in packed_engine.search('"w0 w1"', k=10**6).collect()
    }
    both = {
        r.doc_id
        for r in packed_engine.search("w0 & w1", k=10**6).collect()
    }
    assert phrase <= near <= both


# ---------------------------------------------------------------------------
# batch path: NEAR queries ride the one-job mixed general kernel
# ---------------------------------------------------------------------------

def test_near_in_mixed_batch_matches_per_query(packed_engine):
    mixed = ["w0 scores", '"w0 w1"~3', '"w0 w1"', '"w1 w0"~8 - scores']
    batch = packed_engine.search_batch(mixed, k=10).collect()
    by_q: dict[str, list] = {}
    for r in sorted(batch, key=lambda r: (r["query"], r["rank"])):
        by_q.setdefault(r["query"], []).append(
            (r["doc_id"], round(r["score"], 9))
        )
    for q in mixed:
        want = [
            (r.doc_id, round(r.score, 9))
            for r in packed_engine.search(q, k=10).collect()
        ]
        assert by_q.get(q, []) == want, q
