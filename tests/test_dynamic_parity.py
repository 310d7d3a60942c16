"""Dynamic span-feature ranker parity (SURVEY.md §2.7 R4/R5).

Layer 1: hand-traced kernel unit tests locking the Ranker.cpp semantics,
including its quirks (per-term flag resets, single-term triple counting,
termCount incrementing once per close term).
Layer 2: Spark distributed path (packed_exec.dynamic_scores) vs the
pure-Python per-doc oracle (OracleIndex.topk_dynamic) — rank + score
identity over the fixture corpus for every query shape.
"""

import pytest

from search_engine_spark.plans import dynamic_score as D


# --------------------------------------------------------------------------
# layer 1: kernel semantics
# --------------------------------------------------------------------------

def test_find_best_span_adjacent_pair():
    # rarest 'a'@5, other 'b'@6 expected at +1 → exact ordered close double
    span = D.find_best_span([([6], [0])], [1], target_pos=5, doc_end=100)
    assert (span.term_count, span.is_exact_phrase, span.is_ordered,
            span.is_close, span.is_bold_heading) == (2, True, True, True, False)


def test_find_best_span_flag_reset_quirk():
    """Ranker.cpp:45-47 resets exact/ordered/close at the TOP of each
    other-term iteration, so a trailing absent term wipes the flags while
    termCount keeps the earlier close hit."""
    span = D.find_best_span(
        [([11], [0]), ([], [])], [1, 2], target_pos=10, doc_end=100
    )
    assert span.term_count == 2          # 'b' was close
    assert not span.is_exact_phrase      # wiped by 'c' iteration
    assert not span.is_ordered
    assert not span.is_close


def test_find_best_span_bold_heading_sticky():
    # bold flag on an in-window post sets the span flag and it STAYS set
    span = D.find_best_span(
        [([6], [1]), ([], [])], [1, 2], target_pos=5, doc_end=100
    )
    assert span.is_bold_heading


def test_find_best_span_out_of_window():
    # other term 12 positions away: outside ±10 → lone span
    span = D.find_best_span([([30], [0])], [1], target_pos=17, doc_end=100)
    assert span.term_count == 1 and not span.is_close


def test_extract_features_single_term_triples():
    """queryTerms.size()==1 → every rarest occurrence counts as a triple
    (Ranker.cpp:251-252), and ≤100 positions count top spans."""
    f = D.extract_dynamic_features(
        ["a"], {"a": [0, 50, 150]}, {"a": [0, 0, 0]}, doc_end=200
    )
    assert f.triple_count == 3
    assert f.top_position_spans == 2
    assert f.term_frequencies == [3]
    # single term: no others → flags keep their constructor defaults →
    # every span counts as exact (Ranker.cpp:27-29 never reset)
    assert f.exact_phrase_count == 3


def test_extract_features_rarest_selection_and_order():
    # 'b' rarer than 'a' → spans centered on b; expected rel a = -1
    f = D.extract_dynamic_features(
        ["a", "b"],
        {"a": [3, 9, 20], "b": [10]},
        {"a": [0, 0, 0], "b": [0]},
        doc_end=100,
    )
    # b@10, a expected @9 present → exact; termCount 2 → double
    assert f.exact_phrase_count == 1 and f.double_count == 1


def test_extract_features_url_match_decorated_keys_never_match():
    """Title keys keep their '@' (ISRWord::GetKey) so they can never be a
    url substring — the reference's behavior, ported as-is."""
    f = D.extract_dynamic_features(
        ["@engin"], {"@engin": [0]}, {"@engin": [0]},
        doc_end=10, url="http://engine.com/x",
    )
    assert not f.has_url_match
    f2 = D.extract_dynamic_features(
        ["engin"], {"engin": [0]}, {"engin": [0]},
        doc_end=10, url="http://engine.com/x",
    )
    assert f2.has_url_match


def test_calculate_dynamic_score_title_mix():
    f = D.DynFeatures(exact_phrase_count=1, double_count=1,
                      top_position_spans=1, term_frequencies=[1, 1])
    got = D.calculate_dynamic_score(f, is_title=True, doc_length=50)
    # span=(0.55+0.08)/2=0.315; pos=1.0; freq: 1/50=0.02≥0.01 both → 0.57
    assert got == pytest.approx(0.315 * 0.5 + 1.0 * 0.3 + 0.57 * 0.2, abs=1e-12)


def test_calculate_dynamic_score_body_boosts():
    from search_engine_spark.plans.static_score import custom_exp_py

    f = D.DynFeatures(close_count=2, double_count=2, term_frequencies=[5, 9])
    got = D.calculate_dynamic_score(f, is_title=False, doc_length=10_000)
    span = (2 * 0.23 + 2 * 0.08) / 4
    span *= (0.3 + 0.7 / (1 + custom_exp_py(-1.2 * (4 - 4)))) \
        * (0.7 + 0.3 / (1 + custom_exp_py(-4.0 * (0 - 1.0))))
    # 5/10000 and 9/10000 are both below FREQUENT_THRESHOLD → freq tier 0
    assert got == pytest.approx(span * 0.5, abs=1e-12)
    # at doc_length 500 both clear the 1% threshold → ALL_FREQUENT tier
    got2 = D.calculate_dynamic_score(f, is_title=False, doc_length=500)
    assert got2 == pytest.approx(span * 0.5 + 0.57 * 0.2, abs=1e-12)


def test_rank_doc_thresholds():
    groups = D.TermGroups(title=["@a"], body=["a"], title_syn=[], body_syn=[])
    # static below 0.25 → rejected outright
    assert D.rank_doc(groups, {"a": [0]}, {"a": [0]}, "http://x.com", 3,
                      100, 80, static_score=0.2) is None
    # overlong title (>40) → rejected
    assert D.rank_doc(groups, {"a": [0]}, {"a": [0]}, "http://x.com", 45,
                      100, 80, static_score=0.9) is None
    # no query terms in doc → dynamic 0 < 0.1 → rejected
    assert D.rank_doc(groups, {}, {}, "http://x.com", 3, 100, 80,
                      static_score=0.9) is None
    # strong match passes and mixes 0.75/0.25
    s = D.rank_doc(groups, {"a": [0, 1, 2], "@a": [0]},
                   {"a": [0, 0, 0], "@a": [0]}, "http://x.com", 3, 100, 80,
                   static_score=0.9)
    assert s is not None and s > 0.225  # ≥ 0.25·static alone


def test_term_groups_flatten_order_and_dedup():
    from search_engine_spark.plans.query_ast import compile_query

    g = D.term_groups_from_ast(compile_query("search engine search"))
    assert g.title == ["@search", "@engin"]   # first occurrence wins
    assert g.body == ["search", "engin"]
    assert g.title_syn == [] and g.body_syn == []


def test_term_groups_synonyms_marked(monkeypatch):
    from search_engine_spark.plans import query_ast as QA

    monkeypatch.setattr(QA, "get_synsets",
                        lambda stem: [["engine", "motor"]] if stem == "engin" else [])
    g = D.term_groups_from_ast(QA.compile_query("engine", synonyms=True))
    assert g.title == ["@engin"] and g.body == ["engin"]
    assert g.title_syn == ["@motor"] and g.body_syn == ["motor"]


# --------------------------------------------------------------------------
# layer 2: Spark path ≡ pure-Python oracle on the fixture corpus
# --------------------------------------------------------------------------

DYNAMIC_QUERIES = [
    "search",
    "search engine",
    "crawler | parser",
    '"search engine"',
    "search - engine",
    "privacy policy",
    "w0 w1",
    "distributed index merge",
]


@pytest.mark.parametrize("q", DYNAMIC_QUERIES)
def test_dynamic_rank_identity(packed_engine, oracle, q):
    got = [
        (r["doc_id"], r["score"])
        for r in packed_engine.search(q, k=10, dynamic_mode=True).collect()
    ]
    exp = [(d, s) for d, s, _, _ in oracle.topk_dynamic(q, k=10)]
    assert [d for d, _ in got] == [d for d, _ in exp], f"{q!r}: {got} vs {exp}"
    for (gd, gs), (_, es) in zip(got, exp):
        assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (q, gd)


@pytest.mark.parametrize("q", ["connection", "apple news"])
def test_dynamic_rank_identity_with_synonyms(packed_engine, oracle, q):
    got = [
        (r["doc_id"], r["score"])
        for r in packed_engine.search(q, k=10, synonyms=True,
                                      dynamic_mode=True).collect()
    ]
    exp = [(d, s) for d, s, _, _ in oracle.topk_dynamic(q, k=10, synonyms=True)]
    assert [d for d, _ in got] == [d for d, _ in exp], q
    for (gd, gs), (_, es) in zip(got, exp):
        assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (q, gd)
