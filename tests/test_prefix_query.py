"""Prefix (trailing-wildcard) queries: dictionary expansion, the Lucene
rewrite cap, dead-leaf collapse, and batch-path parity."""

import pytest

from search_engine_spark.operators.pipeline import run_build
from search_engine_spark.plans.query_ast import Or, Prefix, Word, parse
from search_engine_spark.plans.wand import PackedQueryEngine

from tests.helpers import _mk_pages


def _batch(n=60):
    return [
        (f"http://pfx.example/p{i:03d}",
         " ".join(["common engine", f"word{i % 7}", f"word{i % 11}"]))
        for i in range(n)
    ]


@pytest.fixture(scope="module")
def pfx_engine(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("pfx")
    cat = run_build(
        spark, _mk_pages(spark, _batch()), str(tmp / "wh"),
        num_shards=8, salt_buckets=4, merge_factor=2,
    )
    return PackedQueryEngine.from_catalog(cat)


def test_parse_prefix_leaf():
    ast = parse("merg*")
    assert isinstance(ast, Prefix) and ast.prefix == "merg"
    # '*' mid-token or alone is NOT a prefix
    assert isinstance(parse("me*rg"), Word)
    # composes with operators
    ast = parse("data & merg*")
    assert isinstance(ast.right, Prefix)


def test_prefix_equals_explicit_or(pfx_engine):
    table = pfx_engine._prefix_table(["word"])
    terms = table["word"]
    assert terms and all(t.startswith("word") for t in terms)
    assert not any(t.startswith("@") for t in terms)
    explicit = " | ".join(terms)
    n = 60
    want = [(r["doc_id"], round(r["score"], 9))
            for r in pfx_engine.search(explicit, k=n).collect()]
    got = [(r["doc_id"], round(r["score"], 9))
           for r in pfx_engine.search("word*", k=n).collect()]
    assert got == want
    assert got


def test_prefix_scan_pushes_the_term_range(pfx_engine):
    """Prefix expansion is bounded by a range predicate on the dictionary
    scan: ``word <= term < worf`` reaches parquet as pushed filters, and
    the lookup runs no join, window or shuffle."""
    plan = (pfx_engine._prefix_rows(["word"])
            ._jdf.queryExecution().executedPlan().toString())
    pushed = plan[plan.index("PushedFilters:"):].split("]")[0]
    for f in ("GreaterThanOrEqual(term,word)", "LessThan(term,wore)"):
        assert f in pushed, (f, pushed)
    for op in ("Exchange", "Join", "Window", "StartsWith"):
        assert op not in plan, (op, plan)


def test_prefix_expansion_cap_picks_highest_df(pfx_engine, monkeypatch):
    full = pfx_engine._prefix_table(["word"])["word"]
    monkeypatch.setattr(pfx_engine, "MAX_PREFIX_EXPANSIONS", 2)
    capped = pfx_engine._prefix_table(["word"])["word"]
    assert len(capped) == 2
    # the cap keeps the expansion's head by global df: word0..word6 hit
    # ~2x the docs of word7..word10 (both i%7 and i%11 emit them)
    assert set(capped) <= set(full[:4])


def test_prefix_no_match_collapses_like_dead_leaf(pfx_engine):
    # bare no-match prefix: defined-empty
    assert pfx_engine.search("zzzq*", k=5).collect() == []
    # AND with a no-match prefix collapses to the live side, the same
    # convention optimize() applies to stopword/empty-stem leaves
    want = [(r["doc_id"], round(r["score"], 9))
            for r in pfx_engine.search("common", k=10).collect()]
    got = [(r["doc_id"], round(r["score"], 9))
           for r in pfx_engine.search("common zzzq*", k=10).collect()]
    assert got == want


def test_prefix_composes_with_not(pfx_engine):
    terms = pfx_engine._prefix_table(["word"])["word"]
    explicit = f"common -({' | '.join(terms)})"
    want = [(r["doc_id"], round(r["score"], 9))
            for r in pfx_engine.search(explicit, k=30).collect()]
    got = [(r["doc_id"], round(r["score"], 9))
           for r in pfx_engine.search("common -word*", k=30).collect()]
    assert got == want


def test_prefix_batch_matches_single(pfx_engine):
    queries = ["word*", "common engine", "word1* | common"]
    batch = pfx_engine.search_batch(queries, k=10).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9))
        )
    for q in queries:
        single = [
            (i + 1, r["doc_id"], round(r["score"], 9))
            for i, r in enumerate(pfx_engine.search(q, k=10).collect())
        ]
        assert sorted(by_q[q]) == single, q


def test_substitute_builds_or_tree():
    from search_engine_spark.plans.wand import _substitute_prefixes

    ast = _substitute_prefixes(Prefix("wo"), {"wo": ["word1", "word2"]})
    assert isinstance(ast, Or)
    assert {ast.left.stem, ast.right.stem} == {"word1", "word2"}


def test_successor_bounds_every_extension():
    from search_engine_spark.plans.wand import _successor

    assert _successor("word") == "wore"
    assert _successor("a\U0010ffff") == "b"
    assert _successor("\U0010ffff") is None
    assert _successor("x\ud7ff") == "x\ue000"  # no surrogate bound
