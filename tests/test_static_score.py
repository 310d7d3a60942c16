"""Static page-quality score parity (SURVEY §2.7 R2/R3): column
expressions vs the row-level Python mirror, custom_exp vs libm divergence,
and heuristic-parity search mode."""

import math

import pytest
from pyspark.sql import functions as F

from search_engine_spark.plans import static_score as S


def test_custom_exp_is_not_libm_exp():
    # the 7-term Taylor approximation diverges from exp() for |x| ≳ 3 —
    # porting libm exp would NOT be reference parity
    assert S.custom_exp_py(0.0) == 1.0
    assert S.custom_exp_py(25.0) == 4.85e8
    assert S.custom_exp_py(-25.0) == 2.06e-9
    x = 5.0
    assert abs(S.custom_exp_py(x) - math.exp(x)) / math.exp(x) > 0.05
    assert S.custom_exp_py(-x) == 1.0 / S.custom_exp_py(x)


@pytest.mark.parametrize("x", [-30, -20.5, -8.0, -2.0, -0.5, 0.0, 0.5, 3.0,
                               8.0, 19.9, 30])
def test_custom_exp_col_matches_py(spark, x):
    got = (
        spark.range(1)
        .select(S.custom_exp_col(F.lit(float(x))).alias("v"))
        .collect()[0]["v"]
    )
    assert got == pytest.approx(S.custom_exp_py(x), rel=1e-14)


def test_static_score_col_matches_mirror(catalog):
    meta = catalog.read("docmeta")
    rows = meta.withColumn("_s", S.static_score_col(False)).collect()
    assert rows
    seen_penalty = seen_nonenglish = False
    for r in rows:
        d = r.asDict()
        want = S.static_score_py(d)
        assert d["_s"] == pytest.approx(want, rel=1e-12), d["url"]
        assert 0.0 < d["_s"] <= 1.0
        if any(p in d["url"].lower() for p in S.UTILITY_URL_PATTERNS):
            seen_penalty = True
        if not d["english"]:
            seen_nonenglish = True
    assert seen_penalty and seen_nonenglish  # corpus exercises both rules


def test_utility_query_intent():
    # modifiers (terms after the first) trigger intent; the main term alone
    # does not (AnalyzeQueryIntent, Ranker.cpp:126-155)
    assert S.is_utility_query(["acme", "privacy"])
    assert not S.is_utility_query(["privacy"])
    assert not S.is_utility_query(["search", "engine"])
    assert not S.is_utility_query([])


def test_static_mode_search(packed_engine, oracle):
    plain = packed_engine.search("search engine", k=10).collect()
    mixed = packed_engine.search("search engine", k=10,
                                 static_mode=True).collect()
    assert mixed  # head query still returns results after pruning
    assert len(mixed) <= 10
    # static mode reorders/rescales: scores are 0.75*bm25 + 0.25*static
    assert any(
        abs(m["score"] - p["score"]) > 1e-9
        for m, p in zip(mixed, plain)
    )
    want = oracle.topk_static("search engine", k=10)
    assert [r["doc_id"] for r in mixed] == [d for d, _s, _u, _t in want]
    assert [r["score"] for r in mixed] == pytest.approx(
        [s for _d, s, _u, _t in want], rel=1e-9, abs=1e-12)
