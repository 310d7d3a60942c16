"""Pure-Python twin for lang_consistency."""

from collections import Counter

import pyarrow.parquet as pq

from search_engine_spark.catalog.quality import q_lang_consistency

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# lang_consistency
# ---------------------------------------------------------------------------

def test_lang_consistency_matches_python_twin(spark):
    t = pq.read_table(
        SF_DIR + "/documents.parquet", columns=["doc_id", "source", "lang"]
    ).to_pylist()
    counts = Counter((r["source"], r["lang"]) for r in t)
    tot = Counter(r["source"] for r in t)
    maj = {}
    for (src, lang), c in counts.items():
        cur = maj.get(src)
        if cur is None or (-c, lang) < (-cur[1], cur[0]):
            maj[src] = (lang, c)
    want = sorted(
        (
            r["doc_id"], r["source"], r["lang"], maj[r["source"]][0],
            round(maj[r["source"]][1] / tot[r["source"]], 4),
        )
        for r in t
        if r["lang"] != maj[r["source"]][0]
    )
    want.sort(key=lambda r: (r[1], r[0]))
    got = [
        (r.doc_id, r.source, r.lang, r.majority_lang, r.maj_frac)
        for r in q_lang_consistency(spark, SF_DIR).collect()
    ]
    assert got == want
    assert got  # fixture sanity: outliers exist at sf0.001


def test_lang_majority_window_runs_over_aggregate(spark):
    """The row_number window must consume the (source, lang) histogram,
    never per-doc rows: the Window's child in the optimized plan is an
    Aggregate."""
    plan = q_lang_consistency(spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
    i = plan.find("Window")
    assert i != -1
    assert "Aggregate" in plan[i : i + 2000]
