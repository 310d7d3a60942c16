"""Pure-Python twin for freshness_rank."""

import math
import re

import duckdb

from search_engine_spark.catalog.ir import _FRESH_TAU, q_freshness_rank, _scored

SF_DIR = "/root/testdata/sf0.001"


def _docs():
    con = duckdb.connect()
    return con.execute(
        "SELECT doc_id, text, source FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()


def _toks(text):
    return [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]


# ---------------------------------------------------------------------------
# freshness_rank
# ---------------------------------------------------------------------------

def test_freshness_rank_matches_python_twin(spark):
    rows = _docs()
    toks = {d: _toks(t) for d, t, _s in rows}
    dls = {d: len(v) for d, v in toks.items() if v}
    n, avgdl = len(dls), sum(dls.values()) / len(dls)
    tf = {d: v.count("merge") for d, v in toks.items() if "merge" in v}
    df = len(tf)
    idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    scored = []
    for d, f in tf.items():
        w = idf * (f * 2.2) / (f + 1.2 * (1 - 0.75 + 0.75 * dls[d] / avgdl))
        age = d % 365
        scored.append(
            (d, age, round(w * math.exp(-age / _FRESH_TAU), 4))
        )
    want = sorted(scored, key=lambda r: (-r[2], r[0]))[:10]
    got = [
        (r.doc_id, r.age_days, r.score)
        for r in q_freshness_rank(spark, SF_DIR).collect()
    ]
    assert got == want


def test_freshness_decay_reorders_but_never_invents(spark):
    """Every freshness-ranked doc must be a plain BM25 match for the term."""
    fresh = {r.doc_id for r in q_freshness_rank(spark, SF_DIR).collect()}
    base = {
        r.doc_id
        for r in _scored(spark, SF_DIR, ["merge"])
        .filter("term = 'merge'")
        .collect()
    }
    assert fresh <= base
