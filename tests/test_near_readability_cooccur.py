"""Pure-Python twins for bm25_near — independent of both the Spark plan
under test and its DuckDB oracle."""

import math
import re

import duckdb

from search_engine_spark.catalog.ir import _NEAR_W, q_bm25_near
from search_engine_spark.catalog.events import _COOC_CAP

SF_DIR = "/root/testdata/sf0.001"


def _con():
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _toks(text):
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


# ---------------------------------------------------------------------------
# bm25_near
# ---------------------------------------------------------------------------

def test_bm25_near_matches_python_twin(spark):
    con = _con()
    docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
    dls, hits = {}, {}
    for doc_id, text in docs:
        toks = _toks(text or "")
        if toks:
            dls[doc_id] = len(toks)
        pa = [i + 1 for i, t in enumerate(toks) if t == "merge"]
        pb = {i + 1 for i, t in enumerate(toks) if t == "join"}
        ntf = sum(
            1
            for p in pa
            if any(abs(q - p) <= _NEAR_W for q in pb)
        )
        if ntf:
            hits[doc_id] = ntf
    n, avgdl = len(dls), sum(dls.values()) / len(dls)
    ndf = len(hits)
    idf = math.log((n - ndf + 0.5) / (ndf + 0.5) + 1.0)
    scored = [
        (
            doc_id,
            ntf,
            round(
                idf
                * (ntf * (1.2 + 1.0))
                / (ntf + 1.2 * (1 - 0.75 + 0.75 * dls[doc_id] / avgdl)),
                4,
            ),
        )
        for doc_id, ntf in hits.items()
    ]
    want = sorted(scored, key=lambda r: (-r[2], r[0]))[:10]
    got = [
        (r.doc_id, r.ntf, r.score)
        for r in q_bm25_near(spark, SF_DIR).collect()
    ]
    assert got == want


def test_bm25_near_at_least_as_broad_as_phrase(spark):
    """Every phrase match (adjacency) is a NEAR/3 match, never vice versa."""
    near = {r.doc_id for r in q_bm25_near(spark, SF_DIR).collect()}
    con = _con()
    phrase_docs = set()
    for doc_id, text in con.execute("SELECT doc_id, text FROM documents").fetchall():
        toks = _toks(text or "")
        if any(
            a == "merge" and b == "join" for a, b in zip(toks, toks[1:])
        ):
            phrase_docs.add(doc_id)
    # NEAR's candidate set is a superset; the returned top-10 overlaps it
    assert phrase_docs  # fixture sanity: the phrase occurs at sf0.001
    assert near & phrase_docs


def test_bm25_near_stats_are_broadcast(spark):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_bm25_near(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# cooccur_items
# ---------------------------------------------------------------------------


def test_cooccur_cap_bounds_pair_blowup(spark):
    """The per-user cap is the 100-TB guard: no user contributes more than
    C(cap, 2) pairs no matter how hot their history is."""
    assert _COOC_CAP == 64
    # sanity at fixture scale: per-user distinct items never exceeds cap
    con = _con()
    mx = con.execute(
        "SELECT max(cnt) FROM (SELECT user_id, count(DISTINCT "
        "CAST(json_extract_string(props, '$.k') AS BIGINT)) AS cnt "
        "FROM events WHERE event_type = 'view' GROUP BY user_id)"
    ).fetchone()[0]
    assert mx <= _COOC_CAP  # cap inactive here; activates on hot users
