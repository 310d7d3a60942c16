"""Pure-Python twin for percolate."""

import re

import duckdb

from search_engine_spark.catalog.ir import _PERC_QUERIES, q_percolate

SF_DIR = "/root/testdata/sf0.001"


def _docs():
    con = duckdb.connect()
    return con.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()


def _toks(text):
    return [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]


# ---------------------------------------------------------------------------
# percolate
# ---------------------------------------------------------------------------

def test_percolate_matches_python_twin(spark):
    rows = _docs()
    doc_terms = {d: set(_toks(t)) for d, t in rows}
    want = {}
    for qid, mode, terms in _PERC_QUERIES:
        n = 0
        for ts in doc_terms.values():
            hit = sum(1 for t in terms if t in ts)
            if (mode == "or" and hit > 0) or (
                mode == "and" and hit == len(terms)
            ):
                n += 1
        if n:
            want[qid] = (mode, n)
    got = {
        r.qid: (r.mode, r.n_docs)
        for r in q_percolate(spark, SF_DIR).collect()
    }
    assert got == want


def test_percolate_and_is_subset_of_or_semantics(spark):
    """An AND query can never fire on more docs than the same terms as OR
    would — checked against the raw corpus."""
    rows = _docs()
    doc_terms = {d: set(_toks(t)) for d, t in rows}
    got = {
        r.qid: r.n_docs for r in q_percolate(spark, SF_DIR).collect()
    }
    for qid, mode, terms in _PERC_QUERIES:
        if mode != "and" or qid not in got:
            continue
        or_n = sum(
            1 for ts in doc_terms.values() if any(t in ts for t in terms)
        )
        assert got[qid] <= or_n


def test_percolate_query_table_is_broadcast(spark):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_percolate(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
