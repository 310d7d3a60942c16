"""Pure-Python twins for ndcg_eval, mrr_map_eval, and percolate."""

import math
import re

import duckdb

from search_engine_spark.catalog.ir import (
    _NDCG_K, _NDCG_QS, _PERC_QUERIES, q_mrr_map_eval, q_ndcg_eval, q_percolate,
    _SPLIT_PRIME,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs():
    con = duckdb.connect()
    return con.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()


def _toks(text):
    return [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]


# ---------------------------------------------------------------------------
# ndcg_eval
# ---------------------------------------------------------------------------

def test_ndcg_eval_matches_python_twin(spark):
    rows = _docs()
    toks = {d: _toks(t) for d, t in rows}
    dls = {d: len(v) for d, v in toks.items() if v}
    n, avgdl = len(dls), sum(dls.values()) / len(dls)
    want = {}
    for q in _NDCG_QS:
        tf = {d: v.count(q) for d, v in toks.items() if q in v}
        df = len(tf)
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        scored = [
            (
                d,
                round(
                    idf
                    * (f * 2.2)
                    / (f + 1.2 * (1 - 0.75 + 0.75 * dls[d] / avgdl)),
                    4,
                ),
            )
            for d, f in tf.items()
        ]
        top = sorted(scored, key=lambda r: (-r[1], r[0]))[: _NDCG_K]
        judged = [
            (d, float(((d % _SPLIT_PRIME) * 2654435761) % 4))
            for d, _ in top
        ]
        dcg = sum(
            (2**rel - 1) / math.log2(rank + 2)
            for rank, (_d, rel) in enumerate(judged)
        )
        ideal = sorted(judged, key=lambda r: (-r[1], r[0]))
        idcg = sum(
            (2**rel - 1) / math.log2(rank + 2)
            for rank, (_d, rel) in enumerate(ideal)
        )
        want[q] = (round(dcg / max(idcg, 1e-12), 4), len(judged))
    got = {
        r.term: (r.ndcg, r.judged)
        for r in q_ndcg_eval(spark, SF_DIR).collect()
    }
    assert got == want


def test_ndcg_is_one_iff_ranking_ideal(spark):
    for r in q_ndcg_eval(spark, SF_DIR).collect():
        assert 0.0 <= r.ndcg <= 1.0 + 1e-9
        assert r.judged <= _NDCG_K


# ---------------------------------------------------------------------------
# mrr_map_eval
# ---------------------------------------------------------------------------

def _bm25_topk_pool():
    """The same deterministic top-K pool the ndcg twin derives."""
    rows = _docs()
    toks = {d: _toks(t) for d, t in rows}
    dls = {d: len(v) for d, v in toks.items() if v}
    n, avgdl = len(dls), sum(dls.values()) / len(dls)
    pools = {}
    for q in _NDCG_QS:
        tf = {d: v.count(q) for d, v in toks.items() if q in v}
        df = len(tf)
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        scored = [
            (
                d,
                round(
                    idf
                    * (f * 2.2)
                    / (f + 1.2 * (1 - 0.75 + 0.75 * dls[d] / avgdl)),
                    4,
                ),
            )
            for d, f in tf.items()
        ]
        top = sorted(scored, key=lambda r: (-r[1], r[0]))[: _NDCG_K]
        pools[q] = [
            ((d % _SPLIT_PRIME) * 2654435761) % 4 >= 2 for d, _ in top
        ]
    return pools


def test_mrr_map_eval_matches_python_twin(spark):
    want = {}
    for q, rels in _bm25_topk_pool().items():
        rr = 0.0
        for i, rel in enumerate(rels):
            if rel:
                rr = 1.0 / (i + 1)
                break
        n_rel = sum(rels)
        cum = 0
        ap_sum = 0.0
        for i, rel in enumerate(rels):
            if rel:
                cum += 1
                ap_sum += cum / (i + 1)
        want[q] = (round(rr, 4), round(ap_sum / max(n_rel, 1), 4), n_rel)
    got = {
        r.term: (r.rr, r.ap, r.n_rel)
        for r in q_mrr_map_eval(spark, SF_DIR).collect()
    }
    assert got == want
    assert any(v[2] > 0 for v in want.values())  # fixture sanity


def test_mrr_bounds_and_ap_le_one(spark):
    for r in q_mrr_map_eval(spark, SF_DIR).collect():
        assert 0.0 <= r.rr <= 1.0
        assert 0.0 <= r.ap <= 1.0 + 1e-9
        # AP can't exceed 1 and RR is at least 1/K when anything is relevant
        if r.n_rel > 0:
            assert r.rr >= 1.0 / _NDCG_K


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
