"""Pure-Python twin + properties for ann_pq_recall (product quantization)."""

import math

import duckdb

from search_engine_spark.catalog.ann import (
    _PQ_D, _PQ_KS, _PQ_M, q_ann_pq_recall, _RECALL_K, _RECALL_NQ,
)
from tests.helpers import _explain

SF_DIR = "/root/testdata/sf0.001"


def _emb():
    con = duckdb.connect()
    return {
        vid: [float(x) for x in e]
        for vid, e in con.execute(
            "SELECT vec_id, embedding FROM "
            f"read_parquet('{SF_DIR}/embeddings.parquet')"
        ).fetchall()
    }


def _pq_twin():
    emb = _emb()
    M, D, KS = _PQ_M, _PQ_D, _PQ_KS
    subs = {
        (vid, m): e[m * D : (m + 1) * D]
        for vid, e in emb.items()
        for m in range(M)
    }

    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    def assign(cbooks):
        out = {}
        for (vid, m), sub in subs.items():
            out[(vid, m)] = min(
                cbooks[m], key=lambda c: (dist(sub, cbooks[m][c]), c)
            )
        return out

    seeds = {
        m: {c: subs[(c, m)] for c in range(1, KS + 1)} for m in range(M)
    }
    a1 = assign(seeds)
    cents = {m: {} for m in range(M)}
    members = {}
    for (vid, m), c in a1.items():
        members.setdefault((m, c), []).append(subs[(vid, m)])
    for (m, c), vs in members.items():
        cents[m][c] = [
            round(sum(v[i] for v in vs) / len(vs), 6) for i in range(D)
        ]
    codes = assign(cents)
    return emb, cents, codes


def test_ann_pq_recall_matches_python_twin(spark):
    emb, cents, codes = _pq_twin()
    M, D = _PQ_M, _PQ_D
    nrm = {v: math.sqrt(sum(x * x for x in e)) for v, e in emb.items()}
    want = {}
    for qid in range(_RECALL_NQ):
        qv = emb[qid]
        lut = {
            (m, c): (
                sum(a * b for a, b in zip(qv[m * D : (m + 1) * D], cv)),
                sum(x * x for x in cv),
            )
            for m in cents
            for c, cv in cents[m].items()
        }
        adc, exact = [], []
        for vid, e in emb.items():
            if vid == qid:
                continue
            sdot = sum(lut[(m, codes[(vid, m)])][0] for m in range(M))
            ssqn = sum(lut[(m, codes[(vid, m)])][1] for m in range(M))
            adc.append(
                (round(sdot / (max(math.sqrt(ssqn), 1e-12) * nrm[qid]), 4), vid)
            )
            edot = sum(a * b for a, b in zip(e, qv))
            exact.append((round(edot / (nrm[vid] * nrm[qid]), 4), vid))
        top = lambda lst: {
            v
            for _, v in sorted(lst, key=lambda t: (-t[0], t[1]))[
                : _RECALL_K
            ]
        }
        want[qid] = round(len(top(adc) & top(exact)) / _RECALL_K, 4)
    got = {
        r.qid: r.recall
        for r in q_ann_pq_recall(spark, SF_DIR).collect()
    }
    assert got == want


def test_ann_pq_recall_beats_chance(spark):
    """4-bit PQ on isotropic data is lossy but must far exceed the ~K/n
    chance floor."""
    rows = q_ann_pq_recall(spark, "/root/testdata/sf0.01").collect()
    mean = sum(r.recall for r in rows) / len(rows)
    assert 0.3 <= mean <= 1.0


def test_ann_pq_codebook_is_broadcast(spark):
    plan = _explain(q_ann_pq_recall(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
