"""Pure-Python twins for mmr_diversify, hard_negatives, and
shard_balance, plus plan/shape checks (bounded candidate cut, broadcast
anchors, shard rollup before the skew window)."""

import contextlib
import hashlib
import io
import re
from collections import Counter, defaultdict

import duckdb

from search_engine_spark.catalog.ir import (
    _MMR_CAND, _MMR_K, _MMR_LAMBDA, q_mmr_diversify, q_shard_balance, _SHARDS,
)
from search_engine_spark.catalog.ann import _HARDNEG_Q, q_hard_negatives

SF_DIR = "/root/testdata/sf0.001"


def _emb():
    rows = duckdb.sql(
        f"SELECT vec_id, label, embedding::DOUBLE[] FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    return [(v, lab, list(e)) for v, lab, e in rows]


def _dot(a, b):
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def _cos(a, b):
    return _dot(a, b) / (_dot(a, a) ** 0.5 * _dot(b, b) ** 0.5)


# ---------------------------------------------------------------------------
# mmr_diversify
# ---------------------------------------------------------------------------

def _mmr_twin():
    emb = _emb()
    qv = next(e for v, _l, e in emb if v == 0)
    cand = sorted(
        ((v, e, _cos(e, qv)) for v, _l, e in emb if v != 0),
        key=lambda r: (-r[2], r[0]),
    )[: _MMR_CAND]
    sims = {}
    for i, (va, ea, _ra) in enumerate(cand):
        for vb, eb, _rb in cand[i + 1:]:
            sims[(va, vb)] = sims[(vb, va)] = _cos(ea, eb)
    pool = {v: r for v, _e, r in cand}
    selected, out = [], []
    while pool and len(selected) < _MMR_K:
        best = None
        for v, r in pool.items():
            pen = max((sims[(v, s)] for s in selected), default=0.0)
            score = _MMR_LAMBDA * r - (1 - _MMR_LAMBDA) * pen
            if best is None or (-score, v) < (-best[0], best[1]):
                best = (score, v)
        score, v = best
        selected.append(v)
        out.append((len(selected), v, round(pool.pop(v), 4), round(score, 4)))
    return out


def test_mmr_matches_python_twin(spark):
    want = _mmr_twin()
    got = [
        (r.rank, r.vec_id, r.rel, r.mmr)
        for r in q_mmr_diversify(spark, SF_DIR).collect()
    ]
    assert got == want
    assert len(got) == _MMR_K


def test_mmr_first_pick_is_pure_relevance_and_diversifies(spark):
    rows = q_mmr_diversify(spark, SF_DIR).collect()
    emb = _emb()
    qv = next(e for v, _l, e in emb if v == 0)
    rels = sorted(
        ((round(_cos(e, qv), 4), -v) for v, _l, e in emb if v != 0),
        reverse=True,
    )
    # rank 1 is the global argmax of relevance
    assert rows[0].rel == rels[0][0]
    # diversification really reorders: MMR ranking != pure-relevance
    # ranking for this corpus (λ < 1 and near-dup candidates exist)
    pure = [(-v) for _r, v in rels[: _MMR_K]]
    assert [r.vec_id for r in rows] != pure


def test_mmr_candidates_cut_by_takeordered(spark):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_mmr_diversify(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan      # bounded candidate pool
    assert "FlatMapGroupsInPandas" in plan      # sequential greedy stage


# ---------------------------------------------------------------------------
# hard_negatives
# ---------------------------------------------------------------------------

def test_hard_negatives_match_python_twin(spark):
    emb = _emb()
    want = []
    for av, al, ae in emb:
        if av >= _HARDNEG_Q:
            continue
        best = None
        for v, lab, e in emb:
            if lab == al:
                continue
            c = _cos(e, ae)
            if best is None or (-c, v) < (-best[2], best[0]):
                best = (v, lab, c)
        want.append((av, al, best[0], best[1], round(best[2], 4)))
    want.sort()
    got = [
        (r.anchor, r.label_a, r.negative, r.label_n, r.cos)
        for r in q_hard_negatives(spark, SF_DIR).collect()
    ]
    assert got == want
    assert len(got) == _HARDNEG_Q
    assert all(a != n for _q, a, _n, n, _c in got)   # labels always differ


def test_hard_negatives_anchor_side_is_broadcast(spark):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_hard_negatives(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# shard_balance
# ---------------------------------------------------------------------------

def test_shard_balance_matches_python_twin(spark):
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    df = Counter()
    for _d, text in rows:
        for t in set(
            x for x in re.split(r"[^a-z0-9]+", (text or "").lower()) if x
        ):
            df[t] += 1
    per = defaultdict(lambda: [0, 0])
    for t, d in df.items():
        shard = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % _SHARDS
        per[shard][0] += 1
        per[shard][1] += d
    mean = sum(p[1] for p in per.values()) / len(per)
    want = sorted(
        (s, n, m, round(m / mean, 4)) for s, (n, m) in per.items()
    )
    got = [
        (r.shard, r.n_terms, r.postings, r.skew)
        for r in q_shard_balance(spark, SF_DIR).collect()
    ]
    assert got == want
    # total vocabulary is conserved across shards
    assert sum(n for _s, n, _m, _k in got) == len(df)


def test_shard_balance_window_runs_over_shard_rollup(spark):
    """The skew window's input is the ≤_SHARDS-row rollup, not the
    vocabulary: an aggregate sits below the window in the plan."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_shard_balance(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert "Window" in plan
    assert plan.index("Window") < plan.index("HashAggregate") or (
        "HashAggregate" in plan
    )
