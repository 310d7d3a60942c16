"""Pure-Python twins for hard_negatives and shard_balance, plus plan/shape
checks (broadcast anchors, shard rollup before the skew window)."""

import hashlib
import re
from collections import Counter, defaultdict

import duckdb

from search_engine_spark.catalog.ir import q_shard_balance, _SHARDS
from search_engine_spark.catalog.ann import _HARDNEG_Q, q_hard_negatives
from tests.helpers import _explain

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
    plan = _explain(q_hard_negatives(spark, SF_DIR))
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
    plan = _explain(q_shard_balance(spark, SF_DIR))
    assert "Window" in plan
    assert plan.index("Window") < plan.index("HashAggregate") or (
        "HashAggregate" in plan
    )
