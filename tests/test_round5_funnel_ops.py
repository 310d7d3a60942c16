"""Pure-Python twins for jackknife_ctr and dedup_threshold_sensitivity."""

import math
import re
from collections import Counter, defaultdict

import duckdb

from search_engine_spark.catalog.dedup import (
    _DEDUP_TAUS, q_dedup_threshold_sensitivity, _SHINGLE_DF_CAP,
)
from search_engine_spark.catalog.events import q_jackknife_ctr

SF_DIR = "/root/testdata/sf0.001"


def test_jackknife_ctr_matches_twin(spark):
    rows = duckdb.connect().execute(
        f"SELECT user_id, event_type "
        f"FROM read_parquet('{SF_DIR}/events.parquet')"
    ).fetchall()
    per = defaultdict(lambda: [0, 0])
    for u, t in rows:
        per[u][0] += 1
        per[u][1] += t == "click"
    n = len(per)
    Y = sum(v[0] for v in per.values())
    X = sum(v[1] for v in per.values())
    thetas = [(X - x) / (Y - y) for y, x in per.values()]
    tbar = sum(thetas) / n
    var = (n - 1) / n * sum((t - tbar) ** 2 for t in thetas)
    se = math.sqrt(max(var, 0.0))
    ctr = X / Y
    naive = math.sqrt(ctr * (1 - ctr) / Y)
    r = q_jackknife_ctr(spark, SF_DIR).collect()[0]
    assert (r.n_users, r.clicks, r.events) == (n, X, Y)
    assert r.ctr == round(ctr, 4)
    assert abs(r.jackknife_se - se) < 1e-3
    assert abs(r.ci_lo - (ctr - 1.96 * se)) < 1e-3
    assert abs(r.ci_hi - (ctr + 1.96 * se)) < 1e-3
    assert abs(r.naive_se - naive) < 1e-3
    # clustered events make the jackknife SE >= the naive binomial SE
    # is NOT guaranteed in general, but the design effect must be
    # positive and finite
    assert r.design_effect > 0


def test_dedup_threshold_sensitivity_matches_twin(spark):
    docs = duckdb.connect().execute(
        f"SELECT doc_id, text "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    sh = {}
    for d, txt in docs:
        toks = [t for t in re.split(r"[^a-z0-9]+", txt.lower()) if t]
        sh[d] = set(" ".join(toks[i:i + 3]) for i in range(len(toks) - 2))
    df = Counter()
    for s in sh.values():
        df.update(s)
    capped = {
        d: {g for g in s if df[g] <= _SHINGLE_DF_CAP}
        for d, s in sh.items()
    }
    ids = sorted(sh)
    pair_j = {}
    for i, da in enumerate(ids):
        for db in ids[i + 1:]:
            inter = len(capped[da] & capped[db])
            if inter:
                pair_j[(da, db)] = inter / len(capped[da] | capped[db])
    got = q_dedup_threshold_sensitivity(spark, SF_DIR).collect()
    assert [r.tau for r in got] == list(_DEDUP_TAUS)
    maxj = defaultdict(float)
    for (da, db), j in pair_j.items():
        maxj[da] = max(maxj[da], j)
        maxj[db] = max(maxj[db], j)
    prev = None
    for r in got:
        np_ = sum(1 for j in pair_j.values() if j >= r.tau)
        nd_ = sum(1 for j in maxj.values() if j >= r.tau)
        assert (r.n_pairs, r.n_docs) == (np_, nd_)
        # volumes shrink monotonically with tau
        if prev is not None:
            assert r.n_pairs <= prev
        prev = r.n_pairs
