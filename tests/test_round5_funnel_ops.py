"""Pure-Python twins for dedup_threshold_sensitivity."""

import re
from collections import Counter, defaultdict

import duckdb

from search_engine_spark.catalog.dedup import (
    _DEDUP_TAUS, q_dedup_threshold_sensitivity, _SHINGLE_DF_CAP,
)

SF_DIR = "/root/testdata/sf0.001"


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
