"""Pure-Python twin for eb_shrinkage."""

import json
from collections import defaultdict

import duckdb

from search_engine_spark.catalog.events import _EB_TOPK, q_eb_shrinkage

SF_DIR = "/root/testdata/sf0.001"


def test_eb_shrinkage_matches_twin(spark):
    rows = duckdb.connect().execute(
        f"SELECT event_type, props "
        f"FROM read_parquet('{SF_DIR}/events.parquet') "
        f"WHERE event_type IN ('view', 'click')"
    ).fetchall()
    per = defaultdict(lambda: [0, 0])   # item -> [interactions, clicks]
    for et, props in rows:
        k = json.loads(props).get("k") if props else None
        if k is None:
            continue
        per[int(k)][0] += 1
        if et == "click":
            per[int(k)][1] += 1
    shares = [c / v for v, c in per.values()]
    n = len(shares)
    m = sum(shares) / n
    v2 = (sum(x * x for x in shares) - sum(shares) ** 2 / n) / n
    ab = m * (1 - m) / v2 - 1
    alpha = m * ab
    cand = sorted(
        (
            (k, c, v, round(c / v, 4), round((c + alpha) / (v + ab), 4))
            for k, (v, c) in per.items()
        ),
        key=lambda r: (-r[4], r[0]),
    )[: _EB_TOPK]
    got = [
        (r.item, r.clicks, r.interactions, r.raw_ctr, r.eb_ctr)
        for r in q_eb_shrinkage(spark, SF_DIR).collect()
    ]
    assert [g[:3] for g in got] == [w[:3] for w in cand]
    for g, w in zip(got, cand):
        assert abs(g[3] - w[3]) < 1e-4 and abs(g[4] - w[4]) < 1e-3
    # shrinkage pulls every posterior strictly toward the prior mean
    for _i, _c, _v, raw, eb in got:
        if raw > m:
            assert eb < raw + 1e-9
        else:
            assert eb > raw - 1e-9
