"""Pure-Python twin for ips_ctr_estimate."""

import json
from collections import defaultdict

import duckdb

from search_engine_spark.catalog.events import _COEC_SLOTS, q_ips_ctr_estimate

SF_DIR = "/root/testdata/sf0.001"


def test_ips_ctr_estimate_matches_twin(spark):
    evs = duckdb.connect().execute(
        f"SELECT event_type, event_id, props "
        f"FROM read_parquet('{SF_DIR}/events.parquet') "
        f"WHERE event_type IN ('view', 'click')"
    ).fetchall()
    parsed = []
    for et, eid, props in evs:
        k = json.loads(props).get("k") if props else None
        if k is None:
            continue
        parsed.append((et, int(k), eid % _COEC_SLOTS + 1))
    vc = defaultdict(lambda: [0, 0])
    for et, _k, pos in parsed:
        vc[pos][0 if et == "view" else 1] += 1
    pctr = {
        p: c / v for p, (v, c) in vc.items() if v > 0 and c > 0
    }
    ipw = {p: pctr[1] / pctr[p] for p in pctr}
    views = defaultdict(int)
    clicks = defaultdict(int)
    ips = defaultdict(float)
    for et, k, pos in parsed:
        if et == "view":
            views[k] += 1
        elif pos in ipw:
            clicks[k] += 1
            ips[k] += ipw[pos]
    cand = [
        (k, clicks[k], views[k], round(clicks[k] / views[k], 4),
         round(ips[k], 4))
        for k in ips
        if k in views
    ]
    cand.sort(key=lambda r: (-r[4], r[0]))
    want = cand[:20]
    got = [
        (r.item, r.n_clicks, r.n_views, r.naive_ctr, r.ips_score)
        for r in q_ips_ctr_estimate(spark, SF_DIR).collect()
    ]
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert abs(g[3] - w[3]) < 1e-4 and abs(g[4] - w[4]) < 1e-3
    # IPS up-weights low-position clicks: every weight >= 1 when pos 1
    # is the most-clicked slot, so ips_score >= n_clicks can break only
    # if some position out-performs slot 1 — just pin the invariant
    # that ips differs from the naive count somewhere
    assert any(abs(g[4] - g[1]) > 1e-6 for g in got)
