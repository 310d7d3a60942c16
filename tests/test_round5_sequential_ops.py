"""Pure-Python twins for sprt_stopping and event_transitions."""

import math
from collections import Counter, defaultdict

import duckdb

from search_engine_spark.catalog.events import (
    q_event_transitions, q_sprt_stopping, _SPRT_ALPHA, _SPRT_BETA, _SPRT_P0,
    _SPRT_P1,
)

SF_DIR = "/root/testdata/sf0.001"


def test_sprt_stopping_matches_twin(spark):
    rows = duckdb.connect().execute(
        f"SELECT epoch_us(ts), event_id, event_type "
        f"FROM read_parquet('{SF_DIR}/events.parquet') ORDER BY 1, 2"
    ).fetchall()
    lr1 = math.log(_SPRT_P1 / _SPRT_P0)
    lr0 = math.log((1 - _SPRT_P1) / (1 - _SPRT_P0))
    bound = math.log((1 - _SPRT_BETA) / _SPRT_ALPHA)
    llr = 0.0
    up = dn = None
    clicks = 0
    for i, (_us, _eid, t) in enumerate(rows, start=1):
        x = t == "click"
        clicks += x
        llr += lr1 if x else lr0
        if up is None and llr >= bound:
            up = i
        if dn is None and llr <= -bound:
            dn = i
    stop = up if up is not None and (dn is None or up < dn) else dn
    decision = (
        "inconclusive" if stop is None
        else "accept_p1" if stop == up else "accept_p0"
    )
    r = q_sprt_stopping(spark, SF_DIR).collect()[0]
    assert r.n_total == len(rows)
    assert r.click_rate == round(clicks / len(rows), 4)
    assert r.stop_n == stop
    assert r.decision == decision
    assert r.boundary == round(bound, 4)
    # the SPRT must stop well before the fixed horizon on this stream
    if stop is not None:
        assert r.stop_frac < 1.0


def test_sprt_known_sequence():
    # closed form: a pure run of successes crosses the upper bound at
    # ceil(bound / lr1) observations
    lr1 = math.log(_SPRT_P1 / _SPRT_P0)
    bound = math.log((1 - _SPRT_BETA) / _SPRT_ALPHA)
    n = math.ceil(bound / lr1)
    llr = 0.0
    for i in range(1, n + 1):
        llr += lr1
    assert llr >= bound
    assert (n - 1) * lr1 < bound


def test_event_transitions_matches_twin(spark):
    rows = duckdb.connect().execute(
        f"SELECT user_id, epoch_us(ts), event_id, event_type "
        f"FROM read_parquet('{SF_DIR}/events.parquet') ORDER BY 1, 2, 3"
    ).fetchall()
    per = defaultdict(list)
    for u, us, eid, t in rows:
        per[u].append(t)
    cnt = Counter()
    for seq in per.values():
        for a, b in zip(seq, seq[1:]):
            cnt[(a, b)] += 1
    tot = defaultdict(int)
    for (a, _b), c in cnt.items():
        tot[a] += c
    got = q_event_transitions(spark, SF_DIR).collect()
    assert [(r.from_type, r.to_type) for r in got] == sorted(cnt)
    for r in got:
        c = cnt[(r.from_type, r.to_type)]
        assert r.n == c
        assert r.prob == round(c / tot[r.from_type], 4)
    # each row of the matrix sums to ~1
    rows_sum = defaultdict(float)
    for r in got:
        rows_sum[r.from_type] += r.prob
    for s in rows_sum.values():
        assert abs(s - 1.0) < 5e-3
