"""Pure-Python twins for click_entropy, interevent_burstiness and
embedding_anisotropy."""

import math
from collections import Counter, defaultdict

import duckdb

from search_engine_spark.catalog.ann import q_embedding_anisotropy
from search_engine_spark.catalog.events import (
    _COCLICK_Q, q_click_entropy, q_interevent_burstiness,
)

SF_DIR = "/root/testdata/sf0.001"


def _clicks():
    return duckdb.connect().execute(
        f"""SELECT user_id % {_COCLICK_Q},
                   CAST(json_extract_string(props, '$.k') AS BIGINT),
                   epoch_us(ts), CAST(CAST(ts AS DATE) AS VARCHAR)
            FROM read_parquet('{SF_DIR}/events.parquet')
            WHERE event_type = 'click'
              AND json_extract_string(props, '$.k') IS NOT NULL"""
    ).fetchall()


def test_click_entropy_matches_twin(spark):
    qi = Counter()
    for q, item, _us, _d in _clicks():
        qi[(q, item)] += 1
    qt = defaultdict(int)
    qn = defaultdict(int)
    for (q, _i), c in qi.items():
        qt[q] += c
        qn[q] += 1
    got = q_click_entropy(spark, SF_DIR).collect()
    assert [r.q for r in got] == sorted(qt)
    for r in got:
        h = -sum(
            (c / qt[r.q]) * math.log(c / qt[r.q])
            for (q, _i), c in qi.items() if q == r.q
        )
        assert (r.n_clicks, r.n_items) == (qt[r.q], qn[r.q])
        assert abs(r.click_entropy - h) < 1e-3
        # entropy is bounded by ln(n_items)
        # 5e-5 slack: the reported value is rounded to 4 decimals
        assert -5e-5 <= r.click_entropy <= math.log(r.n_items) + 5e-5


def test_interevent_burstiness_matches_twin(spark):
    rows = duckdb.connect().execute(
        f"SELECT event_type, epoch_us(ts), event_id "
        f"FROM read_parquet('{SF_DIR}/events.parquet')"
    ).fetchall()
    per = defaultdict(list)
    for t, us, eid in rows:
        per[t].append((us, eid))
    got = q_interevent_burstiness(spark, SF_DIR).collect()
    assert [r.event_type for r in got] == sorted(per)
    for r in got:
        seq = sorted(per[r.event_type])
        gaps = [b[0] - a[0] for a, b in zip(seq, seq[1:])]
        n = len(gaps)
        mu = sum(gaps) / n
        var = sum(g * g for g in gaps) / n - mu * mu
        sig = math.sqrt(max(var, 0.0))
        b = (sig - mu) / (sig + mu)
        assert r.n_gaps == n
        assert abs(r.mean_gap_s - mu / 1e6) < 1e-3
        assert abs(r.std_gap_s - sig / 1e6) < 1e-3
        assert abs(r.burstiness - b) < 1e-3
        assert -1.0 < r.burstiness < 1.0


def test_embedding_anisotropy_matches_twin(spark):
    vecs = [
        v for (v,) in duckdb.connect().execute(
            f"SELECT embedding::DOUBLE[] "
            f"FROM read_parquet('{SF_DIR}/embeddings.parquet')"
        ).fetchall()
    ]
    units = []
    for v in vecs:
        nrm = math.sqrt(sum(x * x for x in v))
        units.append([x / nrm for x in v])
    n, d = len(units), len(units[0])
    ssum = [sum(u[i] for u in units) for i in range(d)]
    mean_cos = (sum(s * s for s in ssum) - n) / (n * (n - 1))
    r = q_embedding_anisotropy(spark, SF_DIR).collect()[0]
    assert (r.n_vecs, r.n_dims) == (n, d)
    assert abs(r.mean_pairwise_cos - mean_cos) < 1e-3
    # identity check against a brute-force O(n^2) computation on a slice
    sub = units[:40]
    brute = sum(
        sum(a * b for a, b in zip(sub[i], sub[j]))
        for i in range(len(sub)) for j in range(len(sub)) if i != j
    ) / (len(sub) * (len(sub) - 1))
    ss = [sum(u[i] for u in sub) for i in range(d)]
    ident = (sum(s * s for s in ss) - len(sub)) / (len(sub) * (len(sub) - 1))
    assert abs(brute - ident) < 1e-9
