"""Pure-Python twins for consistent_hash_moves, skyline_docs and
weekday_seasonality."""

import hashlib
import math
import re
from collections import defaultdict

import duckdb

from search_engine_spark.catalog.ir import (
    _EN_STOPS, q_skyline_docs, _QC_BIAS, _QC_W_LEN, _QC_W_STOP, _QC_W_TTR,
)
from search_engine_spark.catalog.events import q_weekday_seasonality
from search_engine_spark.catalog.corpus import _CH_N, q_consistent_hash_moves

SF_DIR = "/root/testdata/sf0.001"


def _md5i(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_consistent_hash_moves_matches_twin(spark):
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchone()[0]
    keys = [str(i) for i in range(n_docs)]
    N = _CH_N
    mod_moved = sum(
        1 for k in keys if _md5i(k) % N != _md5i(k) % (N + 1)
    )
    hrw_moved = 0
    for k in keys:
        ws = {s: _md5i(f"{k}:{s}") for s in range(N + 1)}
        new = max(range(N + 1), key=lambda s: (ws[s], s))
        old = max(range(N), key=lambda s: (ws[s], s))
        if new != old:
            hrw_moved += 1
            assert new == N  # a key can only move TO the new shard
    got = {
        r.scheme: (r.n_keys, r.n_moved, r.frac_moved)
        for r in q_consistent_hash_moves(spark, SF_DIR).collect()
    }
    assert got["mod"] == (
        n_docs, mod_moved, round(mod_moved / n_docs, 4)
    )
    assert got["rendezvous"] == (
        n_docs, hrw_moved, round(hrw_moved / n_docs, 4)
    )
    # the whole point: rendezvous moves far fewer keys than mod
    assert got["rendezvous"][1] < got["mod"][1]


def _pts():
    rows = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    stops = {s.strip("'") for s in _EN_STOPS.strip("()").split(",")}
    out = []
    for d, t in rows:
        ts = [x for x in re.split(r"[^a-z0-9]+", (t or "").lower()) if x]
        if not ts:
            continue
        n = len(ts)
        z = (
            _QC_W_LEN * (sum(len(x) for x in ts) / n)
            + _QC_W_STOP * (sum(1 for x in ts if x in stops) / n)
            + _QC_W_TTR * (len(set(ts)) / n)
            + _QC_BIAS
        )
        out.append((d, round(1.0 / (1.0 + math.exp(-z)), 4), n))
    return out


def test_skyline_docs_matches_twin(spark):
    pts = _pts()
    want = []
    for d, p, n in pts:
        dominated = any(
            (p2 >= p and n2 <= n and (p2 > p or n2 < n))
            for _d2, p2, n2 in pts
        )
        if not dominated:
            want.append((d, p, n))
    want.sort(key=lambda r: (-r[1], r[2], r[0]))
    got = [
        (r.doc_id, r.p_keep, r.n_tokens)
        for r in q_skyline_docs(spark, SF_DIR).collect()
    ]
    assert got == want
    # skyline members are mutually non-dominating: p strictly decreasing
    # implies n strictly decreasing along the sorted frontier
    for (_, p1, n1), (_, p2, n2) in zip(got, got[1:]):
        if p1 > p2:
            assert n1 > n2


def test_weekday_seasonality_matches_twin(spark):
    days = duckdb.connect().execute(
        f"SELECT date_trunc('day', ts), count(*) "
        f"FROM read_parquet('{SF_DIR}/events.parquet') GROUP BY 1"
    ).fetchall()
    # duckdb dayofweek: 0=Sunday .. 6=Saturday; entry uses the same base
    per = defaultdict(lambda: [0, 0])
    mu = sum(x for _d, x in days) / len(days)
    for d, x in days:
        dow = (d.weekday() + 1) % 7   # python Monday=0 -> Sunday=0 base
        per[dow][0] += 1
        per[dow][1] += x
    want = {
        dow: (nd, round(sx / nd, 4), round(sx / nd / mu, 4))
        for dow, (nd, sx) in per.items()
    }
    got = {
        r.dow: (r.n_days, r.mean_volume, r.seasonal_index)
        for r in q_weekday_seasonality(spark, SF_DIR).collect()
    }
    assert got == want
    # seasonal indices average (day-weighted) to exactly 1
    tot_days = sum(v[0] for v in got.values())
    acc = sum(v[0] * v[1] for v in got.values()) / tot_days
    assert abs(acc - mu) < 1e-2
