"""asof_join / range_join: two classic operators Spark lacks as built-ins,
each re-expressed as a composition of DataFrame ops (union+window merge,
bucket-expansion equi-join) and checked here against brute-force Python
twins on the sf0.001 tables; plus bloom_filter against brute force."""

import datetime
import hashlib

import duckdb

from search_engine_spark.catalog.ir import (
    _BLOOM_BASE, _BLOOM_K, _BLOOM_M, q_bloom_filter,
)
from search_engine_spark.catalog.events import q_asof_join, q_range_join, _RJ_N
from tests.test_driver_plan_shapes import _explain

SF_DIR = "/root/testdata/sf0.001"


def _events():
    con = duckdb.connect()
    return con.execute(
        f"SELECT event_id, ts, user_id, event_type, value FROM "
        f"'{SF_DIR}/events.parquet' ORDER BY event_id"
    ).fetchall()


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------


def _brute_asof(events):
    """O(n^2) per-user scan: for each purchase, the max-ts other event
    with ts <= purchase ts."""
    out = {}
    for eid, ts, uid, typ, _ in events:
        if typ != "purchase":
            continue
        best = None
        for oid, ots, ouid, otyp, _ in events:
            if otyp == "purchase" or ouid != uid or ots > ts:
                continue
            if best is None or ots > best[1]:
                best = (oid, ots, otyp)
        out[eid] = best
    return out


def test_asof_join_matches_brute_force(spark):
    events = _events()
    expect = _brute_asof(events)
    rows = q_asof_join(spark, SF_DIR).collect()
    assert len(rows) == len(expect)
    for r in rows:
        b = expect[r["event_id"]]
        if b is None:
            assert r["prev_event_id"] == -1 and r["gap_us"] == -1
            assert r["prev_type"] == ""
        else:
            assert r["prev_event_id"] == b[0]
            assert r["prev_type"] == b[2]
            assert r["gap_us"] >= 0


def test_asof_join_precondition_no_ts_ties(spark):
    """The ASOF oracle is only deterministic if no two events share a
    (user_id, ts) pair — assert that invariant on the data itself."""
    con = duckdb.connect()
    (n,) = con.execute(
        f"SELECT count(*) FROM (SELECT user_id, ts, count(*) AS c FROM "
        f"'{SF_DIR}/events.parquet' GROUP BY 1, 2 HAVING c > 1)"
    ).fetchone()
    assert n == 0


def test_asof_join_is_single_shuffle_no_join(spark):
    """The union+window merge must contain NO join operator at all —
    one exchange on user_id and a linear window pass."""
    plan = _explain(q_asof_join(spark, SF_DIR))
    assert "Join" not in plan
    assert "Window" in plan


# ---------------------------------------------------------------------------
# range join
# ---------------------------------------------------------------------------


def _brute_intervals():
    base = datetime.datetime(2024, 1, 1)
    out = []
    for i in range(_RJ_N):
        s = base + datetime.timedelta(hours=7 * i, minutes=(i * i) % 11)
        e = s + datetime.timedelta(minutes=90 + (13 * i) % 45)
        out.append((i, s, e))
    return out


def test_range_join_matches_brute_force(spark):
    events = _events()
    expect = {}
    for i, s, e in _brute_intervals():
        hits = [(v,) for _, ts, _, _, v in events if s <= ts < e]
        if hits:
            expect[i] = (len(hits), round(sum(v for (v,) in hits), 4))
    got = {
        r["interval_id"]: (r["n_events"], r["sum_value"])
        for r in q_range_join(spark, SF_DIR).collect()
    }
    assert set(got) == set(expect)
    for i in expect:
        assert got[i][0] == expect[i][0], i
        assert abs(got[i][1] - expect[i][1]) < 1e-3, i


def test_range_join_is_hash_join_not_nested_loop(spark):
    """The bucket key must turn the interval predicate into a broadcast
    HASH join — a BroadcastNestedLoopJoin would be the O(|E| x |I|)
    plan that dies at scale."""
    plan = _explain(q_range_join(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# bloom filter
# ---------------------------------------------------------------------------


def test_bloom_filter_matches_brute_force_and_has_fp(spark):
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, source, md5(text) FROM "
        f"'{SF_DIR}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    bits = set()
    for _, src, key in docs:
        if src in _BLOOM_BASE:
            for j in range(_BLOOM_K):
                h = hashlib.md5(f"{key}#{j}".encode()).hexdigest()
                bits.add(int(h[:8], 16) % _BLOOM_M)
    expect = {}
    for did, src, key in docs:
        hit = all(
            int(
                hashlib.md5(f"{key}#{j}".encode()).hexdigest()[:8], 16
            )
            % _BLOOM_M
            in bits
            for j in range(_BLOOM_K)
        )
        expect[did] = (1 if src in _BLOOM_BASE else 0, 1 if hit else 0)
    rows = q_bloom_filter(spark, SF_DIR).collect()
    assert len(rows) == len(expect)
    fps = 0
    for r in rows:
        in_base, hit = expect[r["doc_id"]]
        assert r["in_base"] == in_base
        assert r["bloom_hit"] == hit
        assert r["fp"] == (1 if hit and not in_base else 0)
        fps += r["fp"]
        # a bloom filter NEVER false-negatives
        if in_base:
            assert r["bloom_hit"] == 1
    # sized for a measurable FP rate: the filter must actually be lossy
    assert fps > 0
