"""Pure-Python twins for coec_model, adamic_adar, bm25_maxp, and
curriculum_select, plus plan-shape checks (broadcast prior, capped
self-join, no global single-task window in the curriculum prefix sum)."""

import contextlib
import io
import json
import math
import re
from collections import Counter, defaultdict

import duckdb

from search_engine_spark.catalog.ir import _MAXP_W, q_bm25_maxp
from search_engine_spark.catalog.quality import _CURR_FRAC, q_curriculum_select
from search_engine_spark.catalog.events import (
    _COEC_SLOTS, _COOC_CAP, q_adamic_adar, q_coec_model,
)

SF_DIR = "/root/testdata/sf0.001"


def _con():
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _events():
    rows = _con().execute(
        "SELECT event_id, user_id, event_type, props FROM events"
        " WHERE event_type IN ('view', 'click')"
    ).fetchall()
    out = []
    for eid, uid, et, props in rows:
        item = json.loads(props).get("k")
        if item is None:
            continue
        out.append((eid, uid, et, int(item), eid % _COEC_SLOTS + 1))
    return out


# ---------------------------------------------------------------------------
# coec_model
# ---------------------------------------------------------------------------

def test_coec_matches_python_twin(spark):
    ev = _events()
    v_at = Counter(p for _e, _u, et, _i, p in ev if et == "view")
    c_at = Counter(p for _e, _u, et, _i, p in ev if et == "click")
    pctr = {p: c_at.get(p, 0) / v for p, v in v_at.items() if v > 0}
    expected = defaultdict(float)
    clicks = Counter()
    for _e, _u, et, item, p in ev:
        if et == "view" and p in pctr:
            expected[item] += pctr[p]
        elif et == "click":
            clicks[item] += 1
    want = sorted(
        (
            (item, clicks.get(item, 0), round(exp, 4),
             round(clicks.get(item, 0) / exp, 4))
            for item, exp in expected.items()
            if exp > 0
        ),
        key=lambda r: (-r[3], r[0]),
    )
    got = [
        (r.item, r.clicks, r.expected, r.coec)
        for r in q_coec_model(spark, SF_DIR).collect()
    ]
    assert got == want
    assert len(got) > 0


def test_coec_prior_joins_by_broadcast(spark):
    """The ≤10-row position prior must reach the impression stream as a
    broadcast, never a shuffle of the full event log on `pos`."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_coec_model(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# adamic_adar
# ---------------------------------------------------------------------------

def test_adamic_adar_matches_python_twin(spark):
    views = defaultdict(Counter)
    for _e, uid, et, item, _p in _events():
        if et == "view":
            views[uid][item] += 1
    aa = defaultdict(float)
    common = Counter()
    for _uid, cnt in views.items():
        hist = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        items = sorted(i for i, _v in hist[: _COOC_CAP])
        if len(items) < 2:
            continue
        w = 1.0 / math.log(len(items))
        for i, a in enumerate(items):
            for b in items[i + 1:]:
                aa[(a, b)] += w
                common[(a, b)] += 1
    want = sorted(
        ((a, b, common[(a, b)], round(s, 4)) for (a, b), s in aa.items()),
        key=lambda r: (-r[3], r[0], r[1]),
    )[:20]
    got = [
        (r.item_a, r.item_b, r.common, r.aa)
        for r in q_adamic_adar(spark, SF_DIR).collect()
    ]
    assert got == want
    assert len(got) == 20


# ---------------------------------------------------------------------------
# bm25_maxp
# ---------------------------------------------------------------------------

def _passages():
    """(doc_id, pid) -> list of terms, via the shared analyzer."""
    rows = _con().execute("SELECT doc_id, text FROM documents").fetchall()
    p = defaultdict(list)
    for doc_id, text in rows:
        toks = [x for x in re.split(r"[^a-z0-9]+", (text or "").lower()) if x]
        for i, t in enumerate(toks):
            p[(doc_id, i // _MAXP_W)].append(t)
    return p


def test_bm25_maxp_matches_python_twin(spark):
    terms = ("merge", "join")
    passages = _passages()
    n_pass = len(passages)
    avgpl = sum(len(v) for v in passages.values()) / n_pass
    df = Counter()
    for key, toks in passages.items():
        for t in set(toks) & set(terms):
            df[t] += 1
    psum = defaultdict(float)
    for (doc_id, pid), toks in passages.items():
        pl = len(toks)
        for t in terms:
            tf = toks.count(t)
            if tf == 0:
                continue
            idf = math.log((n_pass - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            psum[(doc_id, pid)] += (
                idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * pl / avgpl))
            )
    best = {}
    for (doc_id, pid), s in psum.items():
        cur = best.get(doc_id)
        if cur is None or (-s, pid) < (-cur[1], cur[0]):
            best[doc_id] = (pid, s)
    want = sorted(
        ((d, pid, round(s, 4)) for d, (pid, s) in best.items()),
        key=lambda r: (-r[2], r[0]),
    )[:10]
    got = [
        (r.doc_id, r.passage, r.score)
        for r in q_bm25_maxp(spark, SF_DIR).collect()
    ]
    assert got == want
    assert len(got) == 10


def test_bm25_maxp_plan_shape(spark):
    """Passage df and corpus stats reach the scored join as broadcasts;
    the final cut is a top-k, not a global sort."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_bm25_maxp(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# curriculum_select
# ---------------------------------------------------------------------------

def test_curriculum_matches_naive_cumsum(spark, tmp_path):
    # deterministic synthetic corpus: per-doc token length varies so the
    # difficulty ordering differs from the doc_id ordering
    rows = [
        (i, " ".join(["x" * (1 + (i * 13 + j) % 7)
                      for j in range(5 + (i * 3) % 11)]))
        for i in range(200)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    docs = {}
    for doc_id, text in rows:
        toks = [x for x in re.split(r"[^a-z0-9]+", text.lower()) if x]
        docs[doc_id] = (len(toks), sum(len(t) for t in toks) / len(toks))
    total = sum(n for n, _d in docs.values())
    budget = math.floor(_CURR_FRAC * total)
    want, cum = [], 0
    for doc_id, (n, diff) in sorted(
        docs.items(), key=lambda kv: (kv[1][1], kv[0])
    ):
        cum += n
        if cum > budget:
            break
        want.append((doc_id, n, round(diff, 4), cum))
    got = [
        (r.doc_id, r.n_tok, r.difficulty, r.cum_tokens)
        for r in q_curriculum_select(spark, str(tmp_path)).collect()
    ]
    assert got == want
    assert 0 < len(got) < len(rows)   # the budget genuinely cuts
    assert got[-1][3] <= budget


def test_curriculum_prefix_sum_is_distributed(spark):
    """The running total must come from the two-level range-partitioned
    scan: a range exchange exists, and no window runs with an empty
    partition spec over the full corpus (the k-row base-offset side
    plan is the only global window and it sees ≤ #ranges rows)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_curriculum_select(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert "rangepartitioning" in plan.lower()
    assert "BroadcastHashJoin" in plan
