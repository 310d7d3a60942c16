"""Pure-Python twins for entropy_quality and event_funnel."""

import math
import re
from collections import Counter

import duckdb

from search_engine_spark.catalog.quality import q_entropy_quality
from search_engine_spark.catalog.events import q_event_funnel

SF_DIR = "/root/testdata/sf0.001"


def _con():
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


# ---------------------------------------------------------------------------
# entropy_quality
# ---------------------------------------------------------------------------

def test_entropy_quality_matches_python_twin(spark):
    con = _con()
    rows = con.execute("SELECT doc_id, text, lang FROM documents").fetchall()
    per_lang = {}
    for _d, text, lang in rows:
        s = re.sub(r"[^a-z0-9]", "", (text or "").lower())
        if not s:
            continue
        cnt = Counter(s)
        n = len(s)
        h = -sum((c / n) * math.log2(c / n) for c in cnt.values())
        per_lang.setdefault(lang, []).append(h)
    want = {
        lang: (
            len(hs),
            round(sum(hs) / len(hs), 4),
            sum(1 for h in hs if h < 2.5),
        )
        for lang, hs in per_lang.items()
    }
    got = {
        r.lang: (r.n_docs, r.avg_entropy, r.n_low)
        for r in q_entropy_quality(spark, SF_DIR).collect()
    }
    assert got == want


def test_entropy_bounded_by_log_alphabet(spark):
    """Shannon entropy over a 36-char alphabet is at most log2(36)."""
    for r in q_entropy_quality(spark, SF_DIR).collect():
        assert 0.0 <= r.avg_entropy <= math.log2(36) + 1e-9


# ---------------------------------------------------------------------------
# event_funnel
# ---------------------------------------------------------------------------

def test_event_funnel_matches_python_twin(spark):
    con = _con()
    rows = con.execute(
        "SELECT user_id, event_type, ts FROM events "
        "WHERE event_type IN ('view', 'click', 'purchase')"
    ).fetchall()
    firsts = {}
    for uid, et, ts in rows:
        cur = firsts.setdefault(uid, {})
        if et not in cur or ts < cur[et]:
            cur[et] = ts
    n1 = n2 = n3 = 0
    for cur in firsts.values():
        v, c, p = cur.get("view"), cur.get("click"), cur.get("purchase")
        if v is not None:
            n1 += 1
            if c is not None and c > v:
                n2 += 1
                if p is not None and p > c:
                    n3 += 1
    want = [
        (1, "view", n1, round(n1 / max(n1, 1), 4)),
        (2, "click", n2, round(n2 / max(n1, 1), 4)),
        (3, "purchase", n3, round(n3 / max(n2, 1), 4)),
    ]
    got = [
        (r.step, r.name, r.users, r.conv)
        for r in q_event_funnel(spark, SF_DIR).collect()
    ]
    assert got == want


def test_event_funnel_is_monotone(spark):
    users = [r.users for r in q_event_funnel(spark, SF_DIR).collect()]
    assert users == sorted(users, reverse=True)
    assert users[0] > 0  # fixture sanity


def test_event_funnel_has_no_window_over_raw_events(spark):
    """The plan must aggregate to per-user firsts map-side — no Window
    operator (which would shuffle every raw event row per user)."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_event_funnel(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
