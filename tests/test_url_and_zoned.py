"""bm25_zoned (title-zone-weighted BM25) and url_normalize (crawl
frontier canonicalization): Python brute-force twins + invariants."""

import math
import re

from search_engine_spark.catalog.ir import (
    q_bm25_zoned, _scored, _tokens, _ZONE_LEN, _ZONE_W, _ZONED_TERMS,
)
from search_engine_spark.catalog.corpus import q_url_normalize
from search_engine_spark.plans import bm25
from tests.test_driver_plan_shapes import _explain

SF_DIR = "/root/testdata/sf0.001"


def _brute_zoned(spark):
    toks = _tokens(spark, SF_DIR).collect()
    dl = {}
    for r in toks:
        dl[r["doc_id"]] = dl.get(r["doc_id"], 0) + 1
    n_docs = len(dl)
    avgdl = sum(dl.values()) / n_docs
    wtf = {}
    for r in toks:
        if r["term"] in _ZONED_TERMS:
            w = _ZONE_W if r["pos"] <= _ZONE_LEN else 1.0
            wtf[(r["term"], r["doc_id"])] = (
                wtf.get((r["term"], r["doc_id"]), 0.0) + w
            )
    df = {}
    for (t, _), _w in wtf.items():
        df[t] = df.get(t, 0) + 1
    scores = {}
    for (t, d), w in wtf.items():
        idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
        s = idf * (w * (bm25.K1 + 1.0)) / (
            w + bm25.K1 * (1.0 - bm25.B + bm25.B * dl[d] / avgdl)
        )
        scores[d] = scores.get(d, 0.0) + s
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    return [(d, round(s, 4)) for d, s in top]


def test_bm25_zoned_matches_brute_force(spark):
    expect = _brute_zoned(spark)
    got = [
        (r["doc_id"], r["score"])
        for r in q_bm25_zoned(spark, SF_DIR).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expect]
    for (gd, gs), (ed, es) in zip(got, expect):
        assert abs(gs - es) < 1e-3, (gd, gs, es)


def test_bm25_zoned_boost_actually_changes_scores(spark):
    """With the zone weight forced to 1.0 the operator must degrade to
    plain BM25 — i.e. the boost is live, not dead code."""
    plain = _scored(spark, SF_DIR, list(_ZONED_TERMS))
    plain_by_doc = {}
    for r in plain.collect():
        plain_by_doc[r["doc_id"]] = plain_by_doc.get(r["doc_id"], 0.0) + r["score"]
    zoned = {
        r["doc_id"]: r["score"]
        for r in q_bm25_zoned(spark, SF_DIR).collect()
    }
    # at least one top-10 doc must score strictly higher than plain BM25
    # (any query-term occurrence inside the zone adds weight)
    assert any(
        zoned[d] > round(plain_by_doc[d], 4) + 1e-6
        for d in zoned
        if d in plain_by_doc
    )


def test_bm25_zoned_plan_broadcasts_stats(spark):
    plan = _explain(q_bm25_zoned(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


_NORM_RE = re.compile(
    r"^(https?)://([^/:?#]+)(?::([0-9]+))?([^?#]*)(?:\?([^#]*))?$"
)


def test_url_normalize_invariants(spark):
    rows = q_url_normalize(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        m = _NORM_RE.match(r["norm"])
        assert m, r["norm"]
        scheme, host, port, path, q = m.groups()
        assert scheme in ("http", "https")
        assert host == host.lower() and not host.startswith("www.")
        # default ports stripped, fragment gone
        assert port not in ("80", "443") or (
            (scheme, port) not in (("http", "80"), ("https", "443"))
        )
        assert "#" not in r["norm"]
        if q:
            parts = q.split("&")
            assert parts == sorted(parts)


def test_url_normalize_is_idempotent(spark):
    """Normalizing an already-normal URL must be a fixpoint — run the
    same component logic in Python over the emitted norm strings."""
    rows = q_url_normalize(spark, SF_DIR).collect()
    for r in rows:
        m = _NORM_RE.match(r["norm"])
        scheme, host, port, path, q = m.groups()
        rebuilt = f"{scheme}://{host}"
        if port and not (
            (scheme == "http" and port == "80")
            or (scheme == "https" and port == "443")
        ):
            rebuilt += f":{port}"
        rebuilt += path or ""
        if q:
            rebuilt += "?" + "&".join(sorted(q.split("&")))
        assert rebuilt == r["norm"]
