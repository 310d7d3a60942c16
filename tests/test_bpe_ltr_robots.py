"""Pure-Python twins for bpe_pairs, ltr_features, and robots_filter —
independent of both the Spark plans under test and their DuckDB oracles."""

import math
import re
from collections import Counter

import duckdb

from search_engine_spark.catalog.ir import _LTR_K, _LTR_TERMS, q_ltr_features
from search_engine_spark.catalog.quality import _BPE_EOW, q_bpe_pairs
from search_engine_spark.catalog.corpus import q_robots_filter

SF_DIR = "/root/testdata/sf0.001"


def _docs():
    con = duckdb.connect()
    return con.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()


def _toks(text):
    return [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]


# ---------------------------------------------------------------------------
# bpe_pairs
# ---------------------------------------------------------------------------

def test_bpe_pairs_matches_python_twin(spark):
    wf = Counter()
    for _id, text in _docs():
        wf.update(_toks(text))
    pc = Counter()
    for word, freq in wf.items():
        for a, b in zip(word, word[1:]):
            pc[a + b] += freq
        pc[word[-1] + _BPE_EOW] += freq
    want = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [(r.pair, r.cnt) for r in q_bpe_pairs(spark, SF_DIR).collect()]
    assert got == want


def test_bpe_pairs_key_space_is_alphabet_bounded(spark):
    """Every pair is 2 chars or char+EOW — the agg key space is bounded by
    |alphabet|^2 regardless of corpus size (the map-side-combine bound)."""
    for r in q_bpe_pairs(spark, SF_DIR).collect():
        assert len(r.pair) == 2 or (
            len(r.pair) == 1 + len(_BPE_EOW)
            and r.pair.endswith(_BPE_EOW)
        )


# ---------------------------------------------------------------------------
# ltr_features
# ---------------------------------------------------------------------------

def test_ltr_features_matches_python_twin(spark):
    docs = _docs()
    toks = {d: _toks(t) for d, t in docs}
    dls = {d: len(v) for d, v in toks.items() if v}
    n, avgdl = len(dls), sum(dls.values()) / len(dls)
    feats = {}
    for term in _LTR_TERMS:
        tf = {
            d: sum(1 for t in v if t == term)
            for d, v in toks.items()
            if term in v
        }
        df = len(tf)
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        for d, f in tf.items():
            w = idf * (f * 2.2) / (
                f + 1.2 * (1 - 0.75 + 0.75 * dls[d] / avgdl)
            )
            pos = min(
                i + 1 for i, t in enumerate(toks[d]) if t == term
            )
            bm25, nm, tfs, fp = feats.get(d, (0.0, 0, 0, 10**9))
            feats[d] = (bm25 + w, nm + 1, tfs + f, min(fp, pos))
    rows = [
        (d, round(b, 4), nm, tfs, dls[d], fp)
        for d, (b, nm, tfs, fp) in feats.items()
    ]
    want = sorted(rows, key=lambda r: (-r[1], r[0]))[: _LTR_K]
    got = [
        (r.doc_id, r.bm25, r.n_match, r.tf_sum, r.dl, r.first_pos)
        for r in q_ltr_features(spark, SF_DIR).collect()
    ]
    assert got == want


def test_ltr_features_plan_prunes_to_query_terms(spark):
    """The term filter must sit below the aggregations: the full-vocab tf
    table never materializes (the two literals appear in scan filters)."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_ltr_features(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert "merge" in plan and "join" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# robots_filter
# ---------------------------------------------------------------------------

def test_robots_filter_matches_python_twin(spark):
    ids = [d for d, _ in _docs()]
    per_host = {}
    for i in ids:
        h = i % 7
        host = f"site{h}.example.com"
        path = f"/sec{i % 5}/page{i}"
        prefixes = [f"/sec{h % 5}/"]
        if h % 2 == 0:
            prefixes.append(f"/sec{(h + 2) % 5}/")
        blocked = any(path.startswith(p) for p in prefixes)
        u, b = per_host.get(host, (0, 0))
        per_host[host] = (u + 1, b + blocked)
    want = {
        host: (u, b, u - b) for host, (u, b) in per_host.items()
    }
    got = {
        r.host: (r.n_urls, r.n_blocked, r.n_allowed)
        for r in q_robots_filter(spark, SF_DIR).collect()
    }
    assert got == want


def test_robots_filter_rules_are_broadcast(spark):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_robots_filter(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
