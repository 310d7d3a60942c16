"""Pure-Python twins for the hybrid-retrieval / graph / pipeline
extras (rrf_fusion, bfs_hops, label_propagation, anchor_text,
trustrank, data_split, oov_rate) —
independent of both the Spark plans under test and their DuckDB
oracles."""

import duckdb

from search_engine_spark.catalog.ir import _BM25_CORE_SQL
from search_engine_spark.catalog.ann import q_rrf_fusion, _RRF_DEPTH, _RRF_K
from search_engine_spark.catalog.graph import (
    _BFS_ITERS, _BFS_SEED_MOD, _LPA_ITERS, _PR_DAMP, _PR_ITERS, _PR_RULES,
    q_anchor_text, q_bfs_hops, q_label_propagation, q_trustrank,
)
from search_engine_spark.catalog.quality import (
    _OOV_MIN_DF, q_data_split, q_oov_rate, _SPLIT_MOD, _SPLIT_PRIME,
)

SF_DIR = "/root/testdata/sf0.001"


def _con():
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _ids(con):
    return [
        r[0]
        for r in con.execute(
            "SELECT doc_id FROM documents ORDER BY doc_id"
        ).fetchall()
    ]


def _edges(ids):
    """Python twin of _link_edges: the arithmetic link graph."""
    n = len(ids)
    out = set()
    for u in ids:
        for m, b in _PR_RULES:
            v = (m * u + b) % n
            if v != u:
                out.add((u, v))
    return out


# ---------------------------------------------------------------------------
# rrf_fusion
# ---------------------------------------------------------------------------

def test_rrf_fusion_matches_python_fusion(spark):
    """Compute the two rounded top-50 lists in DuckDB (independent
    engines), fuse them in pure Python, and demand the Spark result
    matches score-for-score."""
    con = _con()
    lex = con.execute(
        f"""WITH {_BM25_CORE_SQL}
        SELECT doc_id, round(score, 4) AS score FROM scored
        WHERE term = 'merge'
        ORDER BY score DESC, doc_id ASC LIMIT {_RRF_DEPTH}"""
    ).fetchall()
    sem = con.execute(
        f"""WITH emb AS (
          SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
        ), q AS (SELECT embedding AS v FROM emb WHERE vec_id = 0)
        SELECT e.vec_id,
               round(list_dot_product(e.embedding, q.v)
                     / (sqrt(list_dot_product(e.embedding, e.embedding))
                        * sqrt(list_dot_product(q.v, q.v))), 4) AS cos
        FROM emb e CROSS JOIN q WHERE e.vec_id <> 0
        ORDER BY cos DESC, vec_id ASC LIMIT {_RRF_DEPTH}"""
    ).fetchall()
    fused = {}
    for rank, (doc_id, _) in enumerate(lex, start=1):
        fused[doc_id] = fused.get(doc_id, 0.0) + 1.0 / (_RRF_K + rank)
    for rank, (doc_id, _) in enumerate(sem, start=1):
        fused[doc_id] = fused.get(doc_id, 0.0) + 1.0 / (_RRF_K + rank)
    expect = sorted(
        ((round(s, 6), d) for d, s in fused.items()),
        key=lambda t: (-t[0], t[1]),
    )[:10]

    got = [
        (r["rrf"], r["doc_id"])
        for r in q_rrf_fusion(spark, SF_DIR).collect()
    ]
    assert got == expect


# ---------------------------------------------------------------------------
# bfs_hops
# ---------------------------------------------------------------------------

def test_bfs_hops_matches_python_bfs(spark):
    con = _con()
    ids = _ids(con)
    edges = _edges(ids)
    adj = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
    dist = {u: 0 for u in ids if u % _BFS_SEED_MOD == 0}
    frontier = dict(dist)
    for h in range(1, _BFS_ITERS + 1):
        nxt = {}
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    nxt[v] = h
        dist.update(nxt)
        frontier = nxt

    got = {
        r["doc_id"]: r["hops"]
        for r in q_bfs_hops(spark, SF_DIR).collect()
    }
    assert got == dist
    assert 0 in set(got.values())          # seeds present
    assert max(got.values()) <= _BFS_ITERS


# ---------------------------------------------------------------------------
# label_propagation
# ---------------------------------------------------------------------------

def test_label_propagation_matches_python_lpa(spark):
    con = _con()
    ids = _ids(con)
    und = {
        (min(u, v), max(u, v)) for u, v in _edges(ids)
    }
    nbr = {}
    for lo, hi in und:
        nbr.setdefault(lo, []).append(hi)
        nbr.setdefault(hi, []).append(lo)
    lbl = {u: u for u in ids}
    for _ in range(_LPA_ITERS):
        new = {}
        for u in ids:
            counts = {}
            for v in nbr.get(u, ()):
                counts[lbl[v]] = counts.get(lbl[v], 0) + 1
            if counts:
                new[u] = min(
                    counts, key=lambda c: (-counts[c], c)
                )
            else:
                new[u] = lbl[u]
        lbl = new

    got = {
        r["doc_id"]: r["community"]
        for r in q_label_propagation(spark, SF_DIR).collect()
    }
    assert got == lbl
    # propagation actually merged something: fewer communities than nodes
    assert len(set(got.values())) < len(ids)


# ---------------------------------------------------------------------------
# anchor_text
# ---------------------------------------------------------------------------

def test_anchor_text_matches_python_aggregation(spark):
    import re

    con = _con()
    rows = con.execute("SELECT doc_id, text FROM documents").fetchall()
    ids = sorted(r[0] for r in rows)
    anchor = {}
    for doc_id, text in rows:
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        anchor[doc_id] = " ".join(toks[:2])
    per_dst = {}
    for u, v in _edges(ids):
        per_dst.setdefault(v, []).append(anchor[u])
    expect = {}
    for dst, anchors in per_dst.items():
        counts = {}
        for a in anchors:
            counts[a] = counts.get(a, 0) + 1
        top = min(counts, key=lambda a: (-counts[a], a))
        expect[dst] = (len(anchors), top, counts[top])

    got = {
        r["doc_id"]: (r["n_inlinks"], r["top_anchor"], r["anchor_n"])
        for r in q_anchor_text(spark, SF_DIR).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# trustrank
# ---------------------------------------------------------------------------

def test_trustrank_matches_python_twin_and_demotes_nonseeded(spark):
    con = _con()
    ids = _ids(con)
    n = len(ids)
    out = {}
    for u in ids:
        tgts = {(m * u + b) % n for m, b in _PR_RULES}
        tgts.discard(u)
        out[u] = sorted(tgts)
    seeds = [u for u in ids if u % _BFS_SEED_MOD == 0]
    tele = {u: (1.0 / len(seeds) if u in set(seeds) else 0.0) for u in ids}
    r = dict(tele)
    for _ in range(_PR_ITERS):
        nxt = {u: 0.0 for u in ids}
        for u, tgts in out.items():
            share = r[u] / len(tgts)
            for v in tgts:
                nxt[v] += share
        r = {
            u: (1.0 - _PR_DAMP) * tele[u] + _PR_DAMP * nxt[u]
            for u in ids
        }

    got = {
        row["doc_id"]: row["tr"]
        for row in q_trustrank(spark, SF_DIR).collect()
    }
    assert set(got) == set(ids)
    for u in ids:
        assert abs(got[u] - r[u]) < 1e-8, (u, got[u], r[u])
    # trust mass concentrates near seeds: total seed trust beats a
    # uniform share
    seed_mass = sum(got[u] for u in seeds)
    assert seed_mass > len(seeds) / n


# ---------------------------------------------------------------------------
# data_split
# ---------------------------------------------------------------------------

def test_data_split_matches_python_hash_assignment(spark):
    import re

    con = _con()
    rows = con.execute("SELECT doc_id, text FROM documents").fetchall()
    expect = {}
    for doc_id, text in rows:
        b = ((doc_id % _SPLIT_PRIME) * 2654435761) % _SPLIT_MOD
        split = "train" if b <= 7 else ("val" if b == 8 else "test")
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        n_docs, n_tokens = expect.get(split, (0, 0))
        expect[split] = (n_docs + 1, n_tokens + len(toks))

    got = {
        r["split"]: (r["n_docs"], r["n_tokens"])
        for r in q_data_split(spark, SF_DIR).collect()
    }
    assert got == expect
    assert got["train"][0] > got["val"][0]
    assert got["train"][0] > got["test"][0]


# ---------------------------------------------------------------------------
# oov_rate
# ---------------------------------------------------------------------------

def test_oov_rate_matches_python_coverage(spark):
    import re

    con = _con()
    rows = con.execute(
        "SELECT doc_id, text, lang FROM documents"
    ).fetchall()
    doc_toks = {}
    lang_of = {}
    df = {}
    for doc_id, text, lang in rows:
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        doc_toks[doc_id] = toks
        lang_of[doc_id] = lang
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    vocab = {t for t, d in df.items() if d >= _OOV_MIN_DF}
    per_lang = {}
    for doc_id, toks in doc_toks.items():
        oov = sum(1 for t in toks if t not in vocab) / len(toks)
        per_lang.setdefault(lang_of[doc_id], []).append(oov)
    expect = {
        lang: (len(vs), round(sum(vs) / len(vs), 4))
        for lang, vs in per_lang.items()
    }

    got = {
        r["lang"]: (r["n_docs"], r["avg_oov"])
        for r in q_oov_rate(spark, SF_DIR).collect()
    }
    assert got == expect
    # a df-10 vocab on a Zipf corpus must cover most tokens
    assert all(v[1] < 0.5 for v in got.values())
