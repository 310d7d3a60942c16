"""Link-graph catalog entries over the synthetic link-emitter graph:
PageRank, HITS, TrustRank, label propagation, BFS hops, k-core, triangle
count, community conductance, anchor text and language homophily.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from search_engine_spark.catalog.ir import _docs, _r4


_PR_ITERS = 8
_PR_DAMP = 0.85
# Synthetic deterministic link graph over doc_ids 0..N-1 (the reference's
# LinkEmitter side output — HtmlParser.cpp emits outlinks per page — with
# the crawl graph replaced by an arithmetic one so the oracle can rebuild
# it): a ring edge (u+1) mod N guarantees out-degree >= 1 (no dangling
# nodes, so the dangling-mass term is identically zero and total rank mass
# stays 1), while (10u+3) and (6u+5) mod N are non-invertible maps
# (gcd(m, N) > 1 on the sf tables) that concentrate in-degree onto a small
# residue class — exactly the head-node skew a real web graph has.
_PR_RULES = ((1, 1), (10, 3), (6, 5))


def q_pagerank(spark, sf_dir):
    """PageRank over the synthetic link graph: _PR_ITERS damped power
    iterations, r0 = 1/N, r' = (1-d)/N + d * sum_in(r/outdeg).

    Scale shape: edges and ranks are both keyed by node id, so each
    iteration is one co-partitioned join + one hash aggregation on dst —
    the Pregel message-passing shape. On a real cluster the edge table
    would be bucketed by src and cached once; the per-iteration shuffle
    of the (dst, contribution) pairs is inherent to PageRank. The plan
    references the previous iteration exactly once (no dangling-mass
    branch, see _PR_RULES), so lineage depth grows linearly in
    iterations, not exponentially.
    """
    with_n, edges = _link_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    e = edges.join(deg, "src")
    ranks = with_n.select("id", (F.lit(1.0) / F.col("n")).alias("r"))
    for _ in range(_PR_ITERS):
        contribs = (
            ranks.join(e, ranks["id"] == e["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("deg")).alias("c"))
        )
        ranks = (
            with_n.join(contribs, with_n["id"] == contribs["dst"], "left")
            .select(
                "id",
                (
                    F.lit(1.0 - _PR_DAMP) / F.col("n")
                    + F.lit(_PR_DAMP) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks.select(
        F.col("id").alias("doc_id"), F.round("r", 8).alias("pr")
    )


def _pagerank_sql() -> str:
    rules = ", ".join(f"({m}, {b})" for m, b in _PR_RULES)
    parts = [
        f"""WITH nodes AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT count(*) AS n FROM nodes),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT id AS src, (rules.m * id + rules.b) % nn.n AS dst
    FROM nodes CROSS JOIN nn
    CROSS JOIN (VALUES {rules}) AS rules(m, b)
  ) WHERE src <> dst
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
e AS (SELECT edges.src, edges.dst, deg.deg FROM edges JOIN deg USING (src)),
r0 AS (SELECT id, CAST(1 AS DOUBLE) / nn.n AS r FROM nodes CROSS JOIN nn)"""
    ]
    for t in range(1, _PR_ITERS + 1):
        parts.append(
            f""",
c{t} AS (SELECT e.dst AS id, sum(r.r / e.deg) AS c
         FROM r{t - 1} r JOIN e ON r.id = e.src GROUP BY e.dst),
r{t} AS (SELECT nodes.id,
                CAST({1.0 - _PR_DAMP} AS DOUBLE) / nn.n
                + CAST({_PR_DAMP} AS DOUBLE) * coalesce(c{t}.c, 0) AS r
         FROM nodes CROSS JOIN nn LEFT JOIN c{t} ON nodes.id = c{t}.id)"""
        )
    parts.append(
        f"""
SELECT id AS doc_id, round(r, 8) AS pr FROM r{_PR_ITERS}"""
    )
    return "".join(parts)


SQL_PAGERANK = _pagerank_sql()


# ---------------------------------------------------------------------------
# HITS hubs & authorities over the same synthetic link graph
# ---------------------------------------------------------------------------

_HITS_ITERS = 6


def _link_edges(spark, sf_dir):
    """(with_n, edges) for the synthetic arithmetic link graph shared by
    q_pagerank and q_hits — see _PR_RULES for why this shape models a web
    graph (guaranteed out-degree, skewed in-degree)."""
    nodes = _docs(spark, sf_dir).select(F.col("doc_id").alias("id"))
    n1 = nodes.agg(F.count("*").alias("n"))
    with_n = nodes.crossJoin(F.broadcast(n1))
    rules = F.array(
        *[
            F.struct(F.lit(m).alias("m"), F.lit(b).alias("b"))
            for m, b in _PR_RULES
        ]
    )
    edges = (
        with_n.select("id", "n", F.explode(rules).alias("rule"))
        .select(
            F.col("id").alias("src"),
            ((F.col("rule.m") * F.col("id") + F.col("rule.b"))
             % F.col("n")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return with_n, edges


def q_hits(spark, sf_dir):
    """HITS hubs & authorities (Kleinberg) over the synthetic link graph:
    auth_t = A^T hub_{t-1}, hub_t = A auth_t, _HITS_ITERS rounds.

    Normalization is deferred to the very END: with hub_0 = 1 and
    unit edge weights every intermediate score is an exact INTEGER (sums
    of integers), so the power iteration is bit-identical across engines
    and the only float op is one final L1 division + round.  Deferring
    it also keeps the lineage linear — a per-iteration normalize would
    reference each intermediate twice (value + its sum) and double the
    logical plan per round.  Scale shape per iteration: one join of the
    score vector against the edge list on its key + one hash aggregation
    on the other endpoint — the same Pregel message-passing shape as
    q_pagerank; on a cluster the edge table is bucketed by src/dst and
    cached once.  Mirrors the reference's LinkEmitter side output
    (HtmlParser.cpp outlink emission) feeding a link-analysis job.
    """
    with_n, edges = _link_edges(spark, sf_dir)
    hub = with_n.select("id", F.lit(1).cast("long").alias("h"))
    nodes = with_n.select("id")
    auth = None
    for _ in range(_HITS_ITERS):
        auth = (
            hub.join(edges, hub["id"] == edges["src"])
            .groupBy("dst")
            .agg(F.sum("h").alias("a"))
            .select(F.col("dst").alias("id"), "a")
        )
        hub = (
            auth.join(edges, auth["id"] == edges["dst"])
            .groupBy("src")
            .agg(F.sum("a").alias("h"))
            .select(F.col("src").alias("id"), "h")
        )
    asum = auth.agg(F.sum("a").alias("s"))
    hsum = hub.agg(F.sum("h").alias("s"))
    return (
        auth.join(hub, "id")
        .crossJoin(F.broadcast(asum.select(F.col("s").alias("as_"))))
        .crossJoin(F.broadcast(hsum.select(F.col("s").alias("hs_"))))
        .select(
            F.col("id").alias("doc_id"),
            F.round(
                F.col("a").cast("double") / F.col("as_").cast("double"), 8
            ).alias("auth"),
            F.round(
                F.col("h").cast("double") / F.col("hs_").cast("double"), 8
            ).alias("hub"),
        )
    )


def _hits_sql() -> str:
    rules = ", ".join(f"({m}, {b})" for m, b in _PR_RULES)
    parts = [
        f"""WITH nodes AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT count(*) AS n FROM nodes),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT id AS src, (rules.m * id + rules.b) % nn.n AS dst
    FROM nodes CROSS JOIN nn
    CROSS JOIN (VALUES {rules}) AS rules(m, b)
  ) WHERE src <> dst
),
h0 AS (SELECT id, CAST(1 AS BIGINT) AS h FROM nodes)"""
    ]
    for t in range(1, _HITS_ITERS + 1):
        parts.append(
            f""",
a{t} AS (SELECT e.dst AS id, CAST(sum(h.h) AS BIGINT) AS a
         FROM h{t - 1} h JOIN edges e ON h.id = e.src GROUP BY e.dst),
h{t} AS (SELECT e.src AS id, CAST(sum(a.a) AS BIGINT) AS h
         FROM a{t} a JOIN edges e ON a.id = e.dst GROUP BY e.src)"""
        )
    t = _HITS_ITERS
    parts.append(
        f""",
asum AS (SELECT sum(a) AS s FROM a{t}),
hsum AS (SELECT sum(h) AS s FROM h{t})
SELECT a{t}.id AS doc_id,
       round(CAST(a{t}.a AS DOUBLE) / CAST(asum.s AS DOUBLE), 8) AS auth,
       round(CAST(h{t}.h AS DOUBLE) / CAST(hsum.s AS DOUBLE), 8) AS hub
FROM a{t} JOIN h{t} ON a{t}.id = h{t}.id
CROSS JOIN asum CROSS JOIN hsum
ORDER BY doc_id"""
    )
    return "".join(parts)


SQL_HITS = _hits_sql()


# ---------------------------------------------------------------------------
# Triangle counting over the link graph (degree-ordered orientation)
# ---------------------------------------------------------------------------


def q_triangle_count(spark, sf_dir):
    """Global triangle + wedge count of the undirected link graph — the
    classic web-graph clustering statistic.

    Uses the degree-ordered orientation (Chiba-Nishizeki / the standard
    MapReduce triangle recipe): every undirected edge points from its
    lower-(degree, id) endpoint to the higher one, so each triangle is
    counted exactly once from its minimum-degree corner and the wedge
    join fans out at most max-out-degree^2 per node — on a power-law
    web graph this bounds the blowup that a naive a<b<c two-hop join
    takes on hub nodes.  Plan: wedge = self-join of the oriented edge
    list on its source, closure = one semi-join of wedges against the
    canonical undirected edge set.  All integers; the oracle mirrors
    the same three joins.
    """
    _, edges = _link_edges(spark, sf_dir)
    und = edges.select(
        F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
    ).distinct()
    deg = (
        und.select(F.col("lo").alias("v"))
        .unionAll(und.select(F.col("hi").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    dl_ = deg.select(
        F.col("v").alias("lo"), F.col("deg").alias("deg_lo")
    )
    dh_ = deg.select(
        F.col("v").alias("hi"), F.col("deg").alias("deg_hi")
    )
    oriented = (
        und.join(dl_, "lo")
        .join(dh_, "hi")
        .select(
            F.when(
                (F.col("deg_lo") < F.col("deg_hi"))
                | (
                    (F.col("deg_lo") == F.col("deg_hi"))
                    & (F.col("lo") < F.col("hi"))
                ),
                F.col("lo"),
            )
            .otherwise(F.col("hi"))
            .alias("u"),
            F.when(
                (F.col("deg_lo") < F.col("deg_hi"))
                | (
                    (F.col("deg_lo") == F.col("deg_hi"))
                    & (F.col("lo") < F.col("hi"))
                ),
                F.col("hi"),
            )
            .otherwise(F.col("lo"))
            .alias("v"),
        )
    )
    o2 = oriented.select(F.col("u").alias("u2"), F.col("v").alias("w"))
    wedges = oriented.join(
        o2, (oriented["u"] == o2["u2"]) & (oriented["v"] < o2["w"])
    ).select("v", "w")
    tri = wedges.join(
        und,
        (
            (F.least("v", "w") == und["lo"])
            & (F.greatest("v", "w") == und["hi"])
        ),
        "left_semi",
    )
    return (
        tri.agg(F.count("*").alias("n_triangles"))
        .crossJoin(
            F.broadcast(wedges.agg(F.count("*").alias("n_wedges")))
        )
    )


def _triangle_sql() -> str:
    rules = ", ".join(f"({m}, {b})" for m, b in _PR_RULES)
    return f"""WITH nodes AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT count(*) AS n FROM nodes),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT id AS src, (rules.m * id + rules.b) % nn.n AS dst
    FROM nodes CROSS JOIN nn
    CROSS JOIN (VALUES {rules}) AS rules(m, b)
  ) WHERE src <> dst
),
und AS (
  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
  FROM edges
),
deg AS (
  SELECT v, count(*) AS deg FROM (
    SELECT lo AS v FROM und UNION ALL SELECT hi AS v FROM und
  ) GROUP BY v
),
oriented AS (
  SELECT CASE WHEN dl.deg < dh.deg OR (dl.deg = dh.deg AND und.lo < und.hi)
         THEN und.lo ELSE und.hi END AS u,
         CASE WHEN dl.deg < dh.deg OR (dl.deg = dh.deg AND und.lo < und.hi)
         THEN und.hi ELSE und.lo END AS v
  FROM und JOIN deg dl ON und.lo = dl.v JOIN deg dh ON und.hi = dh.v
),
wedges AS (
  SELECT a.v AS v, b.v AS w
  FROM oriented a JOIN oriented b ON a.u = b.u AND a.v < b.v
),
tri AS (
  SELECT * FROM wedges
  WHERE EXISTS (SELECT 1 FROM und
                WHERE und.lo = least(wedges.v, wedges.w)
                  AND und.hi = greatest(wedges.v, wedges.w))
)
SELECT CAST((SELECT count(*) FROM tri) AS BIGINT) AS n_triangles,
       CAST((SELECT count(*) FROM wedges) AS BIGINT) AS n_wedges"""


SQL_TRIANGLE_COUNT = _triangle_sql()


# ---------------------------------------------------------------------------
# k-core peeling over the link graph
# ---------------------------------------------------------------------------

_KCORE_K = 4       # core threshold
_KCORE_ROUNDS = 4  # fixed peeling rounds (fixpoint in 2 on the sf graphs)


def q_kcore(spark, sf_dir):
    """k-core decomposition (fixed-round peel): repeatedly remove nodes
    whose degree within the surviving set is < _KCORE_K from the
    undirected link graph; after _KCORE_ROUNDS rounds, report surviving
    nodes with their in-core degrees.  The k-core is the classic
    web-graph spam/community signal (dense-subgraph membership).

    Each round re-derives degrees from the ORIGINAL edge list
    restricted to the current keep set, and the keep set is
    MATERIALIZED per round (localCheckpoint — Pregel's superstep
    barrier): the peel references the previous round's result on BOTH
    edge endpoints, so a lazy formulation would triple the logical plan
    every round (3^rounds subtrees — Catalyst analysis explodes; the
    first draft of this operator hung exactly that way).  The oracle
    mirrors the materialization with AS MATERIALIZED CTEs.  Rounds are
    FIXED, not run-to-convergence, so both engines compute the
    identical relation even mid-convergence; the test asserts the sf
    graphs reach their fixpoint within the budget (an extra round
    changes nothing).
    """
    _, directed = _link_edges(spark, sf_dir)
    und = directed.select(
        F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
    ).distinct()
    edges = und.select(
        F.col("lo").alias("a"), F.col("hi").alias("b")
    ).unionAll(und.select(F.col("hi").alias("a"), F.col("lo").alias("b")))
    keep = None
    for _ in range(_KCORE_ROUNDS):
        cur = edges
        if keep is not None:
            cur = cur.join(keep, "a", "left_semi").join(
                keep.select(F.col("a").alias("b")), "b", "left_semi"
            )
        keep = (
            cur.groupBy("a")
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= _KCORE_K)
            .select("a")
            .localCheckpoint(eager=True)
        )
    core = edges.join(keep, "a", "left_semi").join(
        keep.select(F.col("a").alias("b")), "b", "left_semi"
    )
    return (
        core.groupBy("a")
        .agg(F.count("*").alias("core_deg"))
        .select(F.col("a").alias("doc_id"), "core_deg")
    )


def _kcore_sql() -> str:
    rules = ", ".join(f"({m}, {b})" for m, b in _PR_RULES)
    parts = [
        f"""WITH nodes AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT count(*) AS n FROM nodes),
dedges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT id AS src, (rules.m * id + rules.b) % nn.n AS dst
    FROM nodes CROSS JOIN nn
    CROSS JOIN (VALUES {rules}) AS rules(m, b)
  ) WHERE src <> dst
),
und AS (
  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
  FROM dedges
),
e0 AS (
  SELECT lo AS a, hi AS b FROM und
  UNION ALL SELECT hi AS a, lo AS b FROM und
)"""
    ]
    for t in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""",
k{t} AS MATERIALIZED (SELECT a FROM e{t - 1} GROUP BY a
         HAVING count(*) >= {_KCORE_K}),
e{t} AS MATERIALIZED (SELECT e.a, e.b FROM e{t - 1} e
         WHERE e.a IN (SELECT a FROM k{t})
           AND e.b IN (SELECT a FROM k{t}))"""
        )
    parts.append(
        f"""
SELECT a AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
FROM e{_KCORE_ROUNDS} GROUP BY a ORDER BY doc_id"""
    )
    return "".join(parts)


SQL_KCORE = _kcore_sql()


# ---------------------------------------------------------------------------
# hybrid retrieval, crawl scheduling, snippets, and more graph surfaces
# ---------------------------------------------------------------------------

def _edges_sql() -> str:
    """The synthetic arithmetic link graph as a SQL CTE prefix (nodes, nn,
    edges) — the oracle twin of _link_edges, shared by the newer graph
    entries (bfs_hops, label_propagation, anchor_text)."""
    rules = ", ".join(f"({m}, {b})" for m, b in _PR_RULES)
    return f"""nodes AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT count(*) AS n FROM nodes),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT id AS src, (rules.m * id + rules.b) % nn.n AS dst
    FROM nodes CROSS JOIN nn
    CROSS JOIN (VALUES {rules}) AS rules(m, b)
  ) WHERE src <> dst
)"""


_BFS_ITERS = 4
_BFS_SEED_MOD = 97   # seeds = ids ≡ 0 (mod 97): a sparse multi-source set


def q_bfs_hops(spark, sf_dir):
    """Multi-source BFS distance over the synthetic link graph:
    _BFS_ITERS synchronous relaxations of dist' = min(dist, dist[pred]+1)
    from the seed set {id ≡ 0 mod _BFS_SEED_MOD} — the crawl-depth /
    seed-distance computation of a frontier-limited crawler.

    Scale shape: each round is one co-partitioned join of the frontier
    against the edge list plus a min-aggregation on node id (the Pregel
    shape, like q_pagerank); the frontier unions stay keyed by node id,
    so a fixed-iteration BFS costs O(iters) shuffles of at most |V|
    rows, no driver-side state.
    """
    with_n, edges = _link_edges(spark, sf_dir)
    dist = (
        with_n.select("id")
        .filter(F.col("id") % _BFS_SEED_MOD == 0)
        .select("id", F.lit(0).cast("long").alias("hops"))
    )
    for _ in range(_BFS_ITERS):
        nxt = dist.join(edges, dist["id"] == edges["src"]).select(
            F.col("dst").alias("id"), (F.col("hops") + F.lit(1)).alias("hops")
        )
        dist = (
            dist.unionAll(nxt)
            .groupBy("id")
            .agg(F.min("hops").alias("hops"))
        )
    return dist.select(
        F.col("id").alias("doc_id"), F.col("hops").cast("long").alias("hops")
    )


def _bfs_sql() -> str:
    parts = [f"""WITH {_edges_sql()},
d0 AS (SELECT id, CAST(0 AS BIGINT) AS hops FROM nodes
       WHERE id % {_BFS_SEED_MOD} = 0)"""]
    for t in range(1, _BFS_ITERS + 1):
        parts.append(
            f""",
d{t} AS (
  SELECT id, min(h) AS hops FROM (
    SELECT id, hops AS h FROM d{t - 1}
    UNION ALL
    SELECT e.dst AS id, d.hops + 1 AS h
    FROM d{t - 1} d JOIN edges e ON d.id = e.src
  ) GROUP BY id
)"""
        )
    parts.append(f"""
SELECT id AS doc_id, hops FROM d{_BFS_ITERS}""")
    return "".join(parts)


SQL_BFS_HOPS = _bfs_sql()


_LPA_ITERS = 3


def q_label_propagation(spark, sf_dir):
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007) over the undirected link graph: every node adopts the most
    frequent label among its neighbors each round (ties → min label),
    _LPA_ITERS rounds from lbl0 = id.  Deterministic by construction
    (synchronous updates + total tie order), unlike the paper's
    randomized async schedule — determinism is what makes the result
    oracle-checkable and run-stable on a cluster.

    Scale shape: each round is one join of the edge list against the
    current labels, a (node, label) count aggregation, and a per-node
    top-1 window — all keyed by node id, Pregel-shaped like q_pagerank;
    no global sort, no driver state.
    """
    from pyspark.sql import Window

    with_n, edges = _link_edges(spark, sf_dir)
    und = edges.select(
        F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
    ).distinct()
    nbr = und.select(
        F.col("lo").alias("src"), F.col("hi").alias("dst")
    ).unionAll(und.select(F.col("hi").alias("src"), F.col("lo").alias("dst")))

    lbl = with_n.select("id", F.col("id").alias("lbl"))
    w = Window.partitionBy("id").orderBy(F.col("c").desc(), F.col("lbl").asc())
    for _ in range(_LPA_ITERS):
        msgs = nbr.join(lbl, nbr["src"] == lbl["id"]).select(
            F.col("dst").alias("id"), "lbl"
        )
        cnt = msgs.groupBy("id", "lbl").agg(F.count("*").alias("c"))
        pick = (
            cnt.select("id", "lbl", F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") == 1)
            .select("id", F.col("lbl").alias("new_lbl"))
        )
        lbl = lbl.join(pick, "id", "left").select(
            "id", F.coalesce("new_lbl", "lbl").alias("lbl")
        )
    return lbl.select(
        F.col("id").alias("doc_id"),
        F.col("lbl").cast("long").alias("community"),
    )


def _lpa_sql() -> str:
    parts = [f"""WITH {_edges_sql()},
und AS (
  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi FROM edges
),
nbr AS (
  SELECT lo AS src, hi AS dst FROM und
  UNION ALL SELECT hi AS src, lo AS dst FROM und
),
l0 AS (SELECT id, id AS lbl FROM nodes)"""]
    for t in range(1, _LPA_ITERS + 1):
        parts.append(
            f""",
c{t} AS (
  SELECT n.dst AS id, l.lbl, count(*) AS c
  FROM nbr n JOIN l{t - 1} l ON n.src = l.id GROUP BY n.dst, l.lbl
),
p{t} AS (
  SELECT id, lbl FROM (
    SELECT id, lbl,
           row_number() OVER (PARTITION BY id
                              ORDER BY c DESC, lbl ASC) AS rn
    FROM c{t}
  ) WHERE rn = 1
),
l{t} AS (
  SELECT l.id, coalesce(p.lbl, l.lbl) AS lbl
  FROM l{t - 1} l LEFT JOIN p{t} p ON l.id = p.id
)"""
        )
    parts.append(f"""
SELECT id AS doc_id, CAST(lbl AS BIGINT) AS community FROM l{_LPA_ITERS}""")
    return "".join(parts)


SQL_LABEL_PROPAGATION = _lpa_sql()


def q_anchor_text(spark, sf_dir):
    """Anchor-text aggregation per link target — the classic web-search
    signal (the reference's LinkEmitter S6 emits (url, anchor) pairs for
    exactly this).  Anchors are synthesized deterministically as the
    first two tokens of the linking page's text; per target we report
    in-link count and the most frequent anchor (ties → lexicographic).

    Scale shape: anchors are a narrow per-source projection joined onto
    the edge list by src (both keyed by node id), then one (dst, anchor)
    hash aggregation with map-side combine and a per-dst top-1 window —
    on a real web graph the window partitions by target url, which is
    exactly how anchor indexes are sharded.
    """
    from pyspark.sql import Window

    _, edges = _link_edges(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
    )
    anch = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("src"),
        F.array_join(F.slice(toks, 1, 2), " ").alias("anchor"),
    )
    ea = edges.join(anch, "src")
    cnt = ea.groupBy("dst", "anchor").agg(F.count("*").alias("c"))
    w = Window.partitionBy("dst").orderBy(F.col("c").desc(), F.col("anchor").asc())
    top = (
        cnt.select("dst", "anchor", "c", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
    )
    inl = ea.groupBy("dst").agg(F.count("*").cast("long").alias("n_inlinks"))
    return inl.join(top, "dst").select(
        F.col("dst").alias("doc_id"),
        "n_inlinks",
        F.col("anchor").alias("top_anchor"),
        F.col("c").cast("long").alias("anchor_n"),
    )


SQL_ANCHOR_TEXT = f"""WITH {_edges_sql()},
anch AS (
  SELECT doc_id AS src,
         array_to_string(list_slice(
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> ''), 1, 2), ' ') AS anchor
  FROM documents
),
ea AS (SELECT e.dst, a.anchor FROM edges e JOIN anch a ON e.src = a.src),
cnt AS (SELECT dst, anchor, count(*) AS c FROM ea GROUP BY dst, anchor),
top AS (
  SELECT dst, anchor, c FROM (
    SELECT dst, anchor, c,
           row_number() OVER (PARTITION BY dst
                              ORDER BY c DESC, anchor ASC) AS rn
    FROM cnt
  ) WHERE rn = 1
),
inl AS (SELECT dst, CAST(count(*) AS BIGINT) AS n_inlinks FROM ea GROUP BY dst)
SELECT i.dst AS doc_id, i.n_inlinks, t.anchor AS top_anchor,
       CAST(t.c AS BIGINT) AS anchor_n
FROM inl i JOIN top t ON i.dst = t.dst"""


def q_trustrank(spark, sf_dir):
    """TrustRank (Gyöngyi et al., VLDB'04): PageRank with teleportation
    restricted to a trusted seed set — the classic web-spam demotion
    signal.  Seeds are {id ≡ 0 mod _BFS_SEED_MOD}; r0 = teleport =
    1/|seeds| on seeds and 0 elsewhere; r' = (1-d)·teleport +
    d·Σ_in(r/outdeg), _PR_ITERS rounds, damping _PR_DAMP.

    Scale shape: identical to q_pagerank (one co-partitioned join + one
    hash agg per round, Pregel-shaped); the only additions are the seed
    indicator (a narrow expression) and |seeds| as a 1-row broadcast
    side plan — never a driver collect.
    """
    with_n, edges = _link_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    e = edges.join(deg, "src")
    seeds = with_n.select(
        "id",
        F.when(F.col("id") % _BFS_SEED_MOD == 0, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("t"),
    )
    ns = seeds.agg(F.sum("t").alias("ns"))
    base = seeds.crossJoin(F.broadcast(ns)).select(
        "id", (F.col("t") / F.col("ns")).alias("tele")
    )
    ranks = base.select("id", "tele", F.col("tele").alias("r"))
    for _ in range(_PR_ITERS):
        contribs = (
            ranks.join(e, ranks["id"] == e["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("deg")).alias("c"))
        )
        ranks = base.join(
            contribs, base["id"] == contribs["dst"], "left"
        ).select(
            "id",
            "tele",
            (
                F.lit(1.0 - _PR_DAMP) * F.col("tele")
                + F.lit(_PR_DAMP) * F.coalesce(F.col("c"), F.lit(0.0))
            ).alias("r"),
        )
    return ranks.select(
        F.col("id").alias("doc_id"), F.round("r", 8).alias("tr")
    )


def _trustrank_sql() -> str:
    parts = [f"""WITH {_edges_sql()},
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
e AS (SELECT edges.src, edges.dst, deg.deg FROM edges JOIN deg USING (src)),
seeds AS (
  SELECT id, CASE WHEN id % {_BFS_SEED_MOD} = 0
                  THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS t
  FROM nodes
),
ns AS (SELECT sum(t) AS ns FROM seeds),
base AS (SELECT id, t / ns.ns AS tele FROM seeds CROSS JOIN ns),
r0 AS (SELECT id, tele, tele AS r FROM base)"""]
    for t in range(1, _PR_ITERS + 1):
        parts.append(
            f""",
c{t} AS (SELECT e.dst AS id, sum(r.r / e.deg) AS c
         FROM r{t - 1} r JOIN e ON r.id = e.src GROUP BY e.dst),
r{t} AS (SELECT base.id, base.tele,
                CAST({1.0 - _PR_DAMP} AS DOUBLE) * base.tele
                + CAST({_PR_DAMP} AS DOUBLE) * coalesce(c{t}.c, 0) AS r
         FROM base LEFT JOIN c{t} ON base.id = c{t}.id)"""
        )
    parts.append(f"""
SELECT id AS doc_id, round(r, 8) AS tr FROM r{_PR_ITERS}""")
    return "".join(parts)


SQL_TRUSTRANK = _trustrank_sql()


# ---------------------------------------------------------------------------
# Attribute (language) homophily of the link graph (Newman, PRE 2003)
# ---------------------------------------------------------------------------


def q_lang_homophily(spark, sf_dir):
    """Newman's attribute assortativity (Phys. Rev. E 67, 2003 —
    eq. 2's discrete-attribute coefficient) for the doc LANGUAGE over
    directed links: r = (Σ_i e_ii − Σ_i a_i·b_i) / (1 − Σ_i a_i·b_i),
    where e_ii is the fraction of edges linking same-lang docs and
    a_i/b_i are each language's share of edge sources/targets — the
    "do pages link within their language?" number behind
    language-partitioned crawling and per-lang shard affinity
    (degree_assortativity is the structural twin; this is the
    attribute one).  Output: one row with edge count, same-lang edge
    count, observed fraction, expected fraction, and r.

    Determinism: e_ii and the marginals are integer edge counts; the
    coefficient is one expression over their ratios.  Scale shape: the
    edge table joins the |docs|-row lang column on both endpoints
    (co-keyed), then ONE |langs|²-bounded aggregate; the marginal
    product is a ≤|langs|-row reduce.
    """
    _, edges = _link_edges(spark, sf_dir)
    lang = _docs(spark, sf_dir).select("doc_id", "lang")
    lab = (
        edges.join(
            lang.select(F.col("doc_id").alias("src"),
                        F.col("lang").alias("ls")), "src"
        )
        .join(
            lang.select(F.col("doc_id").alias("dst"),
                        F.col("lang").alias("ld")), "dst"
        )
    )
    mix = lab.groupBy("ls", "ld").agg(
        F.count("*").cast("long").alias("n")
    )
    tot = mix.agg(F.sum("n").alias("_m"))
    a = mix.groupBy("ls").agg(F.sum("n").alias("na"))
    b = mix.groupBy("ld").agg(F.sum("n").alias("nb"))
    ab = (
        a.join(b, a["ls"] == b["ld"])
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("na") / F.col("_m")) * (F.col("nb") / F.col("_m"))
            ).alias("_eab")
        )
    )
    same = mix.filter(F.col("ls") == F.col("ld")).agg(
        F.sum("n").alias("_same")
    )
    return (
        tot.crossJoin(F.broadcast(same))
        .crossJoin(F.broadcast(ab))
        .select(
            F.col("_m").cast("long").alias("n_edges"),
            F.col("_same").cast("long").alias("n_same_lang"),
            _r4(F.col("_same") / F.col("_m")).alias("observed"),
            _r4("_eab").alias("expected"),
            _r4(
                (F.col("_same") / F.col("_m") - F.col("_eab"))
                / (F.lit(1.0) - F.col("_eab"))
            ).alias("assortativity"),
        )
    )


SQL_LANG_HOMOPHILY = f"""WITH {_edges_sql()},
lab AS (
  SELECT ds.lang AS ls, dd.lang AS ld
  FROM edges e
  JOIN documents ds ON e.src = ds.doc_id
  JOIN documents dd ON e.dst = dd.doc_id
),
mix AS (SELECT ls, ld, count(*) AS n FROM lab GROUP BY ls, ld),
tot AS (SELECT sum(n) AS m FROM mix),
a AS (SELECT ls, sum(n) AS na FROM mix GROUP BY ls),
b AS (SELECT ld, sum(n) AS nb FROM mix GROUP BY ld),
ab AS (
  SELECT sum((a.na * 1.0 / tot.m) * (b.nb * 1.0 / tot.m)) AS eab
  FROM a JOIN b ON a.ls = b.ld CROSS JOIN tot
),
same AS (SELECT sum(n) AS s FROM mix WHERE ls = ld)
SELECT CAST(tot.m AS BIGINT) AS n_edges,
       CAST(same.s AS BIGINT) AS n_same_lang,
       round(same.s * 1.0 / tot.m, 4) AS observed,
       round(ab.eab, 4) AS expected,
       round((same.s * 1.0 / tot.m - ab.eab) / (1.0 - ab.eab), 4)
         AS assortativity
FROM tot CROSS JOIN same CROSS JOIN ab"""


# ---------------------------------------------------------------------------
# Per-community conductance (the cut-quality companion to modularity)
# ---------------------------------------------------------------------------

_COND_TOPK = 20


def q_community_conductance(spark, sf_dir):
    """Per-community conductance φ(C) = cut(C) / min(vol(C), 2m−vol(C))
    (Shi-Malik / Kannan-Vempala-Vetta) for the {k} largest LPA
    communities — the PER-COMMUNITY cut quality that q_modularity's one
    global Q hides: a decent Q can coexist with individual communities
    that leak half their edges (φ → 1) and would make terrible crawl
    partitions or host-crowding groups; low φ identifies the ones safe
    to treat as units.

    Determinism: cut, volume and m are exact integer counts over the
    undirected edge set; φ is the single rounded division; ties in the
    size-ranked cut break on community id.  Scale shape: labels come
    from the same Pregel-shaped LPA rounds; conductance costs ONE
    edge-to-label join (each endpoint labeled, same node-keyed shuffle
    as modularity), a per-community aggregate, and a top-{k} rank over
    the community relation.
    """.format(k=_COND_TOPK)
    from pyspark.sql import Window

    lbl = q_label_propagation(spark, sf_dir).select(
        F.col("doc_id").alias("id"), "community"
    )
    _with_n, edges = _link_edges(spark, sf_dir)
    und = edges.select(
        F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
    ).distinct()
    m_edges = und.agg(F.count("*").cast("long").alias("_m"))
    la = lbl.select(F.col("id").alias("lo"), F.col("community").alias("ca"))
    lb = lbl.select(F.col("id").alias("hi"), F.col("community").alias("cb"))
    tagged = und.join(la, "lo").join(lb, "hi")
    # vol(C) = sum of degrees in C: every edge endpoint in C contributes 1
    vol = (
        tagged.select(F.col("ca").alias("community"))
        .unionAll(tagged.select(F.col("cb").alias("community")))
        .groupBy("community").agg(F.count("*").cast("long").alias("vol"))
    )
    cut = (
        tagged.filter(F.col("ca") != F.col("cb"))
        .select(F.explode(F.array("ca", "cb")).alias("community"))
        .groupBy("community").agg(F.count("*").cast("long").alias("cut"))
    )
    nsz = lbl.groupBy("community").agg(
        F.count("*").cast("long").alias("n_nodes")
    )
    per = (
        nsz.join(vol, "community", "left")
        .join(cut, "community", "left")
        .select(
            "community", "n_nodes",
            F.coalesce("vol", F.lit(0)).alias("vol"),
            F.coalesce("cut", F.lit(0)).alias("cut"),
        )
        .filter(F.col("vol") > 0)
    )
    w = Window.orderBy(F.col("n_nodes").desc(), F.col("community").asc())
    return (
        per.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= _COND_TOPK)
        .crossJoin(F.broadcast(m_edges))
        .select(
            "community", "n_nodes", "vol", "cut",
            _r4(
                F.col("cut")
                / F.least(F.col("vol"), 2 * F.col("_m") - F.col("vol"))
            ).alias("conductance"),
        )
        .orderBy(F.col("n_nodes").desc(), F.col("community").asc())
    )


def _conductance_sql() -> str:
    lpa_body = SQL_LABEL_PROPAGATION.split("SELECT id AS doc_id")[0]
    return f"""{lpa_body}, mm AS (SELECT count(*) AS m FROM und),
tagged AS (
  SELECT la.lbl AS ca, lb.lbl AS cb
  FROM und
  JOIN l{_LPA_ITERS} la ON und.lo = la.id
  JOIN l{_LPA_ITERS} lb ON und.hi = lb.id
),
vol AS (
  SELECT community, count(*) AS vol FROM (
    SELECT ca AS community FROM tagged
    UNION ALL SELECT cb FROM tagged
  ) GROUP BY community
),
cut AS (
  SELECT community, count(*) AS cut FROM (
    SELECT ca AS community FROM tagged WHERE ca <> cb
    UNION ALL SELECT cb FROM tagged WHERE ca <> cb
  ) GROUP BY community
),
nsz AS (SELECT lbl AS community, count(*) AS n_nodes
        FROM l{_LPA_ITERS} GROUP BY lbl),
per AS (
  SELECT n.community, n.n_nodes,
         coalesce(v.vol, 0) AS vol, coalesce(c.cut, 0) AS cut
  FROM nsz n
  LEFT JOIN vol v ON n.community = v.community
  LEFT JOIN cut c ON n.community = c.community
  WHERE coalesce(v.vol, 0) > 0
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY n_nodes DESC, community ASC)
            AS rk
  FROM per
)
SELECT CAST(community AS BIGINT) AS community,
       CAST(n_nodes AS BIGINT) AS n_nodes, CAST(vol AS BIGINT) AS vol,
       CAST(cut AS BIGINT) AS cut,
       round(cut * 1.0 / least(vol, 2 * mm.m - vol), 4) AS conductance
FROM ranked CROSS JOIN mm
WHERE rk <= {_COND_TOPK} ORDER BY n_nodes DESC, community ASC"""


SQL_COMMUNITY_CONDUCTANCE = _conductance_sql()
