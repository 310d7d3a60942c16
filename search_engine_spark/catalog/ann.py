"""ANN and embedding catalog entries: brute-force, sign-LSH, IVF, IVF x int8
and product-quantized search with measured recall, semantic dedup, label
centroids, hard negatives, hubness, anisotropy, drift, the top principal
component and reciprocal-rank fusion of the BM25 and ANN lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.catalog.ir import _BM25_CORE_SQL, _r4, _scored


def q_ann_cosine_topk(spark, sf_dir):
    """Similarity search: brute-force cosine top-10 neighbors of vec 0
    (F.zip_with dot product + aggregate norms, all JVM-side)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )  # accumulate in float64 on both sides (oracle casts to DOUBLE[])
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    cand = emb.filter(F.col("vec_id") != 0)
    dot = F.aggregate(
        F.zip_with("embedding", "qv", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return (
        cand.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            _r4(dot / (nrm("embedding") * nrm("qv"))).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(10)
    )


SQL_ANN_COSINE_TOPK = """WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
), q AS (SELECT embedding AS qv FROM emb WHERE vec_id = 0)
SELECT e.vec_id AS vec_id,
       round(list_dot_product(e.embedding, q.qv)
             / (sqrt(list_dot_product(e.embedding, e.embedding))
                * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos
FROM emb e CROSS JOIN q WHERE e.vec_id <> 0
ORDER BY cos DESC, vec_id ASC LIMIT 10"""


_NEARDUP_LSH_BITS = 8


def q_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate candidates via SIGN-LSH bucketing
    (random-hyperplane LSH with the coordinate axes as hyperplanes): each
    vector hashes to the sign pattern of its first 8 dims, candidate
    pairs are generated ONLY within a bucket, then scored exactly.

    Scale shape: 2^bits buckets bound the pair join at ~n²/2^bits — the
    bucket key is a pure column expression, the join is a hash join on
    the key, no all-pairs product.  Near-dups (cos→1) agree on sign bits
    with prob (1−θ/π)^bits, so recall stays high exactly where dedup
    needs it; bits scale with log(n) at 10^12 vectors (multi-probe /
    band-OR for recall).  The exact all-pairs variant remains in
    tests/test_driver_queries-style baselines, not in the entry.
    """
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    bucket = None
    for d in range(_NEARDUP_LSH_BITS):
        bit = (F.element_at("e", d + 1) > 0).cast("int") * (1 << d)
        bucket = bit if bucket is None else bucket + bit
    nrm = F.sqrt(F.aggregate("e", F.lit(0.0), lambda acc, x: acc + x * x))
    emb = emb.select("vec_id", "e", nrm.alias("n"), bucket.alias("bk"))
    a = emb.select(F.col("vec_id").alias("va"), F.col("e").alias("ea"),
                   F.col("n").alias("na"), F.col("bk").alias("bka"))
    b = emb.select(F.col("vec_id").alias("vb"), F.col("e").alias("eb"),
                   F.col("n").alias("nb"), F.col("bk").alias("bkb"))
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        a.join(b, (F.col("bka") == F.col("bkb")) & (F.col("va") < F.col("vb")))
        .select("va", "vb", _r4(dot / (F.col("na") * F.col("nb"))).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("va").asc(), F.col("vb").asc())
        .limit(20)
    )


SQL_EMBED_NEARDUP = f"""WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n,
         ({" + ".join(
             f"(CASE WHEN embedding[{d + 1}] > 0 THEN {1 << d} ELSE 0 END)"
             for d in range(_NEARDUP_LSH_BITS)
         )}) AS bk
  FROM embeddings
)
SELECT a.vec_id AS va, b.vec_id AS vb,
       round(list_dot_product(a.e, b.e) / (a.n * b.n), 4) AS cos
FROM emb a JOIN emb b ON a.bk = b.bk AND a.vec_id < b.vec_id
ORDER BY cos DESC, va ASC, vb ASC LIMIT 20"""


def q_label_centroids(spark, sf_dir):
    """Per-class embedding centroids + intra-class cohesion (mean cosine
    of members to their centroid) — the class-balance / cluster-quality
    readout of a labeled embedding table.  Two map-side-combined
    aggregations; centroids rejoin BROADCAST (n_labels rows)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    dims = emb.select("vec_id", "label", F.posexplode("e").alias("dim", "v"))
    cent = (
        dims.groupBy("label", "dim").agg(F.avg("v").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s["c"],
            ).alias("cent")
        )
    )
    dot = F.aggregate(
        F.zip_with("e", "cent", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    nrm = lambda col: F.sqrt(
        F.aggregate(col, F.lit(0.0), lambda a, x: a + x * x)
    )
    return (
        emb.join(F.broadcast(cent), "label")
        .select(
            "label",
            (dot / (nrm(F.col("e")) * nrm(F.col("cent")))).alias("_cos"),
            nrm(F.col("cent")).alias("_cn"),
        )
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            _r4(F.min("_cn")).alias("centroid_norm"),
            _r4(F.avg("_cos")).alias("mean_cos"),
        )
    )


SQL_LABEL_CENTROIDS = """WITH dims AS (
  SELECT vec_id, label, u.v AS v, u.dim AS dim
  FROM embeddings,
       LATERAL (SELECT unnest(embedding::DOUBLE[]) AS v,
                       generate_subscripts(embedding::DOUBLE[], 1) AS dim) u
),
cent AS (
  SELECT label, list(c ORDER BY dim) AS cent
  FROM (SELECT label, dim, avg(v) AS c FROM dims GROUP BY label, dim)
  GROUP BY label
),
scored AS (
  SELECT e.label,
         list_dot_product(e.embedding::DOUBLE[], c.cent)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(c.cent, c.cent))) AS cos,
         sqrt(list_dot_product(c.cent, c.cent)) AS cn
  FROM embeddings e JOIN cent c ON e.label = c.label
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       round(min(cn), 4) AS centroid_norm,
       round(avg(cos), 4) AS mean_cos
FROM scored GROUP BY label"""


_IVF_K = 8


def _ivf_model(spark, sf_dir):
    """(assignments, centroids): every vector's trained-IVF cell plus the
    trained centroid table — the shared front half of q_ann_ivf_topk,
    q_ann_ivf_recall and q_semantic_dedup.  K=8 cells seeded
    from fixed vec_ids (1..K), ONE declarative Lloyd refinement (assign
    to nearest seed → element-wise mean per cell), re-assign.

    Scale shape: the train set is a tiny broadcast both times (K rows),
    assignment is a narrow map over the corpus, the centroid mean is one
    (cell, dim) shuffle.  At 10^12 vectors K grows to ~√n cells trained
    on a sample, same plan shape.

    Centroid coordinates are rounded to 6 decimals on BOTH engines so the
    discrete assignment never flips on cross-engine float-sum ulps."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    l2 = _l2

    def assign(vecs, cents, cvec):
        # argmin via min_by with map-side partial aggregation: all K copies
        # of a vector live in the same task after the broadcast crossJoin,
        # so the hash aggregate collapses n×K rows to n BEFORE the shuffle —
        # unlike a Window.partitionBy(vec_id), which would shuffle all n×K.
        # Tie-break (dist, cl) lexicographic == the old window's ordering.
        return (
            vecs.crossJoin(F.broadcast(cents))
            .withColumn("_dist", l2("e", cvec))
            .groupBy("vec_id")
            .agg(F.min_by(F.struct("cl", "e"),
                          F.struct("_dist", "cl")).alias("_m"))
            .select("vec_id", F.col("_m.cl").alias("cl"),
                    F.col("_m.e").alias("e"))
        )

    seeds = emb.filter(F.col("vec_id").between(1, _IVF_K)).select(
        F.col("vec_id").cast("int").alias("cl"), F.col("e").alias("sv")
    )
    a1 = assign(emb, seeds, "sv")
    cents = (
        a1.select("cl", F.posexplode("e").alias("i", "v"))
        .groupBy("cl", "i")
        .agg(F.round(F.avg("v"), 6).alias("cv"))
        .groupBy("cl")
        .agg(F.sort_array(F.collect_list(F.struct("i", "cv"))).alias("_s"))
        .select("cl", F.col("_s.cv").alias("cv"))
    )
    # `nrm` is computed ONCE per vector here (O(n·dim) total) so every
    # downstream cosine — IVF probe, SemDeDup pair scoring — multiplies two
    # precomputed scalars instead of re-folding O(dim) per candidate PAIR;
    # at 10^12 vectors the pair-side fold would dominate the flop count.
    final = assign(emb, cents, "cv").withColumn(
        "nrm",
        F.sqrt(F.aggregate("e", F.lit(0.0), lambda acc, x: acc + x * x)),
    )
    return final, cents


def _l2(a, b):
    """sqrt-L2 over two array<double> columns, mirroring DuckDB
    list_distance."""
    return F.sqrt(F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x,
    ))


def _ivf_assignments(spark, sf_dir) -> DataFrame:
    """(vec_id, cl, e, nrm): the assignment half of _ivf_model."""
    return _ivf_model(spark, sf_dir)[0]


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN with TRAINED centroids (_ivf_assignments), single-probe
    search of only the query's cell — the probe touches ~n/K vectors;
    brute force (q_ann_cosine_topk) stays as the accuracy baseline."""
    final = _ivf_assignments(spark, sf_dir)

    q = final.filter(F.col("vec_id") == 0).select(
        F.col("cl").alias("qcl"), F.col("e").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    dot = F.aggregate(
        F.zip_with("e", "qv", lambda a, b: a * b), F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        final.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q), F.col("cl") == F.col("qcl"))
        .select("vec_id",
                _r4(dot / (F.col("nrm") * F.col("qnrm"))).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(10)
    )


_IVF_ASSIGN_SQL = f"""emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
seeds AS (SELECT vec_id::INT AS cl, e AS sv FROM emb
          WHERE vec_id BETWEEN 1 AND {_IVF_K}),
a1 AS (
  SELECT vec_id, cl, e, row_number() OVER (
    PARTITION BY vec_id ORDER BY list_distance(e, sv) ASC, cl ASC) AS rn
  FROM emb CROSS JOIN seeds
),
assigned AS (SELECT vec_id, cl, e FROM a1 WHERE rn = 1),
dims AS (SELECT cl, generate_subscripts(e, 1) AS i, unnest(e) AS v
         FROM assigned),
cmeans AS (SELECT cl, i, round(avg(v), 6) AS cv FROM dims GROUP BY cl, i),
cents AS (SELECT cl, list(cv ORDER BY i) AS cv FROM cmeans GROUP BY cl),
a2 AS (
  SELECT vec_id, cl, e, row_number() OVER (
    PARTITION BY vec_id ORDER BY list_distance(e, cv) ASC, cl ASC) AS rn
  FROM emb CROSS JOIN cents
),
final AS (SELECT vec_id, cl, e,
                 sqrt(list_dot_product(e, e)) AS nrm
          FROM a2 WHERE rn = 1)"""

SQL_ANN_IVF_TOPK = f"""WITH {_IVF_ASSIGN_SQL},
q AS (SELECT cl AS qcl, e AS qv, nrm AS qnrm FROM final WHERE vec_id = 0)
SELECT f.vec_id AS vec_id,
       round(list_dot_product(f.e, q.qv) / (f.nrm * q.qnrm), 4) AS cos
FROM final f CROSS JOIN q
WHERE f.cl = q.qcl AND f.vec_id <> 0
ORDER BY cos DESC, vec_id ASC LIMIT 10"""


_RECALL_NQ = 20     # query vectors: vec_ids 0.._RECALL_NQ-1
_RECALL_K = 10      # recall@K


def ivf_recall(spark, sf_dir, nprobe=1):
    """Per-query recall@K of nprobe-cell IVF search against the exact
    brute-force top-K, over _RECALL_NQ query vectors drawn from the
    corpus (self excluded) — the accuracy/probe trade-off an ANN user
    measures before trusting the index at scale.

    Scale shape: queries × centroids is a broadcast crossJoin (nq × K
    rows), the probe candidate set is ~nprobe·n/K per query, and both
    top-K ranks are windowed per query — no global sort.  The exact side
    is O(nq·n) by definition (it IS the ground truth); at 10^12 vectors
    you run it once over a query sample, which is what this operator is.
    At nprobe=K the probe set is the whole corpus, so recall == 1.0
    identically — asserted in tests."""
    from pyspark.sql import Window

    final, cents = _ivf_model(spark, sf_dir)
    qs = final.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    dot = F.aggregate(
        F.zip_with("e", "qv", lambda a, b: a * b), F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = F.round(dot / (F.col("nrm") * F.col("qnrm")), 4)
    w = Window.partitionBy("qid").orderBy(
        F.col("_cos").desc(), F.col("vec_id").asc()
    )

    def topk(cand):
        return (
            cand.filter(F.col("vec_id") != F.col("qid"))
            .withColumn("_cos", cos)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= _RECALL_K)
            .select("qid", "vec_id")
        )

    exact = topk(final.crossJoin(F.broadcast(qs)))
    # probe set: the nprobe nearest trained centroids per query (same
    # (dist, cl) tie-break as assignment, so nprobe=1 ≡ the query's own
    # cell and matches q_ann_ivf_topk's single-probe semantics)
    probes = (
        qs.crossJoin(F.broadcast(cents))
        .withColumn("_d", _l2("qv", "cv"))
        .withColumn("_pr", F.row_number().over(
            Window.partitionBy("qid").orderBy(
                F.col("_d").asc(), F.col("cl").asc())))
        .filter(F.col("_pr") <= nprobe)
        .select("qid", "cl", "qv", "qnrm")
    )
    ivf = topk(final.join(F.broadcast(probes), "cl"))
    hits = (
        ivf.join(exact, ["qid", "vec_id"])
        .groupBy("qid").agg(F.count("*").alias("_h"))
    )
    return (
        qs.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.round(F.coalesce(F.col("_h"), F.lit(0)).cast("double")
                    / _RECALL_K, 4).alias("recall"),
        )
        .orderBy("qid")
    )


def q_ann_ivf_recall(spark, sf_dir):
    """recall@10 of the single-probe trained IVF (the configuration
    q_ann_ivf_topk serves) against the exact brute-force top-10."""
    return ivf_recall(spark, sf_dir, nprobe=1)


SQL_ANN_IVF_RECALL = f"""WITH {_IVF_ASSIGN_SQL},
qs AS (SELECT vec_id AS qid, cl AS qcl, e AS qv, nrm AS qnrm
       FROM final WHERE vec_id < {_RECALL_NQ}),
exact AS (
  SELECT q.qid, f.vec_id, row_number() OVER (PARTITION BY q.qid
    ORDER BY round(list_dot_product(f.e, q.qv) / (f.nrm * q.qnrm), 4) DESC,
             f.vec_id ASC) AS rn
  FROM final f CROSS JOIN qs q WHERE f.vec_id <> q.qid
),
ivf AS (
  SELECT q.qid, f.vec_id, row_number() OVER (PARTITION BY q.qid
    ORDER BY round(list_dot_product(f.e, q.qv) / (f.nrm * q.qnrm), 4) DESC,
             f.vec_id ASC) AS rn
  FROM final f JOIN qs q ON f.cl = q.qcl WHERE f.vec_id <> q.qid
),
hits AS (
  SELECT e.qid, count(*) AS h
  FROM (SELECT qid, vec_id FROM exact WHERE rn <= {_RECALL_K}) e
  JOIN (SELECT qid, vec_id FROM ivf WHERE rn <= {_RECALL_K}) i
    ON e.qid = i.qid AND e.vec_id = i.vec_id
  GROUP BY e.qid
)
SELECT q.qid AS qid,
       round(coalesce(h, 0)::DOUBLE / {_RECALL_K}, 4) AS recall
FROM qs q LEFT JOIN hits ON q.qid = hits.qid
ORDER BY qid"""


# Cosine threshold above which two vectors in the same IVF cell count as
# semantic duplicates.  The driver's synthetic embeddings are near-random
# (max pairwise cos ≈ 0.51), so the driver-scale constant sits at 0.45 to
# exercise real clusters; a production run over model embeddings uses
# ~0.95+ — the plan is identical, only this literal changes.
_SEMDEDUP_COS = 0.45
# max members per IVF cell before the pair join: larger cells are split
# into ceil(m/cap) deterministic sub-buckets (vec_id % n_sub) so no single
# task ever materializes more than ~cap²/2 candidate pairs
_SEMDEDUP_CELL_CAP = 200


def _semantic_pairs(spark, sf_dir):
    """Candidate (da, db) pairs for SemDeDup: cos ≥ threshold within one
    IVF cell, with a HOT-CELL CAP — a cell with more than
    _SEMDEDUP_CELL_CAP members is deterministically split into
    ceil(m / cap) sub-buckets (vec_id % n_sub) and pairs are generated
    only within a (cell, sub-bucket), so the per-task pair count is
    bounded by ~cap²/2 no matter how degenerate the embedding
    distribution is (the same unbounded-hot-key failure _LSH_BAND_CAP and
    _SIMHASH_BAND_CAP guard against).  The trade is recall, not safety: a
    boilerplate cluster of M ≫ cap near-identical vectors collapses to
    one representative PER SUB-BUCKET (n_sub ≈ M/cap keepers instead of
    1) rather than being skipped outright.  Norms come precomputed from
    _ivf_assignments — no per-pair O(dim) fold."""
    from pyspark.sql import Window

    final = _ivf_assignments(spark, sf_dir)
    # window-count over the cell key sizes each cell; n_sub = ceil(m/cap)
    # derives the split factor row-locally (no driver round-trip)
    sub = (
        final.withColumn("_m", F.count("*").over(Window.partitionBy("cl")))
        .withColumn(
            "_sb",
            F.col("vec_id")
            % F.ceil(F.col("_m") / F.lit(float(_SEMDEDUP_CELL_CAP))),
        )
    )
    a = sub.select("cl", "_sb", F.col("vec_id").alias("da"),
                   F.col("e").alias("_ea"), F.col("nrm").alias("_na"))
    b = sub.select("cl", "_sb", F.col("vec_id").alias("db"),
                   F.col("e").alias("_eb"), F.col("nrm").alias("_nb"))
    dot = F.aggregate(
        F.zip_with("_ea", "_eb", lambda x, y: x * y), F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, ["cl", "_sb"])
        .filter(F.col("da") < F.col("db"))
        .withColumn("_cos", F.round(dot / (F.col("_na") * F.col("_nb")), 4))
        .filter(F.col("_cos") >= _SEMDEDUP_COS)
        .select("da", "db")
    )


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic near-dedup KEEP LIST over the embedding
    table: assign every vector to a trained IVF cell (_ivf_assignments),
    generate candidate pairs ONLY within a cell (cos ≥ threshold, hot
    cells sub-bucketed — see _semantic_pairs), consolidate with connected
    components, keep the min-vec_id representative per cluster plus every
    unpaired vector.

    Scale shape: the quadratic is bounded per (cell, sub-bucket) —
    ≤ _SEMDEDUP_CELL_CAP members each, even for adversarial boilerplate
    clusters; K ~ √n cells at 10^12 vectors, trained on a sample.  The
    pair graph is orders of magnitude smaller than the corpus, and the
    final anti-join's right side is only the dropped members.  This is
    the embedding-space twin of `dedup_keep` (MinHash-LSH on text)."""
    from search_engine_spark.operators.components import connected_components

    pairs = _semantic_pairs(spark, sf_dir)
    clusters = connected_components(pairs)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster")).select(
        F.col("doc_id").alias("vec_id")
    )
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id")
        .join(drop, "vec_id", "left_anti")
        .select("vec_id")
    )


SQL_SEMANTIC_DEDUP = f"""WITH RECURSIVE {_IVF_ASSIGN_SQL},
sized AS (
  SELECT vec_id, cl, e, nrm, count(*) OVER (PARTITION BY cl) AS m
  FROM final
),
sub AS (
  SELECT vec_id, cl, e, nrm,
         vec_id % CAST(ceil(m / {_SEMDEDUP_CELL_CAP}.0) AS BIGINT) AS sb
  FROM sized
),
pairs AS (
  SELECT a.vec_id AS da, b.vec_id AS db
  FROM sub a JOIN sub b
    ON a.cl = b.cl AND a.sb = b.sb AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4)
        >= {_SEMDEDUP_COS}
),
edges AS (
  SELECT da AS src, db AS dst FROM pairs
  UNION ALL SELECT db, da FROM pairs
),
closure AS (
  SELECT src AS doc, src AS reach FROM edges
  UNION
  SELECT c.doc, e.dst FROM closure c JOIN edges e ON e.src = c.reach
),
clusters AS (SELECT doc, min(reach) AS cluster FROM closure GROUP BY doc)
SELECT v.vec_id AS vec_id FROM embeddings v
WHERE v.vec_id NOT IN (SELECT doc FROM clusters WHERE cluster <> doc)"""


# ---------------------------------------------------------------------------
# fused IVF × int8 ANN: ADC scoring restricted to the query's nprobe cells
# ---------------------------------------------------------------------------

_IVF_NPROBE = 2     # serving default for the fused entry


def ivf_quantized_recall(spark, sf_dir, nprobe=_IVF_NPROBE):
    """The 10^12-vector SERVING shape, fused from the two measured halves:
    IVF cell routing (`ivf_recall`) restricted to the query's ``nprobe``
    nearest trained centroids, scoring ONLY the stored int8 codes in
    those cells by asymmetric distance (ADC — float query against
    dequantized codes, `q_ann_quantized_recall`'s metric).  Per-query
    recall@_RECALL_K against the exact float brute-force top-K.

    Why this composition is the scale answer: the probe scan touches
    ~nprobe/K of the corpus AND each scanned vector is 4x smaller
    (int8), so a probe costs nprobe/(4K) of a float brute-force pass;
    recall is the measured product of the two known losses.  At
    nprobe == _IVF_K the cell routing is exhaustive, so the fused recall
    EQUALS brute-force ADC recall exactly (asserted in tests), and it is
    monotone in nprobe under the shared (cos desc, vec_id) comparator.

    Scale shape: centroids and the nq-row query sample are broadcast,
    candidates are cell-routed (never a full scan), both top-K ranks are
    windows PARTITIONED BY query — no global sort; the exact side is the
    ground truth by definition and runs over the query sample only."""
    from pyspark.sql import Window

    final, cents = _ivf_model(spark, sf_dir)
    sc = F.greatest(
        F.array_max(F.transform("e", lambda x: F.abs(x))), F.lit(1e-12)
    ) / F.lit(127.0)
    base = (
        final.withColumn("_sc", sc)
        .withColumn(
            "dq",
            F.transform(
                "e", lambda x: F.floor(x / F.col("_sc")) * F.col("_sc")
            ),
        )
        .withColumn(
            "dnrm",
            F.greatest(
                F.sqrt(F.aggregate(
                    F.col("dq"), F.lit(0.0), lambda a, x: a + x * x)),
                F.lit(1e-12),
            ),
        )
    )
    qs = base.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("_cos").desc(), F.col("vec_id").asc()
    )

    def topk(cand, vec_col, nrm_col):
        dot = F.aggregate(
            F.zip_with(vec_col, "qv", lambda a, b: a * b), F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return (
            cand.filter(F.col("vec_id") != F.col("qid"))
            .withColumn(
                "_cos", F.round(dot / (F.col(nrm_col) * F.col("qnrm")), 4)
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= _RECALL_K)
            .select("qid", "vec_id")
        )

    exact = topk(base.crossJoin(F.broadcast(qs)), "e", "nrm")
    probes = (
        qs.crossJoin(F.broadcast(cents))
        .withColumn("_d", _l2("qv", "cv"))
        .withColumn("_pr", F.row_number().over(
            Window.partitionBy("qid").orderBy(
                F.col("_d").asc(), F.col("cl").asc())))
        .filter(F.col("_pr") <= nprobe)
        .select("qid", "cl", "qv", "qnrm")
    )
    fused = topk(base.join(F.broadcast(probes), "cl"), "dq", "dnrm")
    hits = (
        fused.join(exact, ["qid", "vec_id"])
        .groupBy("qid").agg(F.count("*").alias("_h"))
    )
    return (
        qs.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.round(F.coalesce(F.col("_h"), F.lit(0)).cast("double")
                    / _RECALL_K, 4).alias("recall"),
        )
        .orderBy("qid")
    )


def q_ann_ivf_quantized(spark, sf_dir):
    """recall@10 of the fused IVF(nprobe=_IVF_NPROBE) × int8-ADC search
    against the exact float top-10 — see ivf_quantized_recall."""
    return ivf_quantized_recall(spark, sf_dir, nprobe=_IVF_NPROBE)


SQL_ANN_IVF_QUANTIZED = f"""WITH {_IVF_ASSIGN_SQL},
st AS (
  SELECT vec_id, cl, e, nrm,
         greatest(list_aggregate(list_transform(e, x -> abs(x)), 'max'),
                  1e-12) / 127.0 AS sc
  FROM final
),
b AS (
  SELECT vec_id, cl, e, nrm,
         list_transform(e, x -> floor(x / sc) * sc) AS dq
  FROM st
),
n AS (
  SELECT vec_id, cl, e, nrm, dq,
         greatest(sqrt(list_dot_product(dq, dq)), 1e-12) AS dnrm
  FROM b
),
qs AS (SELECT vec_id AS qid, e AS qv, nrm AS qnrm
       FROM n WHERE vec_id < {_RECALL_NQ}),
probes AS (
  SELECT qid, cl FROM (
    SELECT q.qid, c.cl, row_number() OVER (PARTITION BY q.qid
      ORDER BY list_distance(q.qv, c.cv) ASC, c.cl ASC) AS pr
    FROM qs q CROSS JOIN cents c) WHERE pr <= {_IVF_NPROBE}
),
exact AS (
  SELECT q.qid, f.vec_id, row_number() OVER (PARTITION BY q.qid
    ORDER BY round(list_dot_product(f.e, q.qv) / (f.nrm * q.qnrm), 4) DESC,
             f.vec_id ASC) AS rn
  FROM n f CROSS JOIN qs q WHERE f.vec_id <> q.qid
),
fused AS (
  SELECT q.qid, f.vec_id, row_number() OVER (PARTITION BY q.qid
    ORDER BY round(list_dot_product(f.dq, q.qv) / (f.dnrm * q.qnrm), 4) DESC,
             f.vec_id ASC) AS rn
  FROM n f JOIN probes p ON f.cl = p.cl JOIN qs q ON q.qid = p.qid
  WHERE f.vec_id <> q.qid
),
hits AS (
  SELECT e.qid, count(*) AS h
  FROM (SELECT qid, vec_id FROM exact WHERE rn <= {_RECALL_K}) e
  JOIN (SELECT qid, vec_id FROM fused WHERE rn <= {_RECALL_K}) i
    ON e.qid = i.qid AND e.vec_id = i.vec_id
  GROUP BY e.qid
)
SELECT q.qid AS qid,
       round(coalesce(h, 0)::DOUBLE / {_RECALL_K}, 4) AS recall
FROM qs q LEFT JOIN hits ON q.qid = hits.qid
ORDER BY qid"""


_RRF_K = 60          # the standard RRF constant (Cormack et al., SIGIR'09)
_RRF_DEPTH = 50      # fuse the top-50 of each list


def q_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of the lexical BM25 list
    (term 'merge' over documents) and the semantic cosine list (query
    vector 0 over embeddings), rrf(d) = Σ_lists 1/(_RRF_K + rank_d).

    Scale shape: each list is cut to its top-_RRF_DEPTH FIRST via a
    distributed TakeOrdered (never a global sort), so the rank windows
    and the full-outer fusion join run over 2×50 rows regardless of
    corpus size — the fusion cost is O(k), all the heavy lifting stays
    in the two underlying retrieval plans.  Ranks are assigned on
    4-decimal-rounded scores with id tie-breaks so both engines agree.
    """
    from pyspark.sql import Window

    lex50 = (
        _scored(spark, sf_dir, ["merge"])
        .select("doc_id", _r4("score").alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(_RRF_DEPTH)
    )
    wl = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    lex = lex50.select("doc_id", F.row_number().over(wl).alias("lr"))

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    dot = F.aggregate(
        F.zip_with("embedding", "qv", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    sem50 = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            _r4(dot / (nrm("embedding") * nrm("qv"))).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("doc_id").asc())
        .limit(_RRF_DEPTH)
    )
    ws = Window.orderBy(F.col("cos").desc(), F.col("doc_id").asc())
    sem = sem50.select("doc_id", F.row_number().over(ws).alias("sr"))

    one = F.lit(1.0)
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(one / (F.col("lr") + F.lit(_RRF_K)), F.lit(0.0))
                + F.coalesce(one / (F.col("sr") + F.lit(_RRF_K)), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(10)
    )


SQL_RRF_FUSION = f"""WITH {_BM25_CORE_SQL},
lex50 AS (
  SELECT doc_id, round(score, 4) AS score FROM scored WHERE term = 'merge'
  ORDER BY score DESC, doc_id ASC LIMIT {_RRF_DEPTH}
),
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS lr
  FROM lex50
),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
qv AS (SELECT embedding AS v FROM emb WHERE vec_id = 0),
sem50 AS (
  SELECT e.vec_id AS doc_id,
         round(list_dot_product(e.embedding, q.v)
               / (sqrt(list_dot_product(e.embedding, e.embedding))
                  * sqrt(list_dot_product(q.v, q.v))), 4) AS cos
  FROM emb e CROSS JOIN qv q WHERE e.vec_id <> 0
  ORDER BY cos DESC, doc_id ASC LIMIT {_RRF_DEPTH}
),
sem AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS sr
  FROM sem50
)
SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
       round(coalesce(CAST(1 AS DOUBLE) / (lex.lr + {_RRF_K}), 0)
             + coalesce(CAST(1 AS DOUBLE) / (sem.sr + {_RRF_K}), 0), 6) AS rrf
FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
ORDER BY rrf DESC, doc_id ASC LIMIT 10"""


# ---------------------------------------------------------------------------
# product quantization (PQ) — codebooks per subspace, ADC recall
# ---------------------------------------------------------------------------

_PQ_M = 16    # subspaces
_PQ_D = 4     # dims per subspace (64 / _PQ_M)
_PQ_KS = 16   # codes per subspace codebook → 4-bit codes, 32x compression


def q_ann_pq_recall(spark, sf_dir):
    """Product quantization (Jégou et al., PAMI 2011): split each vector
    into _PQ_M subvectors, train a _PQ_KS-entry codebook per subspace
    (seeded from fixed vec_ids, ONE Lloyd refinement — the same
    deterministic training as the IVF model), store each vector as
    _PQ_M small codes, and search with ADC: per query, ONE
    (_PQ_M x _PQ_KS)-entry lookup table of query-subvector·centroid
    dots, so scoring a candidate is _PQ_M table adds — no float vector
    is ever touched at query time.  Reports recall@_RECALL_K of the
    PQ-ADC ranking vs the exact float top-K over _RECALL_NQ queries —
    the accuracy sheet for the 64x memory cut (64 floats → 4 bytes).

    Scale shape: codebooks are CONSTANT-size (M·ks centroids) and
    broadcast both during assignment and search; the per-query LUT is
    M·ks rows built from a broadcast query sample; the ADC pass scans
    the codes table (M small ints per vector) with a broadcast LUT join
    and map-side-combinable per-(query,vec) sums; both top-K ranks are
    windows partitioned by query — no global sort.  At 10^12 vectors
    the candidate scan composes with IVF cell routing exactly as
    ann_ivf_quantized does for the int8 index.

    Measured honestly: on this ISOTROPIC synthetic corpus 4-bit PQ
    lands ~0.48 mean recall@10 (vs ~0.02 chance) — near-random
    directions are PQ's worst case; production deployments use
    ks=256 codebooks trained to convergence on real (clustered)
    embeddings, same plan shape.  The operator IS the measurement
    harness that tells you whether the 32x cut is affordable.

    Centroid means are rounded to 6 decimals on both engines so discrete
    code assignment never flips on cross-engine float ulps (the
    _ivf_model convention).
    """
    from pyspark.sql import Window

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    subs = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
                lambda m: F.slice("e", m * _PQ_D + 1, _PQ_D),
            )
        ).alias("m", "sub"),
    )

    def assign(cbook, cvec):
        return (
            subs.join(F.broadcast(cbook), "m")
            .withColumn("_dist", _l2("sub", cvec))
            .groupBy("vec_id", "m")
            .agg(
                F.min_by(F.struct("code", "sub"),
                         F.struct("_dist", "code")).alias("_m")
            )
            .select(
                "vec_id", "m",
                F.col("_m.code").alias("code"),
                F.col("_m.sub").alias("sub"),
            )
        )

    seeds = subs.filter(F.col("vec_id").between(1, _PQ_KS)).select(
        "m", F.col("vec_id").cast("int").alias("code"),
        F.col("sub").alias("sv"),
    )
    a1 = assign(seeds, "sv")
    cents = (
        a1.select("m", "code", F.posexplode("sub").alias("i", "v"))
        .groupBy("m", "code", "i")
        .agg(F.round(F.avg("v"), 6).alias("cv"))
        .groupBy("m", "code")
        .agg(F.sort_array(F.collect_list(F.struct("i", "cv"))).alias("_s"))
        .select("m", "code", F.col("_s.cv").alias("cv"))
    )
    codes = assign(cents, "cv").select("vec_id", "m", "code")

    nrm = F.sqrt(F.aggregate("e", F.lit(0.0), lambda a, x: a + x * x))
    base = emb.withColumn("nrm", nrm)
    qs = base.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    qdot = F.aggregate(
        F.zip_with(
            F.slice("qv", F.col("m") * _PQ_D + 1, F.lit(_PQ_D)), "cv",
            lambda a, b: a * b,
        ),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    csqn = F.aggregate(
        F.col("cv"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    lut = (
        cents.crossJoin(F.broadcast(qs))
        .select("qid", "m", "code", "qnrm",
                qdot.alias("qdot"), csqn.alias("csqn"))
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(
            F.sum("qdot").alias("_sdot"),
            F.sum("csqn").alias("_ssqn"),
            F.first("qnrm").alias("_qnrm"),
        )
        .withColumn(
            "_cos",
            F.round(
                F.col("_sdot")
                / (F.greatest(F.sqrt("_ssqn"), F.lit(1e-12)) * F.col("_qnrm")),
                4,
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("_cos").desc(), F.col("vec_id").asc()
    )
    pq_top = (
        adc.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _RECALL_K)
        .select("qid", "vec_id")
    )
    edot = F.aggregate(
        F.zip_with("e", "qv", lambda a, b: a * b), F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = (
        base.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("_cos", F.round(edot / (F.col("nrm") * F.col("qnrm")), 4))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _RECALL_K)
        .select("qid", "vec_id")
    )
    hits = (
        pq_top.join(exact, ["qid", "vec_id"])
        .groupBy("qid").agg(F.count("*").alias("_h"))
    )
    return (
        qs.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.round(
                F.coalesce(F.col("_h"), F.lit(0)).cast("double") / _RECALL_K,
                4,
            ).alias("recall"),
        )
        .orderBy("qid")
    )


SQL_ANN_PQ_RECALL = f"""WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
subs AS (
  SELECT vec_id, m, e[m * {_PQ_D} + 1 : m * {_PQ_D} + {_PQ_D}] AS sub
  FROM emb CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS m)
),
seeds AS (SELECT m, vec_id::INT AS code, sub AS sv FROM subs
          WHERE vec_id BETWEEN 1 AND {_PQ_KS}),
a1 AS (
  SELECT s.vec_id, s.m, s.sub, d.code, row_number() OVER (
    PARTITION BY s.vec_id, s.m
    ORDER BY list_distance(s.sub, d.sv) ASC, d.code ASC) AS rn
  FROM subs s JOIN seeds d ON s.m = d.m
),
asg1 AS (SELECT vec_id, m, sub, code FROM a1 WHERE rn = 1),
dims AS (SELECT m, code, generate_subscripts(sub, 1) AS i, unnest(sub) AS v
         FROM asg1),
cm AS (SELECT m, code, i, round(avg(v), 6) AS cv FROM dims
       GROUP BY m, code, i),
cents AS (SELECT m, code, list(cv ORDER BY i) AS cv FROM cm
          GROUP BY m, code),
a2 AS (
  SELECT s.vec_id, s.m, c.code, row_number() OVER (
    PARTITION BY s.vec_id, s.m
    ORDER BY list_distance(s.sub, c.cv) ASC, c.code ASC) AS rn
  FROM subs s JOIN cents c ON s.m = c.m
),
codes AS (SELECT vec_id, m, code FROM a2 WHERE rn = 1),
n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM emb),
qs AS (SELECT vec_id AS qid, e AS qv, nrm AS qnrm
       FROM n WHERE vec_id < {_RECALL_NQ}),
lut AS (
  SELECT q.qid, c.m, c.code, q.qnrm,
         list_dot_product(q.qv[c.m * {_PQ_D} + 1 : c.m * {_PQ_D} + {_PQ_D}],
                          c.cv) AS qdot,
         list_dot_product(c.cv, c.cv) AS csqn
  FROM cents c CROSS JOIN qs q
),
adc AS (
  SELECT l.qid, k.vec_id,
         round(sum(l.qdot)
               / (greatest(sqrt(sum(l.csqn)), 1e-12) * any_value(l.qnrm)),
               4) AS cos
  FROM codes k JOIN lut l ON k.m = l.m AND k.code = l.code
  WHERE k.vec_id <> l.qid
  GROUP BY l.qid, k.vec_id
),
pq_top AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
      ORDER BY cos DESC, vec_id ASC) AS rn FROM adc) WHERE rn <= {_RECALL_K}
),
exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, f.vec_id, row_number() OVER (PARTITION BY q.qid
      ORDER BY round(list_dot_product(f.e, q.qv) / (f.nrm * q.qnrm), 4) DESC,
               f.vec_id ASC) AS rn
    FROM n f CROSS JOIN qs q WHERE f.vec_id <> q.qid) WHERE rn <= {_RECALL_K}
),
hits AS (
  SELECT e.qid, count(*) AS h
  FROM exact e JOIN pq_top p ON e.qid = p.qid AND e.vec_id = p.vec_id
  GROUP BY e.qid
)
SELECT q.qid AS qid,
       round(coalesce(h, 0)::DOUBLE / {_RECALL_K}, 4) AS recall
FROM qs q LEFT JOIN hits ON q.qid = hits.qid
ORDER BY qid"""


# ---------------------------------------------------------------------------
# Hard-negative mining for retrieval training
# ---------------------------------------------------------------------------

_HARDNEG_Q = 20   # anchor sample (vec_ids 0..Q-1)


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining (the dense-retrieval training step: for each
    anchor, the most similar vector with a DIFFERENT label is the
    negative that teaches the model the most — random negatives are too
    easy).  Anchors = vec_ids 0.._HARDNEG_Q-1; emits each anchor's
    hardest negative with both labels and the cosine.

    Scale shape: the anchor sample is a K-row BROADCAST against the
    corpus scan; per-anchor argmax is a rank window partitioned by
    anchor (never a global sort).  The brute-force scan is the declared
    accuracy baseline — at 10^12 vectors the same mining runs inside
    nprobe IVF cells over int8 codes (ann_ivf_quantized's layout).
    """
    from pyspark.sql import Window

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    anchors = emb.filter(F.col("vec_id") < _HARDNEG_Q).select(
        F.col("vec_id").alias("anchor"),
        F.col("label").alias("label_a"),
        F.col("e").alias("qa"),
    )
    dot = F.aggregate(
        F.zip_with("e", "qa", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    w = Window.partitionBy("anchor").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("label") != F.col("label_a"))
        .select(
            "anchor",
            "label_a",
            "vec_id",
            "label",
            (dot / (nrm("e") * nrm("qa"))).alias("cos"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "anchor",
            "label_a",
            F.col("vec_id").alias("negative"),
            F.col("label").alias("label_n"),
            _r4("cos").alias("cos"),
        )
        .orderBy(F.col("anchor").asc())
    )


SQL_HARD_NEGATIVES = f"""WITH emb AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
),
anchors AS (
  SELECT vec_id AS anchor, label AS label_a, e AS qa
  FROM emb WHERE vec_id < {_HARDNEG_Q}
),
scored AS (
  SELECT a.anchor, a.label_a, v.vec_id, v.label,
         list_dot_product(v.e, a.qa)
         / (sqrt(list_dot_product(v.e, v.e))
            * sqrt(list_dot_product(a.qa, a.qa))) AS cos,
         row_number() OVER (
           PARTITION BY a.anchor
           ORDER BY list_dot_product(v.e, a.qa)
                    / (sqrt(list_dot_product(v.e, v.e))
                       * sqrt(list_dot_product(a.qa, a.qa))) DESC,
                    v.vec_id ASC) AS rn
  FROM emb v CROSS JOIN anchors a
  WHERE v.label <> a.label_a
)
SELECT anchor, label_a, vec_id AS negative, label AS label_n,
       round(cos, 4) AS cos
FROM scored WHERE rn = 1 ORDER BY anchor ASC"""


# ---------------------------------------------------------------------------
# Reciprocal nearest neighbours (Qin et al., CVPR 2011 k-reciprocal)
# ---------------------------------------------------------------------------

_RNN_K = 5


# ---------------------------------------------------------------------------
# kNN hubness (Radovanović, Nanopoulos & Ivanović, JMLR 2010)
# ---------------------------------------------------------------------------


def q_knn_hubness(spark, sf_dir):
    """Hubness diagnosis (Radovanović et al., "Hubs in space", JMLR
    2010) of the embedding space: N_k(x) = how often x appears in other
    vectors' cosine top-{k} lists; in high dimensions N_k skews right —
    a few hub vectors show up everywhere and poison kNN dedup/search
    (reciprocal_nn is the per-pair FILTER for this; this entry is the
    corpus-level MEASUREMENT).  Output: the N_k histogram plus the
    standardized third-moment skewness of N_k in every row — the
    single number the paper proposes tracking.

    Determinism: N_k counts are integers (ranks on rounded cosine with
    id tiebreaks); the moment sums are integer; skewness is one
    expression rounded once.  Scale shape: reuses the blocked top-{k}
    list (rank window per source); N_k is one map-side count keyed by
    the TARGET; moments reduce to 1 row.
    """.format(k=_RNN_K)
    from pyspark.sql import Window

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    a = emb.select(F.col("vec_id").alias("va"), F.col("e").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vb"), F.col("e").alias("eb"))
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    cos = a.join(b, F.col("va") != F.col("vb")).select(
        "va", "vb",
        _r4(dot / (nrm("ea") * nrm("eb"))).alias("cos"),
    )
    w = Window.partitionBy("va").orderBy(
        F.col("cos").desc(), F.col("vb").asc()
    )
    topk = cos.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") <= _RNN_K
    )
    nk = (
        emb.select(F.col("vec_id").alias("vb"))
        .join(
            topk.groupBy("vb").agg(F.count("*").cast("long").alias("nk")),
            "vb", "left",
        )
        .select(F.coalesce("nk", F.lit(0)).cast("long").alias("nk"))
    )
    mom = nk.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("nk").alias("_s1"),
        F.sum(F.col("nk") * F.col("nk")).alias("_s2"),
        F.sum(F.col("nk") * F.col("nk") * F.col("nk")).alias("_s3"),
    ).select(
        "_n",
        (F.col("_s1") / F.col("_n")).alias("m"),
        (F.col("_s2") / F.col("_n")).alias("m2"),
        (F.col("_s3") / F.col("_n")).alias("m3"),
    ).select(
        "_n", "m",
        (F.col("m2") - F.col("m") * F.col("m")).alias("var"),
        (
            F.col("m3")
            - 3 * F.col("m") * F.col("m2")
            + 2 * F.col("m") * F.col("m") * F.col("m")
        ).alias("mu3"),
    ).select(
        _r4(F.col("mu3") / F.pow(F.col("var"), 1.5)).alias("skewness")
    )
    hist = nk.groupBy("nk").agg(
        F.count("*").cast("long").alias("n_vectors")
    )
    return (
        hist.crossJoin(F.broadcast(mom))
        .select("nk", "n_vectors", "skewness")
        .orderBy("nk")
    )


SQL_KNN_HUBNESS = f"""WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
cos AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         round(list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(b.e, b.e))), 4) AS cos
  FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
),
topk AS (
  SELECT vb FROM (
    SELECT va, vb, row_number() OVER (PARTITION BY va
                     ORDER BY cos DESC, vb ASC) AS r
    FROM cos) WHERE r <= {_RNN_K}
),
nk AS (
  SELECT emb.vec_id, coalesce(t.nk, 0) AS nk
  FROM emb LEFT JOIN (SELECT vb, count(*) AS nk FROM topk GROUP BY vb) t
  ON emb.vec_id = t.vb
),
mom AS (
  SELECT count(*) AS n, sum(nk) * 1.0 / count(*) AS m,
         sum(nk * nk) * 1.0 / count(*) AS m2,
         sum(nk * nk * nk) * 1.0 / count(*) AS m3
  FROM nk
),
sk AS (
  SELECT round((m3 - 3 * m * m2 + 2 * m * m * m)
               / pow(m2 - m * m, 1.5), 4) AS skewness
  FROM mom
)
SELECT CAST(nk.nk AS BIGINT) AS nk,
       CAST(count(*) AS BIGINT) AS n_vectors,
       sk.skewness
FROM nk CROSS JOIN sk GROUP BY nk.nk, sk.skewness ORDER BY nk"""


# ---------------------------------------------------------------------------
# Embedding-space anisotropy via the sum-vector identity
# ---------------------------------------------------------------------------


def q_embedding_anisotropy(spark, sf_dir):
    """Anisotropy of the embedding space (Ethayarajh, EMNLP 2019; the
    "narrow cone" diagnostic): the mean cosine between ALL pairs of
    distinct vectors.  Near 0 = directions spread isotropically (cosine
    retrieval is discriminative); near 1 = everything points the same
    way (similarity scores compress and ANN contrast dies — the number
    to check BEFORE trusting ann_cosine_topk's scores).  Computed
    WITHOUT any pair join via the sum-vector identity on unit vectors:
    Σ_{{i≠j}} cos(xᵢ,xⱼ) = ‖Σᵢuᵢ‖² − n, so
    mean = (‖Σu‖² − n)/(n(n−1)) — the n²-pair statistic in ONE narrow
    pass, the whole point at 10^12 vectors.

    Determinism: per-row normalization is fixed-order float arithmetic;
    the per-dimension sums are the only order-dependent float
    aggregates, and the reported mean lives in [−1, 1] where 1e-13
    summation jitter is invisible at the 4-decimal round.  Scale
    shape: one posexplode + per-dimension aggregate (d groups,
    map-side combined), one d-row reduce — no join, no window, no
    pair blowup."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    nrm = F.sqrt(
        F.aggregate("e", F.lit(0.0), lambda a, x: a + x * x)
    )
    unit = emb.select(
        "vec_id",
        F.transform("e", lambda x: x / nrm).alias("u"),
    )
    dims = unit.select(F.posexplode("u").alias("dim", "v"))
    persum = dims.groupBy("dim").agg(F.sum("v").alias("s"))
    n1 = unit.agg(F.count("*").cast("long").alias("_n"))
    return (
        persum.agg(F.sum(F.col("s") * F.col("s")).alias("_ss"),
                   F.count("*").cast("long").alias("n_dims"))
        .crossJoin(F.broadcast(n1))
        .select(
            F.col("_n").alias("n_vecs"),
            "n_dims",
            _r4(
                (F.col("_ss") - F.col("_n"))
                / (F.col("_n") * (F.col("_n") - 1))
            ).alias("mean_pairwise_cos"),
        )
    )


SQL_EMBEDDING_ANISOTROPY = """WITH unit AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> x / sqrt(list_dot_product(
                               embedding::DOUBLE[],
                               embedding::DOUBLE[]))) AS u
  FROM embeddings
),
dims AS (
  SELECT t.v AS v, t.dim AS dim
  FROM unit,
       LATERAL (SELECT unnest(u) AS v,
                       generate_subscripts(u, 1) AS dim) t
),
persum AS (SELECT dim, sum(v) AS s FROM dims GROUP BY dim),
nn AS (SELECT count(*) AS n FROM unit)
SELECT CAST(nn.n AS BIGINT) AS n_vecs,
       CAST(count(*) AS BIGINT) AS n_dims,
       round((sum(s * s) - max(nn.n)) * 1.0
             / (max(nn.n) * (max(nn.n) - 1)), 4) AS mean_pairwise_cos
FROM persum CROSS JOIN nn GROUP BY nn.n"""


# ---------------------------------------------------------------------------
# Per-label embedding drift between corpus halves
# ---------------------------------------------------------------------------


def q_embedding_drift(spark, sf_dir):
    """Per-label embedding drift: cosine between each label's centroid
    computed on the first and second half of the table (vec_id split) —
    the embedding-space counterpart of jsd_drift, and the monitor that
    catches a re-embedded or model-upgraded slice before
    ann_cosine_topk quietly degrades (centroid cosine < ~0.99 between
    batches of the SAME model is the standard re-index alarm).  Per
    label: half sizes and the centroid cosine.  (On THIS corpus the
    embeddings are near-isotropic noise, so label centroids are
    near-zero and the half-to-half cosine is honestly noise around 0 —
    a true mean direction, as real model embeddings have, is exactly
    what pushes it toward 1; the entry verifies the machinery.)

    Determinism: the half split is vec_id median rank-free (vec_id <
    max/2 arithmetic on the broadcast 1-row max); centroid sums are
    per-dimension float aggregates whose order jitter is invisible at
    the 4-decimal round of a [−1,1] cosine.  Scale shape: one
    posexplode + (label, half, dim) aggregate — map-side combined,
    bounded groups; the cosine combines the two centroid rows per
    label, dimension-aligned arrays, no pair work."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    mid = emb.agg((F.max("vec_id") / 2).alias("_mid"))
    tagged = emb.crossJoin(F.broadcast(mid)).select(
        "label", "e",
        (F.col("vec_id") < F.col("_mid")).cast("int").alias("half"),
    )
    dims = tagged.select(
        "label", "half", F.posexplode("e").alias("dim", "v")
    )
    cent = (
        dims.groupBy("label", "half", "dim").agg(F.avg("v").alias("c"))
        .groupBy("label", "half")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s["c"],
            ).alias("cent"),
            F.count("*").alias("_d"),
        )
    )
    sizes = tagged.groupBy("label", "half").agg(
        F.count("*").cast("long").alias("n")
    )
    a = cent.filter(F.col("half") == 1).select(
        "label", F.col("cent").alias("ca")
    ).join(sizes.filter(F.col("half") == 1)
           .select("label", F.col("n").alias("n_first")), "label")
    b = cent.filter(F.col("half") == 0).select(
        "label", F.col("cent").alias("cb")
    ).join(sizes.filter(F.col("half") == 0)
           .select("label", F.col("n").alias("n_second")), "label")
    dot = F.aggregate(
        F.zip_with("ca", "cb", lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    nrm = lambda col: F.sqrt(
        F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return (
        a.join(b, "label")
        .select(
            "label", "n_first", "n_second",
            _r4(dot / (nrm(F.col("ca")) * nrm(F.col("cb"))))
            .alias("centroid_cos"),
        )
        .orderBy("label")
    )


SQL_EMBEDDING_DRIFT = """WITH mid AS (
  SELECT max(vec_id) / 2.0 AS m FROM embeddings
),
tagged AS (
  SELECT label,
         CASE WHEN vec_id < mid.m THEN 1 ELSE 0 END AS half,
         embedding::DOUBLE[] AS e
  FROM embeddings CROSS JOIN mid
),
dims AS (
  SELECT label, half, u.dim AS dim, u.v AS v
  FROM tagged,
       LATERAL (SELECT unnest(e) AS v,
                       generate_subscripts(e, 1) AS dim) u
),
cent AS (
  SELECT label, half, list(c ORDER BY dim) AS cent
  FROM (SELECT label, half, dim, avg(v) AS c
        FROM dims GROUP BY label, half, dim)
  GROUP BY label, half
),
sizes AS (SELECT label, half, count(*) AS n
          FROM tagged GROUP BY label, half)
SELECT a.label,
       CAST(sa.n AS BIGINT) AS n_first,
       CAST(sb.n AS BIGINT) AS n_second,
       round(list_dot_product(a.cent, b.cent)
             / (sqrt(list_dot_product(a.cent, a.cent))
                * sqrt(list_dot_product(b.cent, b.cent))), 4)
         AS centroid_cos
FROM cent a
JOIN cent b ON a.label = b.label AND a.half = 1 AND b.half = 0
JOIN sizes sa ON sa.label = a.label AND sa.half = 1
JOIN sizes sb ON sb.label = b.label AND sb.half = 0
ORDER BY a.label"""


# ---------------------------------------------------------------------------
# Top principal component by unrolled power iteration
# ---------------------------------------------------------------------------

_PCA_ITERS = 8


def q_pca_top_component(spark, sf_dir):
    """Explained-variance share of the TOP principal component of the
    embedding table, by {t} unrolled power iterations on the exact
    covariance matrix — the SPECTRAL effective-dimensionality
    diagnostic completing the embedding-QA set (anisotropy asks "is
    there a mean direction?", this asks "does one axis dominate the
    VARIANCE?" — the rogue-dimension pathology of contextual embedders
    (Timkey & van Schijndel 2021) that wrecks cosine retrieval even at
    zero mean).  One row: sizes, the top eigenvalue, the trace, their
    ratio (1/d ≈ isotropic, → 1 ≈ rank-collapsed), and the final
    iterate's Rayleigh residual as convergence evidence.

    Determinism: the covariance is exact moment arithmetic; the power
    iteration starts from the fixed all-ones vector and runs on the
    d×d matrix itself.  Scale shape: the DISTRIBUTED work is exactly
    ONE pass building all d² second moments (posexplode×2 per row —
    n·d² narrow rows, map-side combined; for d ≫ 10² the production
    variant switches to a Gram treeAggregate, same downstream); the
    d² = {dd} covariance values are then METADATA (a k-row collect,
    same contract as the IVF centroid pulls) and the iteration is
    driver-side arithmetic — re-deriving each matvec through Spark
    lineage would recompute the moment pass {t}×.
    """.format(t=_PCA_ITERS, dd="4096 for d=64")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("embedding").cast("array<double>").alias("e")
    )
    mu = emb.select(F.posexplode("e").alias("i", "x")).groupBy("i").agg(
        F.avg("x").alias("m"), F.count("*").cast("long").alias("n")
    )
    pairs = emb.select(
        F.posexplode("e").alias("i", "x"), F.col("e")
    ).select("i", "x", F.posexplode("e").alias("jj", "y"))
    raw = pairs.groupBy("i", "jj").agg(F.avg(F.col("x") * F.col("y"))
                                       .alias("exy"))
    cov_rows = (
        raw.join(mu.select(F.col("i"), F.col("m").alias("mi")), "i")
        .join(mu.select(F.col("i").alias("jj"), F.col("m").alias("mj")),
              "jj")
        .select(
            "i", "jj",
            (F.col("exy") - F.col("mi") * F.col("mj")).alias("c"),
        )
        .collect()
    )
    n_vecs = int(mu.limit(1).collect()[0]["n"])
    d = max(r["i"] for r in cov_rows) + 1
    cov = [[0.0] * d for _ in range(d)]
    for r in cov_rows:
        cov[r["i"]][r["jj"]] = r["c"]
    import math as _math

    v = [1.0] * d
    for _ in range(_PCA_ITERS):
        w = [sum(cov[i][j] * v[j] for j in range(d)) for i in range(d)]
        z = _math.sqrt(sum(x * x for x in w))
        v = [x / z for x in w]
    cv = [sum(cov[i][j] * v[j] for j in range(d)) for i in range(d)]
    lam = sum(cv[i] * v[i] for i in range(d))
    res = _math.sqrt(sum((cv[i] - lam * v[i]) ** 2 for i in range(d)))
    tr = sum(cov[i][i] for i in range(d))
    return spark.createDataFrame(
        [(n_vecs, d, round(lam, 4), round(tr, 4),
          round(lam / tr, 4), round(res, 4))],
        "n_vecs long, n_dims long, top_eigenvalue double, trace double, "
        "explained_share double, rayleigh_residual double",
    )


def _pca_sql() -> str:
    parts = [f"""WITH dims AS MATERIALIZED (
  SELECT u.dim AS i, u.v AS x, rowid
  FROM (SELECT embedding::DOUBLE[] AS e, row_number() OVER () AS rowid
        FROM embeddings) t,
       LATERAL (SELECT unnest(e) AS v,
                       generate_subscripts(e, 1) AS dim) u
),
mu AS MATERIALIZED (SELECT i, avg(x) AS m FROM dims GROUP BY i),
raw AS MATERIALIZED (
  SELECT a.i AS i, b.i AS jj, avg(a.x * b.x) AS exy
  FROM dims a JOIN dims b ON a.rowid = b.rowid
  GROUP BY a.i, b.i
),
cov AS MATERIALIZED (
  SELECT raw.i, raw.jj, raw.exy - mi.m * mj.m AS c
  FROM raw JOIN mu mi ON raw.i = mi.i JOIN mu mj ON raw.jj = mj.i
),
v0 AS (SELECT i, 1.0 AS v FROM mu)"""]
    for t in range(1, _PCA_ITERS + 1):
        parts.append(f""",
w{t} AS MATERIALIZED (
  SELECT cov.i, sum(cov.c * v{t - 1}.v) AS w
  FROM cov JOIN v{t - 1} ON cov.jj = v{t - 1}.i GROUP BY cov.i
),
z{t} AS MATERIALIZED (SELECT sqrt(sum(w * w)) AS z FROM w{t}),
v{t} AS MATERIALIZED (SELECT i, w / z AS v
                      FROM w{t} CROSS JOIN z{t})""")
    parts.append(f""",
cv AS (
  SELECT cov.i, sum(cov.c * v{_PCA_ITERS}.v) AS cv
  FROM cov JOIN v{_PCA_ITERS} ON cov.jj = v{_PCA_ITERS}.i GROUP BY cov.i
),
lam AS (SELECT sum(cv.cv * v.v) AS lam
        FROM cv JOIN v{_PCA_ITERS} v ON cv.i = v.i),
res AS (
  SELECT sqrt(sum((cv.cv - lam.lam * v.v) * (cv.cv - lam.lam * v.v)))
           AS r
  FROM cv JOIN v{_PCA_ITERS} v ON cv.i = v.i CROSS JOIN lam
),
tr AS (SELECT sum(c) AS tr, count(*) AS n_dims FROM cov WHERE i = jj),
nn AS (SELECT count(*) AS n FROM embeddings)
SELECT CAST(nn.n AS BIGINT) AS n_vecs,
       CAST(tr.n_dims AS BIGINT) AS n_dims,
       round(lam.lam, 4) AS top_eigenvalue,
       round(tr.tr, 4) AS trace,
       round(lam.lam / tr.tr, 4) AS explained_share,
       round(res.r, 4) AS rayleigh_residual
FROM lam CROSS JOIN res CROSS JOIN tr CROSS JOIN nn""")
    return "".join(parts)


SQL_PCA_TOP_COMPONENT = _pca_sql()
