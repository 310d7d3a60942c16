"""Dedup catalog entries: exact and first-wins dedup, shingle Jaccard,
MinHash/LSH, winnowing, exact-substring spans, SimHash, clusters and the
keep list, paragraph dedup, decontamination, tf-idf document similarity,
incremental dedup, containment, mirror sources, the cross-source overlap
matrix and the dedup audits (LSH tuning, threshold sensitivity, chain
drift, rank impact, keeper policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.catalog.ir import (
    B, _docs, K1, _r4, _scored, _tf, _tokens, _TOKS_SQL,
)


# ---------------------------------------------------------------------------
# training-data pipeline extras: dedup, similarity, text analysis
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup: md5-hash group-by, keeper = min doc_id."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count("*").cast("long").alias("n_copies"),
        )
    )


SQL_DEDUP_EXACT = """SELECT md5(text) AS text_md5, min(doc_id) AS keeper,
count(*) AS n_copies FROM documents GROUP BY md5(text)"""


def q_dedup_first_wins(spark, sf_dir):
    """S2/E9: first-wins dedup via window (events: first per user+type)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id")
    )


SQL_DEDUP_FIRST_WINS = """SELECT user_id, event_type, event_id FROM (
  SELECT user_id, event_type, event_id,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts ASC, event_id ASC) AS rn
  FROM events) WHERE rn = 1"""


_SHINGLES_SQL = _TOKS_SQL + """,
shingles AS (
  SELECT DISTINCT a.doc_id AS doc_id,
         a.term || ' ' || b.term || ' ' || c.term AS sh
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
)"""


def _shingles(spark, sf_dir):
    t = _tokens(spark, sf_dir)
    a = t.select("doc_id", F.col("pos").alias("p"), F.col("term").alias("t1"))
    b = t.select("doc_id", (F.col("pos") - 1).alias("p"), F.col("term").alias("t2"))
    c = t.select("doc_id", (F.col("pos") - 2).alias("p"), F.col("term").alias("t3"))
    return (
        a.join(b, ["doc_id", "p"]).join(c, ["doc_id", "p"])
        .select(
            "doc_id",
            F.concat_ws(" ", "t1", "t2", "t3").alias("sh"),
        )
        .distinct()
    )


_SHINGLE_DF_CAP = 50


def q_ngram_jaccard(spark, sf_dir):
    """Near-dup detection: 3-gram shingle Jaccard via shared-shingle join
    (the sparse trick — never materializes the full pair matrix).

    Head-shingle df cap (standard in dedup pipelines): shingles appearing
    in more than _SHINGLE_DF_CAP docs are dropped BEFORE the pair join —
    boilerplate shingles otherwise make the join quadratic in their df
    (an unbounded hot key at 10^12 docs).  Sizes and intersections are
    both computed over the capped set, so the reported Jaccard is the
    similarity over informative shingles."""
    sh = _shingles(spark, sf_dir)
    df_ok = (
        sh.groupBy("sh").agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= _SHINGLE_DF_CAP)
        .select("sh")
    )
    sh = sh.join(df_ok, "sh", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("da"), "sh")
    b = sh.select(F.col("doc_id").alias("db"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("sza")), "da")
        .join(sizes.select(F.col("doc_id").alias("db"), F.col("sz").alias("szb")), "db")
        .select(
            "da", "db",
            _r4(
                F.col("inter")
                / (F.col("sza") + F.col("szb") - F.col("inter"))
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), F.col("da").asc(), F.col("db").asc())
        .limit(20)
    )


SQL_NGRAM_JACCARD = f"""WITH {_SHINGLES_SQL},
capped AS (
  SELECT s.doc_id, s.sh FROM shingles s
  JOIN (SELECT sh FROM shingles GROUP BY sh
        HAVING count(*) <= {_SHINGLE_DF_CAP}) ok ON s.sh = ok.sh
),
sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT da, db,
       round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = da
JOIN sizes sb ON sb.doc_id = db
ORDER BY jaccard DESC, da ASC, db ASC LIMIT 20"""


_WINNOW_W = 4   # winnowing window (consecutive 3-gram hashes)


def q_winnow_fingerprints(spark, sf_dir):
    """MOSS-style winnowing fingerprints (Schleimer et al., SIGMOD'03):
    per document, hash every 3-word gram, slide a window of _WINNOW_W
    consecutive hashes, keep each window's minimum — a position-robust
    fingerprint set guaranteeing any shared run of ≥ k+w-1 words between
    two documents shares a fingerprint.  Emitted as (doc_id, fp) rows —
    joining on fp is the candidate generator for local (passage-level)
    overlap, complementing MinHash (document-level) and the 4-gram
    decontaminator (benchmark-targeted).

    Scale shape: pure narrow array expressions per document (sequence →
    transform → array_min over slices), no shuffle until the consumer
    joins on fp; docs shorter than k+w-1 words produce no fingerprints by
    construction."""
    arr = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                   lambda x: x != "")
    d = _docs(spark, sf_dir).select("doc_id", arr.alias("_t"))
    n = F.size("_t")
    gram = lambda i: F.md5(F.concat_ws(  # noqa: E731
        " ", F.element_at("_t", i), F.element_at("_t", i + 1),
        F.element_at("_t", i + 2)))
    # guard: F.sequence(1, x) with x < 1 generates a DESCENDING sequence
    grams = F.when(n >= 3, F.transform(F.sequence(F.lit(1), n - 2), gram)) \
             .otherwise(F.array().cast("array<string>"))
    g = F.size("_g")
    fps = F.when(
        g >= _WINNOW_W,
        F.transform(
            F.sequence(F.lit(1), g - (_WINNOW_W - 1)),
            lambda j: F.array_min(F.slice("_g", j, _WINNOW_W)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select("doc_id", grams.alias("_g"))
        .select("doc_id", F.explode(F.array_distinct(fps)).alias("fp"))
    )


SQL_WINNOW_FINGERPRINTS = "WITH" + _TOKS_SQL + f""",
grams AS (
  SELECT a.doc_id, a.pos,
         md5(a.term || ' ' || b.term || ' ' || c.term) AS h
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
),
sized AS (SELECT doc_id, count(*) AS g FROM grams GROUP BY doc_id),
wmin AS (
  SELECT doc_id, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW
                      AND {_WINNOW_W - 1} FOLLOWING) AS fp
  FROM grams
)
SELECT DISTINCT w.doc_id AS doc_id, w.fp AS fp
FROM wmin w JOIN sized s ON s.doc_id = w.doc_id
WHERE w.pos <= s.g - {_WINNOW_W} + 1"""


_DUPSPAN_L = 8   # exact-substring dedup: gram length in tokens


def q_dup_spans(spark, sf_dir):
    """Exact-substring duplicate spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — ExactSubstr): every
    maximal token interval whose every `_DUPSPAN_L`-gram occurs at least
    twice corpus-wide, i.e. the interval's text is verbatim-repeated
    somewhere (another document, or earlier in the same one).  One row
    per maximal span: (doc_id, span_start, span_end, span_len), 1-based
    inclusive token positions — the cut list a trainer uses to remove
    repeated passages WITHOUT dropping whole documents (the failure mode
    of doc-level MinHash on long shared boilerplate).

    The paper builds a suffix array over the concatenated corpus; the
    Spark-native shape finds the same spans with no global sort:
    (1) narrow per-doc L-gram hashing (`transform` over the token
    array), (2) one map-side-combined count by gram hash, (3) join the
    >=2-occurrence hashes back — output is LINEAR in duplicated
    positions (occurrences never meet each other, only their count; no
    pair blowup, unlike similarity self-joins), and (4) a per-doc
    gaps-and-islands merge of overlapping/adjacent duplicated gram
    starts into maximal intervals (window partitioned by doc).  Every
    stage is bounded per key at 10^12 docs: the hash count has partial
    aggregation, the join's fan-out equals the occurrence count itself,
    and the island window is per-document."""
    from pyspark.sql import Window

    L = _DUPSPAN_L
    arr = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                   lambda x: x != "")
    d = _docs(spark, sf_dir).select("doc_id", arr.alias("_t"))
    n = F.size("_t")
    grams = F.when(
        n >= L,
        F.transform(F.sequence(F.lit(1), n - (L - 1)),
                    lambda i: F.md5(F.concat_ws(" ", F.slice("_t", i, L)))),
    ).otherwise(F.array().cast("array<string>"))
    g = (
        d.select("doc_id", F.posexplode(grams).alias("p0", "h"))
        .select("doc_id", (F.col("p0") + 1).cast("long").alias("pos"), "h")
    )
    dup_h = g.groupBy("h").agg(F.count("*").alias("c")) \
             .filter(F.col("c") >= 2).select("h")
    dup = g.join(dup_h, "h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    # a new island starts when this gram no longer overlaps/abuts the
    # previous duplicated gram's interval [prev, prev+L-1]
    brk = F.when(F.col("pos") > F.lag("pos", 1, -(10 ** 9)).over(w) + L,
                 F.lit(1)).otherwise(F.lit(0))
    isl = dup.withColumn("_b", brk).withColumn("_i", F.sum("_b").over(w))
    return (
        isl.groupBy("doc_id", "_i")
        .agg(F.min("pos").alias("span_start"),
             (F.max("pos") + (L - 1)).cast("long").alias("span_end"))
        .select(
            "doc_id", "span_start", "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


SQL_DUP_SPANS = "WITH" + _TOKS_SQL + f""",
sized AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
grams AS (
  SELECT t.doc_id, t.pos,
         md5(string_agg(t2.term, ' ' ORDER BY t2.pos)) AS h
  FROM toks t
  JOIN sized s ON s.doc_id = t.doc_id
  JOIN toks t2 ON t2.doc_id = t.doc_id
             AND t2.pos BETWEEN t.pos AND t.pos + {_DUPSPAN_L - 1}
  WHERE t.pos <= s.n - {_DUPSPAN_L} + 1
  GROUP BY t.doc_id, t.pos
),
dup AS (
  SELECT g.doc_id, g.pos
  FROM grams g
  JOIN (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2) d ON d.h = g.h
),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(lag(pos) OVER (PARTITION BY doc_id
                                                 ORDER BY pos),
                                  -1000000000) + {_DUPSPAN_L}
              THEN 1 ELSE 0 END AS brk
  FROM dup
),
isl AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS i
  FROM flagged
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {_DUPSPAN_L - 1} AS BIGINT) AS span_end,
       CAST(max(pos) + {_DUPSPAN_L - 1} - min(pos) + 1 AS BIGINT) AS span_len
FROM isl GROUP BY doc_id, i"""


def q_minhash_signature(spark, sf_dir):
    """MinHash signatures (4 salted md5 min-hashes over 3-gram shingles) —
    the signature stage of MinHash-LSH dedup."""
    sh = _shingles(spark, sf_dir)
    aggs = [
        F.min(F.md5(F.concat(F.lit(str(i) + ":"), F.col("sh")))).alias(f"sig{i}")
        for i in range(4)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


SQL_MINHASH_SIGNATURE = f"""WITH {_SHINGLES_SQL}
SELECT doc_id,
       min(md5('0:' || sh)) AS sig0,
       min(md5('1:' || sh)) AS sig1,
       min(md5('2:' || sh)) AS sig2,
       min(md5('3:' || sh)) AS sig3
FROM shingles GROUP BY doc_id"""


_LSH_BAND_CAP = 50


def q_minhash_lsh_pairs(spark, sf_dir, band_cap=None):
    """LSH banding: candidate pairs agreeing on any of the 4 signature bands
    (band size 1) — the bucket-join stage of MinHash-LSH.

    Hot-band cap (same trick as q_ngram_jaccard's shingle df cap): a band
    value shared by M docs yields M²/2 pairs in ONE join task, so a
    boilerplate cluster of 10^5 near-identical docs would emit 5·10^9 pairs
    — the unbounded hot key at 10^12 docs.  Bands with more than
    `band_cap` (default _LSH_BAND_CAP) members are dropped BEFORE the
    self-join.  The trade is RECALL for hot-key safety: byte-identical
    copies are still guaranteed caught upstream by exact dedup, but a
    homogeneous NEAR-identical cluster larger than the cap can saturate
    all four of its bands and slip through entirely — callers that prefer
    recall over boundedness can raise `band_cap` (or sub-bucket, as
    q_semantic_dedup does for hot IVF cells)."""
    from pyspark.sql import Window

    if band_cap is None:
        band_cap = _LSH_BAND_CAP
    sig = q_minhash_signature(spark, sf_dir)
    bands = None
    for i in range(4):
        s = sig.select("doc_id", F.col(f"sig{i}").alias("band"))
        bands = s if bands is None else bands.unionByName(s)
    # cap via a WINDOW count (not a separate groupBy + semi-join): the
    # window's hash-partitioning by band is exactly the self-join's key,
    # so the expensive shingle→signature lineage shuffles once and both
    # join sides reuse the same exchange
    bands = (
        bands.withColumn("_m", F.count("*").over(Window.partitionBy("band")))
        .filter(F.col("_m") <= band_cap)
        .select("doc_id", "band")
    )
    a = bands.select(F.col("doc_id").alias("da"), "band")
    b = bands.select(F.col("doc_id").alias("db"), "band")
    return (
        a.join(b, "band").filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )


_LSH_BANDS_SQL = f"""sig AS (
  SELECT doc_id,
         min(md5('0:' || sh)) AS sig0, min(md5('1:' || sh)) AS sig1,
         min(md5('2:' || sh)) AS sig2, min(md5('3:' || sh)) AS sig3
  FROM shingles GROUP BY doc_id
),
allbands AS (
  SELECT doc_id, sig0 AS band FROM sig UNION ALL
  SELECT doc_id, sig1 FROM sig UNION ALL
  SELECT doc_id, sig2 FROM sig UNION ALL
  SELECT doc_id, sig3 FROM sig
),
bands AS (
  SELECT ab.doc_id, ab.band FROM allbands ab
  JOIN (SELECT band FROM allbands GROUP BY band
        HAVING count(*) <= {_LSH_BAND_CAP}) ok ON ab.band = ok.band
)"""

SQL_MINHASH_LSH_PAIRS = f"""WITH {_SHINGLES_SQL},
{_LSH_BANDS_SQL}
SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id"""


_LSH_TRUE_TAU = 0.35


def q_lsh_recall(spark, sf_dir):
    """Candidate-recall diagnostic for MinHash-LSH dedup — the text twin
    of ann_ivf_recall: ground truth = exact 3-gram Jaccard ≥ τ over the
    df-capped shingle set, candidates = the LSH banding pairs; one row of
    (n_true, n_cand, n_hit, recall, precision).  This is the number a
    dedup-pipeline owner needs before trusting the banded approximation —
    recall says how many real near-dup pairs the bands surface, precision
    says how much the downstream verifier pays per surfaced pair.

    Scale shape: ground truth is quadratic BY DEFINITION, so at 10^12
    docs it runs over a sample — which is exactly what this operator is;
    both sides reuse the bounded production plans (df-capped shingle join,
    band-capped LSH)."""
    sh = _shingles(spark, sf_dir)
    df_ok = (
        sh.groupBy("sh").agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= _SHINGLE_DF_CAP)
        .select("sh")
    )
    sh = sh.join(df_ok, "sh", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("da"), "sh")
    b = sh.select(F.col("doc_id").alias("db"), "sh")
    true_pairs = (
        a.join(b, "sh")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").alias("inter"))
        .join(sizes.select(F.col("doc_id").alias("da"),
                           F.col("sz").alias("sza")), "da")
        .join(sizes.select(F.col("doc_id").alias("db"),
                           F.col("sz").alias("szb")), "db")
        .filter(
            F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
            >= _LSH_TRUE_TAU
        )
        .select("da", "db")
    )
    cand = q_minhash_lsh_pairs(spark, sf_dir)
    n_true = true_pairs.agg(F.count("*").alias("n_true"))
    n_cand = cand.agg(F.count("*").alias("n_cand"))
    n_hit = (
        true_pairs.join(cand, ["da", "db"])
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        n_true.crossJoin(n_cand).crossJoin(n_hit)
        .select(
            "n_true", "n_cand", "n_hit",
            _r4(F.col("n_hit") / F.col("n_true")).alias("recall"),
            _r4(F.col("n_hit") / F.col("n_cand")).alias("precision"),
        )
    )


SQL_LSH_RECALL = f"""WITH {_SHINGLES_SQL},
capped AS (
  SELECT s.doc_id, s.sh FROM shingles s
  JOIN (SELECT sh FROM shingles GROUP BY sh
        HAVING count(*) <= {_SHINGLE_DF_CAP}) ok ON s.sh = ok.sh
),
sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
true_pairs AS (
  SELECT da, db FROM inter
  JOIN sizes sa ON sa.doc_id = da
  JOIN sizes sb ON sb.doc_id = db
  WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= {_LSH_TRUE_TAU}
),
{_LSH_BANDS_SQL},
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
),
counts AS (
  SELECT (SELECT count(*) FROM true_pairs) AS n_true,
         (SELECT count(*) FROM cand) AS n_cand,
         (SELECT count(*) FROM true_pairs t
          JOIN cand c ON t.da = c.da AND t.db = c.db) AS n_hit
)
SELECT n_true, n_cand, n_hit,
       round(n_hit * 1.0 / n_true, 4) AS recall,
       round(n_hit * 1.0 / n_cand, 4) AS precision
FROM counts"""


def q_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 over the normalized token stream."""
    toks = _tokens(spark, sf_dir)
    # collect_list order is not shuffle-stable: collect (pos, term) structs,
    # array_sort by pos, then project terms — deterministic on any plan.
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "term"))),
        lambda s: s["term"],
    )
    return toks.groupBy("doc_id").agg(
        F.md5(F.concat_ws(" ", ordered)).alias("fp")
    )


SQL_FINGERPRINT = f"""WITH {_TOKS_SQL}
SELECT doc_id, md5(string_agg(term, ' ' ORDER BY pos)) AS fp
FROM toks GROUP BY doc_id"""


def _hash16_col(term_col: str) -> F.Column:
    """Portable 16-bit token hash: first 4 hex nibbles of md5 — identically
    computable in DuckDB (which lacks conv()) via nibble arithmetic."""
    return F.conv(F.substring(F.md5(F.col(term_col)), 1, 4), 16, 10).cast("int")


_HASH16_SQL = (
    "((strpos('0123456789abcdef', substr(md5(term), 1, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr(md5(term), 2, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr(md5(term), 3, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(term), 4, 1)) - 1))"
)


def q_simhash(spark, sf_dir):
    """SimHash near-dup fingerprint: tf-weighted per-bit majority vote over
    a 16-bit token hash (64-bit in the engine via xxhash64; 16-bit here so
    the oracle can mirror the hash exactly).  All-JVM expressions."""
    tf = _tf(spark, sf_dir).withColumn("h", _hash16_col("term"))
    votes = tf.groupBy("doc_id").agg(
        *[
            F.sum(
                F.col("tf")
                * (F.shiftright("h", b).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"c{b}")
            for b in range(16)
        ]
    )
    sig = None
    for b in range(16):
        term = F.when(F.col(f"c{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.cast("long").alias("simhash"))


SQL_SIMHASH = f"""WITH {_TOKS_SQL},
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id),
h AS (SELECT doc_id, tf, {_HASH16_SQL} AS h FROM tf),
votes AS (
  SELECT doc_id,
         {", ".join(f"sum(tf * (CASE WHEN (h // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END)) AS c{b}" for b in range(16))}
  FROM h GROUP BY doc_id
)
SELECT doc_id,
       CAST({" + ".join(f"(CASE WHEN c{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))} AS BIGINT) AS simhash
FROM votes"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTER consolidation: connected components over the
    MinHash-LSH candidate pairs via iterative min-label propagation —
    every document in any candidate pair is assigned the smallest doc_id
    reachable through the duplicate graph (its canonical keeper).

    Scale shape: the classic GraphX-style propagation — each round is one
    join + one min-aggregate, rounds = graph diameter (tiny for dup
    clusters, which are near-cliques by construction); no driver-side
    graph materialization, only a per-round convergence count.  At 10^12
    docs this is the standard consolidation step after pair generation
    (the pair graph is orders of magnitude smaller than the corpus).
    """
    from search_engine_spark.operators.components import connected_components

    return connected_components(q_minhash_lsh_pairs(spark, sf_dir))


SQL_DEDUP_CLUSTERS = f"""WITH RECURSIVE {_SHINGLES_SQL},
{_LSH_BANDS_SQL},
pairs AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
),
edges AS (
  SELECT da AS src, db AS dst FROM pairs
  UNION ALL SELECT db, da FROM pairs
),
closure AS (
  SELECT src AS doc, src AS reach FROM edges
  UNION
  SELECT c.doc, e.dst FROM closure c JOIN edges e ON e.src = c.reach
)
SELECT doc AS doc_id, min(reach) AS cluster FROM closure GROUP BY doc"""


def _word_grams(spark, sf_dir, w: int) -> DataFrame:
    """(doc_id, g): every contiguous w-token gram, built NARROWLY from the
    split array (transform over an index sequence) — no token explode +
    per-doc window shuffle; the gram construction stays in the scan's map
    task and only the downstream aggregation shuffles."""
    arr = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != "")
    d = _docs(spark, sf_dir).select("doc_id", arr.alias("a"), F.size(arr).alias("n"))
    grams = F.when(
        F.col("n") >= w,
        F.transform(
            F.sequence(F.lit(1), F.col("n") - (w - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("a"), i + j) for j in range(w)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return d.select("doc_id", F.explode(grams).alias("g"))


_DECON_MOD = 97
_DECON_W = 4


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: per candidate doc, how many of its
    distinct contiguous 4-token grams also occur in the held-out
    "benchmark" slice (doc_id % 97 == 0 stands in for an eval suite), and
    a contaminated flag — the n-gram-overlap decontamination step every
    training-data pipeline runs before training.

    Scale shape: the benchmark gram set is tiny relative to the corpus
    (eval suites vs 100 TB of training text), so it BROADCASTS; the
    candidate side is a narrow gram build + broadcast hash join + one
    per-doc aggregation — the corpus-side grams shuffle once, on doc_id."""
    g = _word_grams(spark, sf_dir, _DECON_W).distinct()
    bench = g.filter(F.col("doc_id") % _DECON_MOD == 0).select("g").distinct()
    cand = g.filter(F.col("doc_id") % _DECON_MOD != 0)
    hits = cand.join(F.broadcast(bench), "g").groupBy("doc_id").agg(
        F.count("*").alias("n_hit")
    )
    tot = cand.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    zero = F.lit(0).cast("long")
    return tot.join(hits, "doc_id", "left").select(
        "doc_id", "n_grams",
        F.coalesce("n_hit", zero).alias("n_hit"),
        (F.coalesce("n_hit", zero) > 0).alias("contaminated"),
    )


SQL_DECONTAMINATE = f"""WITH {_TOKS_SQL},
lg AS (
  SELECT doc_id, term,
         lead(term, 1) OVER w AS l1, lead(term, 2) OVER w AS l2,
         lead(term, 3) OVER w AS l3
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
g AS (SELECT DISTINCT doc_id, term || ' ' || l1 || ' ' || l2 || ' ' || l3 AS g
      FROM lg WHERE l3 IS NOT NULL),
bench AS (SELECT DISTINCT g FROM g WHERE doc_id % {_DECON_MOD} = 0),
cand AS (SELECT doc_id, g FROM g WHERE doc_id % {_DECON_MOD} <> 0),
hits AS (SELECT doc_id, count(*) AS n_hit
         FROM cand JOIN bench USING (g) GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n_grams FROM cand GROUP BY doc_id)
SELECT tot.doc_id, tot.n_grams,
       coalesce(hits.n_hit, 0) AS n_hit,
       coalesce(hits.n_hit, 0) > 0 AS contaminated
FROM tot LEFT JOIN hits USING (doc_id)"""


_SIMHASH_BAND_CAP = 200


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS (completing the family: q_simhash emits only
    signatures): 2×8-bit banding over the 16-bit signature — pigeonhole
    guarantees any pair at hamming ≤ 1 agrees exactly on at least one band
    — then exact popcount(xor) verification; 50 closest pairs.

    Scale shape mirrors q_minhash_lsh_pairs: band buckets bound the self
    join at ~n²/2^band_bits per band, and hot band values (boilerplate
    floods — more likely here because the 16-bit signature width is
    oracle-imposed; the engine-scale variant is a 64-bit xxhash simhash
    with 4×16-bit bands, where buckets are sparse) are dropped at
    _SIMHASH_BAND_CAP members BEFORE the join, via the same window-count
    that reuses the join's own hash exchange.  Byte-identical docs a hot
    band would have paired are exact dedup's job, upstream."""
    from pyspark.sql import Window

    sh = q_simhash(spark, sf_dir)
    k = sh.select(
        "doc_id", "simhash", F.lit(0).alias("band"),
        (F.col("simhash") % 256).alias("v"),
    ).unionByName(sh.select(
        "doc_id", "simhash", F.lit(1).alias("band"),
        F.shiftright("simhash", 8).bitwiseAND(F.lit(255)).alias("v"),
    ))
    k = (
        k.withColumn("_m", F.count("*").over(Window.partitionBy("band", "v")))
        .filter(F.col("_m") <= _SIMHASH_BAND_CAP)
        .select("doc_id", "simhash", "band", "v")
    )
    a = k.select(F.col("doc_id").alias("da"), F.col("simhash").alias("sa"),
                 "band", "v")
    b = k.select(F.col("doc_id").alias("db"), F.col("simhash").alias("sb"),
                 "band", "v")
    cand = (
        a.join(b, ["band", "v"]).filter(F.col("da") < F.col("db"))
        .select("da", "db", "sa", "sb").distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.select("da", "db", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 1)
        .orderBy("hamming", "da", "db").limit(50)
    )


SQL_SIMHASH_PAIRS = f"""WITH sh AS ({SQL_SIMHASH}),
k0 AS (
  SELECT doc_id, simhash, 0 AS band, simhash % 256 AS v FROM sh
  UNION ALL
  SELECT doc_id, simhash, 1 AS band, (simhash // 256) % 256 AS v FROM sh
),
k AS (
  SELECT k0.doc_id, k0.simhash, k0.band, k0.v FROM k0
  JOIN (SELECT band, v FROM k0 GROUP BY band, v
        HAVING count(*) <= {_SIMHASH_BAND_CAP}) ok
    ON k0.band = ok.band AND k0.v = ok.v
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
                  a.simhash AS sa, b.simhash AS sb
  FROM k a JOIN k b ON a.band = b.band AND a.v = b.v
                   AND a.doc_id < b.doc_id
)
SELECT da, db, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 1
ORDER BY hamming, da, db LIMIT 50"""


_SIM_QUERY_DOC = 42


def q_doc_similarity(spark, sf_dir):
    """Sparse tf-idf cosine document similarity: top-10 docs most similar
    to doc 42 — the SPARSE twin of the dense-embedding ANN entries (the
    'find me more like this page' query a fulltext index answers without
    an embedding model).  w(t,d) = tf·ln(N/df); the query doc's weight
    vector is a BROADCAST |terms(q)|-row side, so candidate scoring is one
    map-side join + per-doc aggregation over only the postings of the
    query's terms.  Norms come from one map-side-combined per-doc agg.
    At 10^12 docs the same plan holds with impact-ordered pruning of the
    query's head terms (WAND), which this entry's exact form upper-bounds."""
    tf = _tf(spark, sf_dir)
    nd = _docs(spark, sf_dir).agg(F.count("*").alias("_n"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "term", "doc_id",
            (F.col("tf") * F.log(F.col("_n") / F.col("df"))).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("_nrm")
    )
    q = w.filter(F.col("doc_id") == _SIM_QUERY_DOC).select(
        "term", F.col("w").alias("_wq")
    )
    qn = norms.filter(F.col("doc_id") == _SIM_QUERY_DOC).select(
        F.col("_nrm").alias("_qn")
    )
    return (
        w.join(F.broadcast(q), "term")
        .filter(F.col("doc_id") != _SIM_QUERY_DOC)
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("_wq")).alias("_dot"))
        .join(norms, "doc_id")
        .crossJoin(F.broadcast(qn))
        .select(
            "doc_id",
            _r4(F.col("_dot") / (F.col("_nrm") * F.col("_qn"))).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("doc_id").asc())
        .limit(10)
    )


SQL_DOC_SIMILARITY = f"""WITH {_TOKS_SQL},
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id),
nd AS (SELECT count(*) AS n FROM documents),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
w AS (
  SELECT tf.term, tf.doc_id, tf.tf * ln(nd.n / df.df) AS w
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN nd
),
norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
q AS (SELECT term, w AS wq FROM w WHERE doc_id = {_SIM_QUERY_DOC}),
qn AS (SELECT nrm AS qn FROM norms WHERE doc_id = {_SIM_QUERY_DOC}),
dots AS (
  SELECT w.doc_id, sum(w.w * q.wq) AS dot
  FROM w JOIN q ON w.term = q.term
  WHERE w.doc_id <> {_SIM_QUERY_DOC}
  GROUP BY w.doc_id
)
SELECT d.doc_id AS doc_id, round(d.dot / (n.nrm * qn.qn), 4) AS cos
FROM dots d JOIN norms n ON d.doc_id = n.doc_id CROSS JOIN qn
ORDER BY cos DESC, doc_id ASC LIMIT 10"""


def q_dedup_keep(spark, sf_dir):
    """End-to-end MinHash-LSH near-dedup KEEP LIST: shingle → signature →
    capped band join → connected components → keep one representative
    (the min doc_id, i.e. the cluster label) per near-dup cluster plus
    every unpaired doc.  This is the single call a training-data pipeline
    actually makes — the pairs/clusters entries are its observable stages.
    The anti-join's right side is only the non-representative members of
    dup clusters (pair-graph-sized, orders of magnitude smaller than the
    corpus at 10^12 docs)."""
    from search_engine_spark.operators.components import connected_components

    clusters = connected_components(q_minhash_lsh_pairs(spark, sf_dir))
    drop = clusters.filter(F.col("doc_id") != F.col("cluster")).select("doc_id")
    return (
        _docs(spark, sf_dir)
        .join(drop, "doc_id", "left_anti")
        .select("doc_id")
    )


SQL_DEDUP_KEEP = f"""WITH RECURSIVE {_SHINGLES_SQL},
{_LSH_BANDS_SQL},
pairs AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
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
SELECT d.doc_id AS doc_id FROM documents d
WHERE d.doc_id NOT IN (SELECT doc FROM clusters WHERE cluster <> doc)"""


# ---------------------------------------------------------------------------
# incremental dedup: a delta crawl batch against an existing base corpus
# ---------------------------------------------------------------------------

def q_dedup_incremental(spark, sf_dir):
    """Crawl-refresh dedup: treat even doc_ids as the BASE corpus already
    indexed and odd doc_ids as the incoming DELTA batch, and give every
    delta doc a verdict — 'dup_base' (exact text already in the base),
    'dup_delta' (a lower-id delta doc has the same text), or 'new'.
    This is the corpus-level twin of the engine's incremental append
    (pipeline.run_append): only 'new' docs would be extracted and merged.

    Shape at scale: base membership is a vocab-of-hashes LEFT join on
    md5 (map-side-aggregated to distinct hashes first, so the join side
    is |unique base texts|, not |base|); within-delta first-wins is a
    min() window over the same md5 shuffle — no self-join, no sort."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select(
        "doc_id", F.md5("text").alias("h"), (F.col("doc_id") % 2).alias("_odd")
    )
    base_h = d.filter(F.col("_odd") == 0).select("h").distinct()
    delta = d.filter(F.col("_odd") == 1)
    first = F.min("doc_id").over(Window.partitionBy("h"))
    return (
        delta.join(base_h.withColumn("_in_base", F.lit(1)), "h", "left")
        .withColumn("_first", first)
        .select(
            "doc_id",
            F.when(F.col("_in_base") == 1, F.lit("dup_base"))
            .when(F.col("_first") < F.col("doc_id"), F.lit("dup_delta"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
        )
    )


SQL_DEDUP_INCREMENTAL = """WITH d AS (
  SELECT doc_id, md5(text) AS h, doc_id % 2 AS odd FROM documents
),
base_h AS (SELECT DISTINCT h FROM d WHERE odd = 0),
delta AS (
  SELECT doc_id, h, min(doc_id) OVER (PARTITION BY h) AS first
  FROM d WHERE odd = 1
)
SELECT delta.doc_id AS doc_id,
       CASE WHEN base_h.h IS NOT NULL THEN 'dup_base'
            WHEN delta.first < delta.doc_id THEN 'dup_delta'
            ELSE 'new' END AS verdict
FROM delta LEFT JOIN base_h ON delta.h = base_h.h"""


# ---------------------------------------------------------------------------
# CCNet-style paragraph-level exact dedup (aligned chunk hashing)
# ---------------------------------------------------------------------------

_PARA_W = 16  # tokens per "paragraph" chunk (synthetic docs have no \\n\\n)


def q_paragraph_dedup(spark, sf_dir):
    """Paragraph-level exact dedup (CCNet §3.1 shape): chunk each doc's
    token stream into aligned _PARA_W-token paragraphs, hash each, keep
    the FIRST occurrence of every distinct paragraph corpus-wide, and
    report per-doc paragraph counts + how many were elided as duplicates.

    Linear, not pairwise: one shuffle keyed by (doc_id, chunk) to build
    paragraphs, one shuffle keyed by the paragraph hash for the
    first-wins window — the same two-exchange shape at 10^12 docs, with
    the hash shuffle doing the global dedup work (no O(n^2) pair join).
    The synthetic corpus repeats phrases, so aligned 16-token chunks do
    collide across docs (78 dups at sf0.01).
    """
    from pyspark.sql import Window

    paras = (
        _tokens(spark, sf_dir)
        .withColumn("chunk", F.expr(f"(pos - 1) div {_PARA_W}"))
        .groupBy("doc_id", "chunk")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "term"))),
                    lambda s: s["term"],
                ),
                " ",
            ).alias("ptext")
        )
    )
    w = Window.partitionBy(F.md5("ptext")).orderBy("doc_id", "chunk")
    return (
        paras.withColumn("rn", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_par"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup"),
        )
    )


SQL_PARAGRAPH_DEDUP = f"""WITH {_TOKS_SQL.strip()},
paras AS (
  SELECT doc_id, (pos - 1) // {_PARA_W} AS chunk,
         string_agg(term, ' ' ORDER BY pos) AS ptext
  FROM toks GROUP BY doc_id, chunk
),
flagged AS (
  SELECT doc_id, chunk, row_number() OVER (
    PARTITION BY md5(ptext) ORDER BY doc_id, chunk) AS rn
  FROM paras
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_par,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
FROM flagged GROUP BY doc_id ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# asymmetric shingle containment (subset-duplication detector)
# ---------------------------------------------------------------------------

_CONTAIN_MIN = 0.4   # report pairs where |A∩B| / |A| ≥ this


def q_containment(spark, sf_dir):
    """Asymmetric near-dup: shingle CONTAINMENT |A∩B| / |A| (Broder's
    second resemblance measure) — catches a short doc swallowed by a
    longer one (quotes, wrapped reposts, boilerplate shells), which
    symmetric Jaccard under-scores because the union is large.  Reports
    ordered pairs (contained, container) at containment ≥ _CONTAIN_MIN.

    Scale shape: identical to ngram_jaccard — shared-shingle equi-join
    with the head-shingle df cap bounding hot keys; containment just
    divides by ONE side's size, so no new shuffle.  Both directions of
    a pair come from the same joined row (a<b once, then both ratios),
    not a second join.
    """
    sh = _shingles(spark, sf_dir)
    df_ok = (
        sh.groupBy("sh").agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= _SHINGLE_DF_CAP)
        .select("sh")
    )
    sh = sh.join(df_ok, "sh", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("da"), "sh")
    b = sh.select(F.col("doc_id").alias("db"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").alias("inter"))
        .join(sizes.select(F.col("doc_id").alias("da"),
                           F.col("sz").alias("sza")), "da")
        .join(sizes.select(F.col("doc_id").alias("db"),
                           F.col("sz").alias("szb")), "db")
    )
    fwd = inter.select(
        F.col("da").alias("contained"), F.col("db").alias("container"),
        _r4(F.col("inter") / F.col("sza")).alias("containment"),
    )
    rev = inter.select(
        F.col("db").alias("contained"), F.col("da").alias("container"),
        _r4(F.col("inter") / F.col("szb")).alias("containment"),
    )
    return (
        fwd.unionByName(rev)
        .filter(F.col("containment") >= _CONTAIN_MIN)
        .orderBy(
            F.col("containment").desc(),
            F.col("contained").asc(),
            F.col("container").asc(),
        )
        .limit(20)
    )


SQL_CONTAINMENT = f"""WITH {_SHINGLES_SQL},
capped AS (
  SELECT s.doc_id, s.sh FROM shingles s
  JOIN (SELECT sh FROM shingles GROUP BY sh
        HAVING count(*) <= {_SHINGLE_DF_CAP}) ok ON s.sh = ok.sh
),
sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sized AS (
  SELECT i.da, i.db, i.inter, sa.sz AS sza, sb.sz AS szb
  FROM inter i JOIN sizes sa ON sa.doc_id = i.da
  JOIN sizes sb ON sb.doc_id = i.db
),
dirs AS (
  SELECT da AS contained, db AS container,
         round(inter * 1.0 / sza, 4) AS containment FROM sized
  UNION ALL
  SELECT db AS contained, da AS container,
         round(inter * 1.0 / szb, 4) AS containment FROM sized
)
SELECT contained, container, containment FROM dirs
WHERE containment >= {_CONTAIN_MIN}
ORDER BY containment DESC, contained ASC, container ASC LIMIT 20"""


_MIRROR_W = 4            # shingle width (words)
_MIRROR_SRC_CAP = 16     # drop shingles present on more hosts (boilerplate)


def q_mirror_sources(spark, sf_dir):
    """Host-level mirror detection (Bharat & Broder, WWW 1999): two
    sources are mirror candidates when their sampled 4-word shingle sets
    overlap heavily.  Pipeline: per-host distinct shingles → a
    deterministic 1-in-4 sample by md5 prefix (the paper's hash-mod
    shingle sampling, identical in both engines) → boilerplate cap
    (shingles on more than _MIRROR_SRC_CAP hosts are dropped before the
    pair join) → shared-shingle self-join → overlap = shared /
    min(|A|, |B|) over the sampled sets.

    Scale shape: shingling is a NARROW array transform per doc (no
    positional self-join — contrast _shingles' 3-way join, which this
    entry deliberately avoids); the sample keeps a fixed fraction of
    shingle mass independent of corpus size; and the src-cap bounds the
    per-shingle fanout so the pair join is linear in sampled shingle
    occurrences, never quadratic in hot-shingle df.  At 10^8 hosts the
    pair list is sparse because only co-occurring sampled shingles pair."""
    arr = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
    )
    d = _docs(spark, sf_dir).select("source", arr.alias("a"))
    sh = (
        d.filter(F.size("a") >= _MIRROR_W)
        .select(
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(a) - {_MIRROR_W - 1}), "
                    "i -> concat_ws(' ', a[i-1], a[i], a[i+1], a[i+2]))"
                )
            ).alias("s"),
        )
        .distinct()
        .filter(F.substring(F.md5("s"), 1, 1).isin("0", "1", "2", "3"))
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    ok = (
        sh.groupBy("s").agg(F.count("*").alias("_nf"))
        .filter(F.col("_nf") <= _MIRROR_SRC_CAP)
        .select("s")
    )
    sh = sh.join(ok, "s", "left_semi")
    a = sh.select(F.col("source").alias("src_a"), "s")
    b = sh.select(F.col("source").alias("src_b"), "s")
    pairs = (
        a.join(b, "s")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("shared"))
    )
    return (
        pairs.join(
            sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na")),
            "src_a",
        )
        .join(
            sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb")),
            "src_b",
        )
        .select(
            "src_a", "src_b", "shared",
            _r4(F.col("shared") / F.least("na", "nb")).alias("overlap"),
        )
        .orderBy(F.col("shared").desc(), "src_a", "src_b")
        .limit(10)
    )


SQL_MIRROR_SOURCES = f"""WITH toks AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS term,
         generate_subscripts(list_filter(regexp_split_to_array(lower(text),
                            '[^a-z0-9]+'), x -> x <> ''), 1) AS pos,
         doc_id
  FROM documents
),
sh AS (
  SELECT DISTINCT t1.source,
         t1.term || ' ' || t2.term || ' ' || t3.term || ' ' || t4.term AS s
  FROM toks t1
  JOIN toks t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  JOIN toks t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
  JOIN toks t4 ON t1.doc_id = t4.doc_id AND t4.pos = t1.pos + 3
),
samp AS (SELECT source, s FROM sh WHERE substring(md5(s), 1, 1) IN
         ('0', '1', '2', '3')),
sizes AS (SELECT source, count(*) AS n FROM samp GROUP BY source),
ok AS (SELECT s FROM samp GROUP BY s HAVING count(*) <= {_MIRROR_SRC_CAP}),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
  FROM samp a JOIN ok ON a.s = ok.s
  JOIN samp b ON a.s = b.s AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT src_a, src_b, shared,
       round(shared / least(x.n, y.n), 4) AS overlap
FROM pairs
JOIN sizes x ON src_a = x.source
JOIN sizes y ON src_b = y.source
ORDER BY shared DESC, src_a ASC, src_b ASC LIMIT 10"""


# ---------------------------------------------------------------------------
# LSH (b, r) tuning curve (the MMDS S-curve, Leskovec-Rajaraman-Ullman)
# ---------------------------------------------------------------------------

_LSH_CONFIGS = ((32, 4), (16, 8), (8, 16))


def q_lsh_tuning_curve(spark, sf_dir):
    """The MinHash-LSH (bands, rows) tuning curve (the MMDS ch.3
    S-curve): for each configuration with b·r = 128 hashes, the
    50%-collision threshold s* = (1/b)^(1/r) and the EXPECTED number
    of candidate collisions Σ_pairs 1 − (1 − s^r)^b over the measured
    top Jaccard pairs (ngram_jaccard's output distribution) — the
    table that picks (b, r) for a target dedup threshold BEFORE paying
    a full LSH run, with minhash_lsh_pairs/lsh_recall as the realized
    ground truth.

    Determinism: the pair similarities are ngram_jaccard's 4-decimal
    values; every probability is an identical double pow chain; one
    rounded sum per config.  Scale shape: the pair sample is the
    bounded top-k pair table; the config table is a 3-row broadcast —
    the whole curve costs |pairs|·|configs| arithmetic rows.
    """
    pairs = q_ngram_jaccard(spark, sf_dir).select("jaccard")
    cfgs = spark.createDataFrame(
        [(b, r) for b, r in _LSH_CONFIGS], "b long, r long"
    )
    pcol = 1.0 - F.pow(
        1.0 - F.pow(F.col("jaccard"), F.col("r")), F.col("b")
    )
    return (
        pairs.crossJoin(F.broadcast(cfgs))
        .groupBy("b", "r")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            _r4(F.sum(pcol)).alias("expected_collisions"),
            F.sum(
                (
                    F.col("jaccard")
                    >= F.pow(
                        1.0 / F.col("b"), 1.0 / F.col("r")
                    )
                ).cast("int")
            ).cast("long").alias("n_above_s50"),
        )
        .withColumn(
            "s50",
            _r4(F.pow(1.0 / F.col("b"), 1.0 / F.col("r"))),
        )
        .select("b", "r", "s50", "n_pairs", "n_above_s50",
                "expected_collisions")
        .orderBy("b")
    )


SQL_LSH_TUNING_CURVE = f"""WITH pairs AS (
  SELECT jaccard FROM ({SQL_NGRAM_JACCARD})
),
cfgs AS (SELECT * FROM (VALUES {", ".join(f"({b}, {r})" for b, r in _LSH_CONFIGS)}) AS t(b, r))
SELECT b, r,
       round(pow(1.0 / b, 1.0 / r), 4) AS s50,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN jaccard >= pow(1.0 / b, 1.0 / r)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_above_s50,
       round(sum(1.0 - pow(1.0 - pow(jaccard, r), b)), 4)
         AS expected_collisions
FROM pairs CROSS JOIN cfgs GROUP BY b, r ORDER BY b"""


# ---------------------------------------------------------------------------
# Cross-source exact-duplicate contamination matrix
# ---------------------------------------------------------------------------


def q_source_overlap_matrix(spark, sf_dir):
    """Cross-source contamination matrix at 3-gram granularity: for
    every source pair, how many DISTINCT shingles they share, each
    side's distinct-shingle count, and the pair Jaccard — the audit
    that tells a corpus owner which dump copies from which BEFORE
    mixture weights double-count the shared text (the pairwise-source
    generalization of q_decontaminate's one-benchmark-vs-corpus check;
    host_mirror_detection is the same question at host granularity,
    and exact-dup spans across sources — zero on this corpus — would
    show up here as near-1 Jaccard).

    Determinism: set sizes and intersections are exact integer counts
    over distinct shingles.  Scale shape: per-source DISTINCT shingles
    first (map-side aggregate — the join sides are distinct-shingle-
    sized, not corpus-sized), then a self-join keyed on shingle; after
    the source-level distinct a shingle appears at most once PER
    SOURCE, so even a boilerplate shingle in every doc emits at most
    |sources|² pairs — no df cap needed, unlike the doc-level joins.
    Output is |sources|² rows."""
    sh = _shingles(spark, sf_dir)
    dh = (
        sh.join(_docs(spark, sf_dir).select("doc_id", "source"), "doc_id")
        .select("source", F.col("sh").alias("h"))
        .distinct()
    )
    sizes = dh.groupBy("source").agg(F.count("*").cast("long").alias("nh"))
    a = dh.select(F.col("source").alias("src_a"), "h")
    b = dh.select(F.col("source").alias("src_b"), "h")
    shared = (
        a.join(b, "h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"),
                                     F.col("nh").alias("n_a"))), "src_a")
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"),
                                     F.col("nh").alias("n_b"))), "src_b")
        .select(
            "src_a", "src_b", "n_a", "n_b", "n_shared",
            _r4(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


SQL_SOURCE_OVERLAP_MATRIX = f"""WITH {_SHINGLES_SQL},
dh AS (
  SELECT DISTINCT d.source, s.sh AS h
  FROM shingles s JOIN documents d ON s.doc_id = d.doc_id
),
sizes AS (SELECT source, count(*) AS nh FROM dh GROUP BY source),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
  FROM dh a JOIN dh b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT s.src_a, s.src_b,
       CAST(sa.nh AS BIGINT) AS n_a, CAST(sb.nh AS BIGINT) AS n_b,
       CAST(s.n_shared AS BIGINT) AS n_shared,
       round(s.n_shared * 1.0 / (sa.nh + sb.nh - s.n_shared), 4)
         AS jaccard
FROM shared s
JOIN sizes sa ON sa.source = s.src_a
JOIN sizes sb ON sb.source = s.src_b
ORDER BY s.src_a, s.src_b"""


# ---------------------------------------------------------------------------
# Dedup keeper-policy comparison (first-wins vs quality-wins)
# ---------------------------------------------------------------------------


def q_dedup_keeper_policy(spark, sf_dir):
    """What first-wins dedup costs in kept quality: over the exact-dup
    groups (md5, >1 member), compare keeper = min doc_id (first-wins,
    what dedup_first_wins ships — order-dependent, crawl-arrival bias)
    against keeper = max n_chars then min doc_id (quality-wins, the
    CCNet/RefinedWeb-style choice).  One row: dup-group count, how many
    groups pick a DIFFERENT keeper, and the mean kept n_chars under
    each policy — the quality left on the table by arrival order.
    (On a corpus whose exact dups are byte-identical the two means
    coincide — the honest null result; the operator exists for corpora
    where near-canonicalization upstream makes "same hash" groups span
    different lengths, e.g. whitespace-normalized text columns.)

    Determinism: both keepers are integer argmin/argmax with total tie
    orders, expressed as one rank window per group (quality order
    n_chars desc, doc_id asc) plus min/count over the same partition.
    Scale shape: one hash-keyed window pass over (md5, doc_id,
    n_chars) — the exact-dedup shuffle itself, nothing more; the
    compare is a 1-row reduce."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select(
        "doc_id", "n_chars", F.md5("text").alias("h")
    )
    wp = Window.partitionBy("h")
    wq = wp.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    grp = (
        d.withColumn("_rn", F.row_number().over(wq))
        .withColumn("_m", F.count("*").over(wp))
        .withColumn("keep_first", F.min("doc_id").over(wp))
        .filter((F.col("_rn") == 1) & (F.col("_m") > 1))
        .select(
            "h", "keep_first",
            F.col("n_chars").alias("q_chars"),
            F.col("doc_id").alias("keep_quality"),
        )
    )
    first_chars = grp.join(
        d.select(F.col("doc_id").alias("keep_first"),
                 F.col("n_chars").alias("f_chars")),
        "keep_first",
    )
    return first_chars.agg(
        F.count("*").cast("long").alias("n_dup_groups"),
        F.sum(
            (F.col("keep_first") != F.col("keep_quality")).cast("int")
        ).cast("long").alias("n_keeper_differs"),
        _r4(F.avg("f_chars")).alias("mean_chars_first_wins"),
        _r4(F.avg("q_chars")).alias("mean_chars_quality_wins"),
    )


SQL_DEDUP_KEEPER_POLICY = """WITH d AS (
  SELECT doc_id, n_chars, md5(text) AS h FROM documents
),
grp AS (
  SELECT h, keep_first, n_chars AS q_chars, doc_id AS keep_quality
  FROM (
    SELECT h, doc_id, n_chars,
           row_number() OVER (PARTITION BY h
                              ORDER BY n_chars DESC, doc_id ASC) AS rn,
           count(*) OVER (PARTITION BY h) AS m,
           min(doc_id) OVER (PARTITION BY h) AS keep_first
    FROM d
  ) WHERE rn = 1 AND m > 1
)
SELECT CAST(count(*) AS BIGINT) AS n_dup_groups,
       CAST(sum(CASE WHEN g.keep_first <> g.keep_quality
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_keeper_differs,
       round(avg(f.n_chars), 4) AS mean_chars_first_wins,
       round(avg(g.q_chars), 4) AS mean_chars_quality_wins
FROM grp g JOIN d f ON f.doc_id = g.keep_first"""


# ---------------------------------------------------------------------------
# Dedup threshold sensitivity (candidate volume vs Jaccard cut)
# ---------------------------------------------------------------------------

_DEDUP_TAUS = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)


def q_dedup_threshold_sensitivity(spark, sf_dir):
    """Candidate volume vs the Jaccard threshold: for each τ, how many
    shingle-sharing pairs and how many distinct documents clear it —
    the curve a dedup owner reads BEFORE fixing τ (NearDup papers pick
    0.8, SemDeDup-style pipelines go lower; the cost of each choice is
    exactly this table: verifier pay = n_pairs, corpus loss upper
    bound = n_docs), complementing lsh_tuning_curve's PROBABILITY
    S-curve with the corpus' REALIZED volumes.

    Determinism: pair Jaccards are exact rationals compared against
    literal τs; counts integer.  Scale shape: the df-capped sparse
    shingle join computes each pair's Jaccard ONCE; the τ sweep is a
    crossJoin with the broadcast 8-row threshold table over the
    bounded pair set (pairs × 8, never corpus × 8), with per-doc max-J
    pre-reduced before its own sweep so the doc leg is distinct-doc
    sized."""
    sh = _shingles(spark, sf_dir)
    df_ok = (
        sh.groupBy("sh").agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= _SHINGLE_DF_CAP)
        .select("sh")
    )
    sh = sh.join(df_ok, "sh", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("da"), "sh")
    b = sh.select(F.col("doc_id").alias("db"), "sh")
    pairs = (
        a.join(b, "sh")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").alias("inter"))
        .join(sizes.select(F.col("doc_id").alias("da"),
                           F.col("sz").alias("sza")), "da")
        .join(sizes.select(F.col("doc_id").alias("db"),
                           F.col("sz").alias("szb")), "db")
        .select(
            "da", "db",
            (
                F.col("inter")
                / (F.col("sza") + F.col("szb") - F.col("inter"))
            ).alias("j"),
        )
    )
    taus = spark.createDataFrame(
        [(t,) for t in _DEDUP_TAUS], "tau double"
    )
    npairs = (
        pairs.crossJoin(F.broadcast(taus))
        .filter(F.col("j") >= F.col("tau"))
        .groupBy("tau").agg(F.count("*").cast("long").alias("n_pairs"))
    )
    permax = (
        pairs.select(F.col("da").alias("doc"), "j")
        .unionAll(pairs.select(F.col("db").alias("doc"), "j"))
        .groupBy("doc").agg(F.max("j").alias("mj"))
    )
    ndocs = (
        permax.crossJoin(F.broadcast(taus))
        .filter(F.col("mj") >= F.col("tau"))
        .groupBy("tau").agg(F.count("*").cast("long").alias("n_docs"))
    )
    return (
        taus.join(npairs, "tau", "left")
        .join(ndocs, "tau", "left")
        .select(
            "tau",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
        )
        .orderBy("tau")
    )


def _dedup_taus_sql() -> str:
    tvals = ", ".join(f"(CAST({t} AS DOUBLE))" for t in _DEDUP_TAUS)
    return f"""WITH {_SHINGLES_SQL},
capped AS (
  SELECT s.doc_id, s.sh FROM shingles s
  JOIN (SELECT sh FROM shingles GROUP BY sh
        HAVING count(*) <= {_SHINGLE_DF_CAP}) ok ON s.sh = ok.sh
),
sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
         count(*) * 1.0 / (max(sa.sz) + max(sb.sz) - count(*)) AS j
  FROM capped a
  JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
  JOIN sizes sa ON sa.doc_id = a.doc_id
  JOIN sizes sb ON sb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
taus AS (SELECT * FROM (VALUES {tvals}) AS t(tau)),
np AS (
  SELECT tau, count(*) AS n_pairs
  FROM pairs CROSS JOIN taus WHERE j >= tau GROUP BY tau
),
permax AS (
  SELECT doc, max(j) AS mj FROM (
    SELECT da AS doc, j FROM pairs UNION ALL SELECT db, j FROM pairs
  ) GROUP BY doc
),
nd AS (
  SELECT tau, count(*) AS n_docs
  FROM permax CROSS JOIN taus WHERE mj >= tau GROUP BY tau
)
SELECT taus.tau, CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(nd.n_docs, 0) AS BIGINT) AS n_docs
FROM taus
LEFT JOIN np ON taus.tau = np.tau
LEFT JOIN nd ON taus.tau = nd.tau
ORDER BY taus.tau"""


SQL_DEDUP_THRESHOLD_SENSITIVITY = _dedup_taus_sql()


# ---------------------------------------------------------------------------
# Transitivity drift inside near-dup clusters
# ---------------------------------------------------------------------------

_CHAIN_TOPK = 20


def q_dedup_chain_drift(spark, sf_dir):
    """Transitivity audit of connected-components dedup: within each
    LSH cluster, the EXACT pairwise Jaccard between all members — the
    known failure mode of components-based consolidation (ExactSubstr/
    NearDup papers call it chaining): A~B and B~C put A and C in one
    cluster even when J(A,C) ≈ 0, so the keeper "represents" documents
    it barely resembles.  Per cluster (top {k} by size): member and
    pair counts, min/mean exact Jaccard, and the fraction of member
    pairs below the τ={tau} the pipeline treats as "near-dup" — a high
    fraction says split the cluster (or cap propagation rounds) before
    trusting its keeper.

    Determinism: membership comes from the deterministic min-label
    components; Jaccards are exact rationals (pairs with NO shared
    shingle enter as exact 0 — the strongest drift evidence); size
    ranking ties on cluster id.  Scale shape: the within-cluster pair
    join is keyed on the cluster label and bounded by cluster size² —
    clusters are band-capped upstream, and a production run caps or
    samples mega-clusters the same way semantic_dedup sub-buckets hot
    cells; the Jaccard lookup is a left join against the df-capped
    sharing-pair relation, never a new shingle pass per pair.
    """.format(k=_CHAIN_TOPK, tau=_LSH_TRUE_TAU)
    from pyspark.sql import Window

    from search_engine_spark.operators.components import connected_components

    clusters = connected_components(q_minhash_lsh_pairs(spark, sf_dir))
    a = clusters.select(F.col("doc_id").alias("da"), "cluster")
    b = clusters.select(F.col("doc_id").alias("db"), "cluster")
    cpairs = a.join(b, "cluster").filter(F.col("da") < F.col("db"))
    sh = _shingles(spark, sf_dir)
    df_ok = (
        sh.groupBy("sh").agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= _SHINGLE_DF_CAP)
        .select("sh")
    )
    sh = sh.join(df_ok, "sh", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    pj = (
        sh.select(F.col("doc_id").alias("da"), "sh")
        .join(sh.select(F.col("doc_id").alias("db"), "sh"), "sh")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").alias("inter"))
        .join(sizes.select(F.col("doc_id").alias("da"),
                           F.col("sz").alias("sza")), "da")
        .join(sizes.select(F.col("doc_id").alias("db"),
                           F.col("sz").alias("szb")), "db")
        .select(
            "da", "db",
            (
                F.col("inter")
                / (F.col("sza") + F.col("szb") - F.col("inter"))
            ).alias("j"),
        )
    )
    scored = cpairs.join(pj, ["da", "db"], "left").select(
        "cluster", F.coalesce("j", F.lit(0.0)).alias("j")
    )
    per = scored.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.min("j").alias("_minj"),
        F.avg("j").alias("_meanj"),
        F.sum((F.col("j") < _LSH_TRUE_TAU).cast("int")).cast("long")
        .alias("_below"),
    )
    nsz = clusters.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members")
    )
    w = Window.orderBy(F.col("n_members").desc(), F.col("cluster").asc())
    return (
        nsz.join(per, "cluster")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= _CHAIN_TOPK)
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            "n_members", "n_pairs",
            _r4(F.col("_minj")).alias("min_jaccard"),
            _r4(F.col("_meanj")).alias("mean_jaccard"),
            _r4(F.col("_below") / F.col("n_pairs")).alias("frac_below_tau"),
        )
        .orderBy(F.col("n_members").desc(), F.col("cluster").asc())
    )


SQL_DEDUP_CHAIN_DRIFT = f"""WITH RECURSIVE {_SHINGLES_SQL},
{_LSH_BANDS_SQL},
lpairs AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
),
edges AS (
  SELECT da AS src, db AS dst FROM lpairs
  UNION ALL SELECT db, da FROM lpairs
),
closure AS (
  SELECT src AS doc, src AS reach FROM edges
  UNION
  SELECT c.doc, e.dst FROM closure c JOIN edges e ON e.src = c.reach
),
clusters AS (SELECT doc, min(reach) AS cluster FROM closure GROUP BY doc),
cpairs AS (
  SELECT a.cluster, a.doc AS da, b.doc AS db
  FROM clusters a JOIN clusters b
    ON a.cluster = b.cluster AND a.doc < b.doc
),
capped AS (
  SELECT s.doc_id, s.sh FROM shingles s
  JOIN (SELECT sh FROM shingles GROUP BY sh
        HAVING count(*) <= {_SHINGLE_DF_CAP}) ok ON s.sh = ok.sh
),
sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id),
pj AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
         count(*) * 1.0 / (max(sa.sz) + max(sb.sz) - count(*)) AS j
  FROM capped a
  JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
  JOIN sizes sa ON sa.doc_id = a.doc_id
  JOIN sizes sb ON sb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
scored AS (
  SELECT cp.cluster, coalesce(pj.j, 0.0) AS j
  FROM cpairs cp LEFT JOIN pj ON cp.da = pj.da AND cp.db = pj.db
),
per AS (
  SELECT cluster, count(*) AS n_pairs, min(j) AS minj, avg(j) AS meanj,
         sum(CASE WHEN j < {_LSH_TRUE_TAU} THEN 1 ELSE 0 END) AS below
  FROM scored GROUP BY cluster
),
nsz AS (SELECT cluster, count(*) AS n_members FROM clusters GROUP BY cluster),
ranked AS (
  SELECT nsz.cluster, nsz.n_members, per.n_pairs, per.minj, per.meanj,
         per.below,
         row_number() OVER (ORDER BY nsz.n_members DESC, nsz.cluster ASC)
           AS rk
  FROM nsz JOIN per ON nsz.cluster = per.cluster
)
SELECT CAST(cluster AS BIGINT) AS cluster,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       round(minj, 4) AS min_jaccard,
       round(meanj, 4) AS mean_jaccard,
       round(below * 1.0 / n_pairs, 4) AS frac_below_tau
FROM ranked WHERE rk <= {_CHAIN_TOPK}
ORDER BY n_members DESC, cluster ASC"""


# ---------------------------------------------------------------------------
# Ranking impact of dedup (BM25 before vs after the keep list)
# ---------------------------------------------------------------------------

_RANKIMPACT_TERMS = 5
_RANKIMPACT_K = 10


def q_dedup_rank_impact(spark, sf_dir):
    """What dedup does to RANKING: for the {t} highest-df terms as
    single-term queries, the BM25 top-{k} on the full corpus vs the
    top-{k} recomputed on the post-dedup keep list (df, avgdl and
    n_docs all shift when duplicates leave) — overlap@{k} plus how many
    of the full-corpus top-{k} were REMOVED by dedup vs merely
    re-ranked.  The audit that separates "dedup changed relevance"
    from "dedup removed redundant copies of the same result" — the
    difference between a ranking regression and the intended effect.

    Determinism: both sides rank on 4-decimal-rounded scores with
    doc_id tiebreaks; counts integer.  Scale shape: both BM25 passes
    are the _scored plan (term filter pushed below the tf agg, 1-row
    broadcast stats); the keep side pre-joins the keep list into the
    token stream before aggregation (left_semi on doc_id, the dedup
    anti-join's complement); top-{k}s are per-term rank windows and
    the overlap join is {t}×{k}-row sized.
    """.format(t=_RANKIMPACT_TERMS, k=_RANKIMPACT_K)
    from pyspark.sql import Window

    toks = _tokens(spark, sf_dir)
    top_terms = [
        r["term"]
        for r in toks.select("term", "doc_id").distinct()
        .groupBy("term").agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(_RANKIMPACT_TERMS).collect()
    ]

    def topk(scored_df):
        w = Window.partitionBy("term").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        return (
            scored_df.withColumn("score", _r4(F.col("score")))
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= _RANKIMPACT_K)
            .select("term", "doc_id")
        )

    full_top = topk(_scored(spark, sf_dir, top_terms))

    keep = q_dedup_keep(spark, sf_dir)
    # dl/avgdl/df need ALL surviving tokens, so the keep filter applies
    # to docs (left_semi), not terms
    ktoks = toks.join(keep, "doc_id", "left_semi")
    # recompute the whole BM25 core on the kept subset
    ktf = ktoks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    kdl = ktoks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    kstats = kdl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    kdf = ktf.groupBy("term").agg(F.count("*").alias("df"))
    ktf_q = ktf.filter(F.col("term").isin(*top_terms))
    kscored = (
        ktf_q.join(kdf, "term").join(kdl, "doc_id")
        .crossJoin(F.broadcast(kstats))
        .select(
            "term", "doc_id",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5) + 1.0
                )
                * (F.col("tf") * (K1 + 1.0))
                / (
                    F.col("tf")
                    + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("score"),
        )
    )
    keep_top = topk(kscored)

    removed = full_top.join(keep, "doc_id", "left_anti").groupBy(
        "term"
    ).agg(F.count("*").cast("long").alias("n_removed"))
    overlap = full_top.join(keep_top, ["term", "doc_id"]).groupBy(
        "term"
    ).agg(F.count("*").cast("long").alias("n_overlap"))
    base = spark.createDataFrame(
        [(t,) for t in top_terms], "term string"
    )
    return (
        base.join(overlap, "term", "left")
        .join(removed, "term", "left")
        .select(
            "term",
            F.coalesce("n_overlap", F.lit(0)).alias("overlap_at_k"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed_by_dedup"),
        )
        .orderBy("term")
    )


SQL_DEDUP_RANK_IMPACT = f"""WITH RECURSIVE {_SHINGLES_SQL},
{_LSH_BANDS_SQL},
lpairs AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
),
edges AS (
  SELECT da AS src, db AS dst FROM lpairs
  UNION ALL SELECT db, da FROM lpairs
),
closure AS (
  SELECT src AS doc, src AS reach FROM edges
  UNION
  SELECT c.doc, e.dst FROM closure c JOIN edges e ON e.src = c.reach
),
clusters AS (SELECT doc, min(reach) AS cluster FROM closure GROUP BY doc),
keep AS (
  SELECT d.doc_id FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc FROM clusters WHERE cluster <> doc)
),
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
top_terms AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY df DESC, term ASC) AS rk
    FROM df
  ) WHERE rk <= {_RANKIMPACT_TERMS}
),
full_scored AS (
  SELECT tf.term, tf.doc_id,
         round(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * ({K1} + 1.0))
               / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl)),
               4) AS score
  FROM tf
  JOIN top_terms USING (term)
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
),
full_top AS (
  SELECT term, doc_id FROM (
    SELECT term, doc_id,
           row_number() OVER (PARTITION BY term
                              ORDER BY score DESC, doc_id ASC) AS rk
    FROM full_scored
  ) WHERE rk <= {_RANKIMPACT_K}
),
ktoks AS (SELECT t.* FROM toks t JOIN keep k ON t.doc_id = k.doc_id),
ktf AS (SELECT term, doc_id, count(*) AS tf FROM ktoks
        GROUP BY term, doc_id),
kdl AS (SELECT doc_id, count(*) AS dl FROM ktoks GROUP BY doc_id),
kstats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM kdl),
kdf AS (SELECT term, count(*) AS df FROM ktf GROUP BY term),
kscored AS (
  SELECT ktf.term, ktf.doc_id,
         round(ln((kstats.n_docs - kdf.df + 0.5) / (kdf.df + 0.5) + 1.0)
               * (ktf.tf * ({K1} + 1.0))
               / (ktf.tf + {K1}
                  * (1.0 - {B} + {B} * kdl.dl / kstats.avgdl)),
               4) AS score
  FROM ktf
  JOIN top_terms USING (term)
  JOIN kdf ON ktf.term = kdf.term
  JOIN kdl ON ktf.doc_id = kdl.doc_id
  CROSS JOIN kstats
),
keep_top AS (
  SELECT term, doc_id FROM (
    SELECT term, doc_id,
           row_number() OVER (PARTITION BY term
                              ORDER BY score DESC, doc_id ASC) AS rk
    FROM kscored
  ) WHERE rk <= {_RANKIMPACT_K}
),
ov AS (
  SELECT f.term, count(*) AS n_overlap
  FROM full_top f JOIN keep_top k
    ON f.term = k.term AND f.doc_id = k.doc_id
  GROUP BY f.term
),
rm AS (
  SELECT f.term, count(*) AS n_removed
  FROM full_top f
  WHERE f.doc_id NOT IN (SELECT doc_id FROM keep)
  GROUP BY f.term
)
SELECT t.term,
       CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS overlap_at_k,
       CAST(coalesce(rm.n_removed, 0) AS BIGINT) AS n_removed_by_dedup
FROM top_terms t
LEFT JOIN ov ON t.term = ov.term
LEFT JOIN rm ON t.term = rm.term
ORDER BY t.term"""
