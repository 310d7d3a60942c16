"""Index and BM25 catalog entries: postings, df, doc lengths, corpus stats,
BM25 single/AND/OR/NOT/phrase/NEAR/zoned, Bloom membership, shard balance,
per-term explain and the SQL re-simulations of engine statistics (pruning,
index size, codec and skip cost).  Also the plain-analyzer fragments
(tokens, tf, doc lengths, BM25 scores) the other catalog modules share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.plans import bm25

K1, B = bm25.K1, bm25.B

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

_TOKS_SQL = """
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS term,
         generate_subscripts(list_filter(regexp_split_to_array(lower(text),
                            '[^a-z0-9]+'), x -> x <> ''), 1) AS pos
  FROM documents
)"""

_BM25_CORE_SQL = _TOKS_SQL + """,
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.term, tf.doc_id,
         ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
         * (tf.tf * (1.2 + 1.0))
         / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS score
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
)"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, pos) with 1-based pos — plain analyzer."""
    arr = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != "")
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.posexplode(arr).alias("p0", "term"))
        .select("doc_id", "term", (F.col("p0") + 1).cast("long").alias("pos"))
    )


def _tf(spark, sf_dir) -> DataFrame:
    return _tokens(spark, sf_dir).groupBy("term", "doc_id").agg(
        F.count("*").alias("tf")
    )


def _dl(spark, sf_dir) -> DataFrame:
    return _tokens(spark, sf_dir).groupBy("doc_id").agg(F.count("*").alias("dl"))


def _scored(spark, sf_dir, terms: list[str] | None = None) -> DataFrame:
    """Value-identical to the oracle's `scored` CTE, but planned the way a
    query engine would: the query-term filter is pushed BELOW the tf
    aggregation (a term's df only counts docs containing that term, so
    filtering first changes nothing), corpus stats (n_docs, avgdl) are a
    1-ROW broadcast side plan instead of a separate driver collect job,
    and only |terms| posting lists — not the full vocabulary — reach the
    tf shuffle and the dl join.  At 10^12 docs this is the difference
    between shuffling the whole inverted index per query and shuffling
    the query terms' postings."""
    toks = _tokens(spark, sf_dir)
    if terms is not None:
        toks = toks.filter(F.col("term").isin(terms))
    tf = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    dl = _dl(spark, sf_dir)
    stats = dl.agg(
        F.count("*").alias("_n_docs"), F.avg("dl").alias("_avgdl")
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    return (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "score",
            bm25.idf_col(F.col("df"), F.col("_n_docs").cast("double"))
            * bm25.weight_col(F.col("tf"), F.col("dl"), F.col("_avgdl")),
        )
        .select("term", "doc_id", "score")
    )


def _r4(c) -> F.Column:
    return F.round(c, 4)


# ---------------------------------------------------------------------------
# S/A: index build surface (postings, df, doclen, stats)
# ---------------------------------------------------------------------------

def q_postings(spark, sf_dir):
    """A1: group-by-(term,doc_id) posting construction with positions."""
    return _tokens(spark, sf_dir).groupBy("term", "doc_id").agg(
        F.count("*").cast("long").alias("tf"),
        F.min("pos").alias("first_pos"),
    )


SQL_POSTINGS = f"""WITH {_TOKS_SQL}
SELECT term, doc_id, count(*) AS tf, min(pos) AS first_pos
FROM toks GROUP BY term, doc_id"""


def q_term_df(spark, sf_dir):
    """X1: per-term document frequency."""
    return _tf(spark, sf_dir).groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )


SQL_TERM_DF = f"""WITH {_TOKS_SQL},
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id)
SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY term"""


def q_doclen(spark, sf_dir):
    """X2/docmeta: BM25 doc length per doc."""
    return _dl(spark, sf_dir).select("doc_id", F.col("dl").cast("long").alias("dl"))


SQL_DOCLEN = f"""WITH {_TOKS_SQL}
SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id"""


def q_index_stats(spark, sf_dir):
    """A7: corpus stats (exact at oracle scale)."""
    toks = _tokens(spark, sf_dir)
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    return dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        _r4(F.avg("dl")).alias("avgdl"),
    ).crossJoin(
        toks.agg(
            F.countDistinct("term").cast("long").alias("n_terms"),
            F.count("*").cast("long").alias("total_tokens"),
        )
    )


SQL_INDEX_STATS = f"""WITH {_TOKS_SQL},
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id)
SELECT (SELECT count(*) FROM dl) AS n_docs,
       (SELECT round(avg(dl), 4) FROM dl) AS avgdl,
       (SELECT count(DISTINCT term) FROM toks) AS n_terms,
       (SELECT count(*) FROM toks) AS total_tokens"""


# ---------------------------------------------------------------------------
# X/R: BM25 query execution (single, AND, OR, NOT, phrase, top-k)
# ---------------------------------------------------------------------------

def _topk_sql(select_core: str, k: int = 10) -> str:
    return f"""{select_core}
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def q_bm25_single(spark, sf_dir):
    """X1+R7/R8: single-term BM25 top-10."""
    s = _scored(spark, sf_dir, ["merge"]).filter(F.col("term") == "merge")
    return (
        s.select("doc_id", _r4("score").alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


SQL_BM25_SINGLE = f"""WITH {_BM25_CORE_SQL}
{_topk_sql("SELECT doc_id, round(score, 4) AS score FROM scored WHERE term = 'merge'")}"""


def q_bm25_and(spark, sf_dir):
    """X3: conjunction = inner join on doc_id, score = sum."""
    s = _scored(spark, sf_dir, ["merge", "join"])
    a = s.filter(F.col("term") == "merge").select("doc_id", F.col("score").alias("sa"))
    b = s.filter(F.col("term") == "join").select("doc_id", F.col("score").alias("sb"))
    return (
        a.join(b, "doc_id")
        .select("doc_id", _r4(F.col("sa") + F.col("sb")).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


SQL_BM25_AND = f"""WITH {_BM25_CORE_SQL},
a AS (SELECT doc_id, score AS sa FROM scored WHERE term = 'merge'),
b AS (SELECT doc_id, score AS sb FROM scored WHERE term = 'join')
{_topk_sql("SELECT a.doc_id AS doc_id, round(a.sa + b.sb, 4) AS score FROM a JOIN b ON a.doc_id = b.doc_id")}"""


def q_bm25_or(spark, sf_dir):
    """X4: disjunction = full outer join, coalesced sum."""
    s = _scored(spark, sf_dir, ["merge", "join"])
    a = s.filter(F.col("term") == "merge").select("doc_id", F.col("score").alias("sa"))
    b = s.filter(F.col("term") == "join").select("doc_id", F.col("score").alias("sb"))
    return (
        a.join(b, "doc_id", "full_outer")
        .select(
            "doc_id",
            _r4(
                F.coalesce(F.col("sa"), F.lit(0.0))
                + F.coalesce(F.col("sb"), F.lit(0.0))
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


SQL_BM25_OR = f"""WITH {_BM25_CORE_SQL},
a AS (SELECT doc_id, score AS sa FROM scored WHERE term = 'merge'),
b AS (SELECT doc_id, score AS sb FROM scored WHERE term = 'join')
{_topk_sql("SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, round(coalesce(a.sa, 0.0) + coalesce(b.sb, 0.0), 4) AS score FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id")}"""


def q_bm25_not(spark, sf_dir):
    """X6: anti-join NOT (the reference's unfinished operator, done right)."""
    s = _scored(spark, sf_dir, ["merge", "join"])
    a = s.filter(F.col("term") == "merge").select("doc_id", "score")
    b = s.filter(F.col("term") == "join").select("doc_id")
    return (
        a.join(b, "doc_id", "left_anti")
        .select("doc_id", _r4("score").alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


SQL_BM25_NOT = f"""WITH {_BM25_CORE_SQL},
a AS (SELECT doc_id, score FROM scored WHERE term = 'merge'),
b AS (SELECT doc_id FROM scored WHERE term = 'join')
{_topk_sql("SELECT doc_id, round(score, 4) AS score FROM a WHERE doc_id NOT IN (SELECT doc_id FROM b)")}"""


def q_bm25_phrase(spark, sf_dir):
    """X7: positional adjacency ('merge join'), phrase-tf BM25, query-time df."""
    toks = _tokens(spark, sf_dir)
    a = toks.filter(F.col("term") == "merge").select("doc_id", F.col("pos").alias("pa"))
    b = toks.filter(F.col("term") == "join").select("doc_id", F.col("pos").alias("pb"))
    starts = (
        a.join(b, "doc_id")
        .filter(F.col("pb") == F.col("pa") + 1)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("ptf"))
    )
    dl = _dl(spark, sf_dir)
    stats = dl.agg(F.count("*").alias("_n"), F.avg("dl").alias("_avgdl"))
    # phrase df INSIDE the same plan via a global window count over the
    # (small) matching set — no persist()+count() driver action; corpus
    # stats a 1-row broadcast side plan — ONE job total
    from pyspark.sql import Window

    starts = starts.withColumn("_pdf", F.count("*").over(Window.partitionBy()))
    return (
        starts.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "ptf",
            _r4(
                bm25.idf_col(F.col("_pdf").cast("double"), F.col("_n").cast("double"))
                * bm25.weight_col(F.col("ptf"), F.col("dl"), F.col("_avgdl"))
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


SQL_BM25_PHRASE = f"""WITH {_TOKS_SQL},
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
starts AS (
  SELECT a.doc_id AS doc_id, count(*) AS ptf
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'merge' AND b.term = 'join'
  GROUP BY a.doc_id
),
pdf AS (SELECT count(*) AS pdf FROM starts)
{_topk_sql('''SELECT s.doc_id AS doc_id, s.ptf AS ptf,
       round(ln((stats.n_docs - pdf.pdf + 0.5) / (pdf.pdf + 0.5) + 1.0)
             * (s.ptf * (1.2 + 1.0))
             / (s.ptf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)), 4) AS score
FROM starts s JOIN dl ON s.doc_id = dl.doc_id CROSS JOIN stats CROSS JOIN pdf''')}"""


def q_topk_tf(spark, sf_dir):
    """R8: bounded top-k by raw tf (TakeOrderedAndProject)."""
    return (
        _tf(spark, sf_dir)
        .filter(F.col("term") == "scan")
        .select("doc_id", F.col("tf").cast("long").alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("doc_id").asc())
        .limit(10)
    )


SQL_TOPK_TF = f"""WITH {_TOKS_SQL}
SELECT doc_id, count(*) AS tf FROM toks WHERE term = 'scan'
GROUP BY doc_id ORDER BY tf DESC, doc_id ASC LIMIT 10"""


# ---------------------------------------------------------------------------
# Zone-weighted BM25 (BM25F-lite): title positions boost term frequency
# ---------------------------------------------------------------------------

_ZONE_LEN = 8     # positions 1.._ZONE_LEN count as the "title" zone
_ZONE_W = 2.0     # occurrence weight inside the zone
_ZONED_TERMS = ("spark", "query")


def q_bm25_zoned(spark, sf_dir):
    """Zone-weighted BM25 (the BM25F zone-boost shape): occurrences in
    the first _ZONE_LEN token positions — the "title" zone of the flat
    synthetic docs — count _ZONE_W-fold in the term frequency before the
    usual saturation, mirroring the engine's @-title decoration (SURVEY
    §2 T3/Q5, Ranker title channel) with a SQL-checkable oracle.

    Weighted tf is a sum of 1.0/2.0 doubles, so it is EXACT in binary
    floating point — no cross-engine drift enters before the final
    score.  Plan shape matches q_bm25_*: query-term filter pushed below
    the tf aggregation, df broadcast, corpus stats as a 1-row broadcast
    side plan; disjunctive multi-term combine is a doc_id groupBy sum.
    """
    toks = _tokens(spark, sf_dir)
    wtf = (
        toks.filter(F.col("term").isin(list(_ZONED_TERMS)))
        .groupBy("term", "doc_id")
        .agg(
            F.sum(
                F.when(F.col("pos") <= _ZONE_LEN, F.lit(_ZONE_W)).otherwise(
                    F.lit(1.0)
                )
            ).alias("wtf")
        )
    )
    dl = _dl(spark, sf_dir)
    stats = dl.agg(
        F.count("*").alias("_n_docs"), F.avg("dl").alias("_avgdl")
    )
    df = wtf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        wtf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "score",
            bm25.idf_col(F.col("df"), F.col("_n_docs").cast("double"))
            * (F.col("wtf") * (K1 + 1.0))
            / (
                F.col("wtf")
                + K1
                * (1.0 - B + B * F.col("dl") / F.col("_avgdl"))
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(_r4(F.sum("score")).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


SQL_BM25_ZONED = f"""WITH {_TOKS_SQL.strip()},
wtf AS (
  SELECT term, doc_id,
         sum(CASE WHEN pos <= {_ZONE_LEN} THEN {_ZONE_W} ELSE 1.0 END) AS wtf
  FROM toks WHERE term IN {str(tuple(_ZONED_TERMS))}
  GROUP BY term, doc_id
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
df AS (SELECT term, count(*) AS df FROM wtf GROUP BY term),
scored AS (
  SELECT w.doc_id,
         ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
         * (w.wtf * ({K1} + 1.0))
         / (w.wtf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl)) AS score
  FROM wtf w
  JOIN df ON w.term = df.term
  JOIN dl ON w.doc_id = dl.doc_id
  CROSS JOIN stats
)
{_topk_sql("SELECT doc_id, round(sum(score), 4) AS score"
           " FROM scored GROUP BY doc_id")}"""


# ---------------------------------------------------------------------------
# Bloom-filter membership (the reference's S5 bloom state, made exact)
# ---------------------------------------------------------------------------

_BLOOM_M = 1024   # filter bits
_BLOOM_K = 3      # hash functions
_BLOOM_BASE = tuple(f"src{i}" for i in range(10))  # "already crawled" set


def q_bloom_filter(spark, sf_dir):
    """Bloom-filter membership test — the reference's crawl-dedup bloom
    state (SURVEY §2 S5, Bloom.cpp persisted frontier filter) as a
    relational operator with its false positives surfaced: build a
    _BLOOM_M-bit / _BLOOM_K-hash filter over the content hashes of the
    "already crawled" half of the corpus (_BLOOM_BASE sources), then
    probe EVERY document and report the bloom verdict next to the true
    membership.

    The 100 TB point: the filter is _BLOOM_M bits of FIXED state — here
    materialized as the distinct set-bit table (<= m rows, broadcast to
    the probe side), versus the unbounded distinct-key state of an
    exact anti-join; a probe is k integer hashes + a broadcast-join
    count, no shuffle of the big side.  Bit positions use the md5-
    prefix hash both engines compute identically, so the filter —
    including which non-members false-positive — is reproduced
    bit-for-bit by the oracle.  With n/m sized for a measurable FP rate
    (~12%), the fp column proves the filter is a real bloom, not an
    exact set in disguise.
    """
    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", F.md5("text").alias("key")
    )
    ks = F.array(*[F.lit(j) for j in range(_BLOOM_K)])
    probes = docs.select(
        "doc_id",
        "source",
        F.explode(ks).alias("j"),
        F.col("key"),
    ).select(
        "doc_id",
        "source",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat("key", F.lit("#"), F.col("j"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % _BLOOM_M
        ).alias("bit"),
    )
    bits = (
        probes.where(F.col("source").isin(list(_BLOOM_BASE)))
        .select("bit")
        .distinct()
    )
    hit = (
        probes.join(F.broadcast(bits), "bit", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("nbits"))
    )
    return (
        docs.join(hit, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("source").isin(list(_BLOOM_BASE)), 1)
            .otherwise(0)
            .cast("long")
            .alias("in_base"),
            F.when(F.coalesce("nbits", F.lit(0)) == _BLOOM_K, 1)
            .otherwise(0)
            .cast("long")
            .alias("bloom_hit"),
        )
        .withColumn(
            "fp",
            ((F.col("bloom_hit") == 1) & (F.col("in_base") == 0))
            .cast("long"),
        )
    )


SQL_BLOOM_FILTER = f"""WITH docs AS (
  SELECT doc_id, source, md5(text) AS key FROM documents
),
probes AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(key || '#' || j), 1, 8))::UBIGINT
              % {_BLOOM_M} AS BIGINT) AS bit
  FROM docs CROSS JOIN (SELECT unnest(range({_BLOOM_K})) AS j)
),
bits AS (
  SELECT DISTINCT bit FROM probes WHERE source IN {str(_BLOOM_BASE)}
),
hit AS (
  SELECT doc_id, count(*) AS nbits
  FROM probes WHERE bit IN (SELECT bit FROM bits)
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(CASE WHEN d.source IN {str(_BLOOM_BASE)} THEN 1 ELSE 0 END
            AS BIGINT) AS in_base,
       CAST(CASE WHEN coalesce(hit.nbits, 0) = {_BLOOM_K} THEN 1 ELSE 0 END
            AS BIGINT) AS bloom_hit,
       CAST(CASE WHEN coalesce(hit.nbits, 0) = {_BLOOM_K}
                  AND d.source NOT IN {str(_BLOOM_BASE)}
            THEN 1 ELSE 0 END AS BIGINT) AS fp
FROM docs d LEFT JOIN hit ON d.doc_id = hit.doc_id
ORDER BY d.doc_id"""


# ---------------------------------------------------------------------------
# NEAR/k proximity retrieval (X7 generalized: window instead of adjacency)
# ---------------------------------------------------------------------------

_NEAR_W = 3   # max |pos_b - pos_a| for a proximity hit


def q_bm25_near(spark, sf_dir):
    """NEAR/k proximity retrieval: docs where 'merge' and 'join' occur
    within _NEAR_W positions of each other, scored like the phrase
    operator (X7) but with the adjacency test widened to a window — the
    classic fulltext NEAR operator the reference's phrase ISR is the
    k=1 special case of.  near-tf counts the DISTINCT anchor-term
    positions that have a partner in range (so clustered partners don't
    double-count an anchor), near-df comes from the same window-count
    trick as q_bm25_phrase, and the BM25 mix is identical.

    Scale shape: positions reach the join only for the two query terms
    (filter below the posexplode output — at 10^12 docs this is two
    posting lists, not the corpus), the position join is per-doc equi on
    doc_id with the window test as a residual filter, and the df/stats
    sides are 1-row broadcasts.  In the packed engine this same shape is
    served by the positional kernel with a widened gap test
    (plans/packed_exec.py X7 kernel).
    """
    toks = _tokens(spark, sf_dir)
    a = toks.filter(F.col("term") == "merge").select("doc_id", F.col("pos").alias("pa"))
    b = toks.filter(F.col("term") == "join").select("doc_id", F.col("pos").alias("pb"))
    hits = (
        a.join(b, "doc_id")
        .filter(F.abs(F.col("pb") - F.col("pa")) <= _NEAR_W)
        .groupBy("doc_id")
        .agg(F.count_distinct("pa").cast("long").alias("ntf"))
    )
    dl = _dl(spark, sf_dir)
    stats = dl.agg(F.count("*").alias("_n"), F.avg("dl").alias("_avgdl"))
    from pyspark.sql import Window

    hits = hits.withColumn("_ndf", F.count("*").over(Window.partitionBy()))
    return (
        hits.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "ntf",
            _r4(
                bm25.idf_col(F.col("_ndf").cast("double"), F.col("_n").cast("double"))
                * bm25.weight_col(F.col("ntf"), F.col("dl"), F.col("_avgdl"))
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


SQL_BM25_NEAR = f"""WITH {_TOKS_SQL},
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
hits AS (
  SELECT a.doc_id AS doc_id, count(DISTINCT a.pos) AS ntf
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id
   AND abs(b.pos - a.pos) <= {_NEAR_W}
  WHERE a.term = 'merge' AND b.term = 'join'
  GROUP BY a.doc_id
),
ndf AS (SELECT count(*) AS ndf FROM hits)
{_topk_sql('''SELECT h.doc_id AS doc_id, h.ntf AS ntf,
       round(ln((stats.n_docs - ndf.ndf + 0.5) / (ndf.ndf + 0.5) + 1.0)
             * (h.ntf * (1.2 + 1.0))
             / (h.ntf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)), 4) AS score
FROM hits h JOIN dl ON h.doc_id = dl.doc_id CROSS JOIN stats CROSS JOIN ndf''')}"""


# ---------------------------------------------------------------------------
# Term-shard balance report
# ---------------------------------------------------------------------------

_SHARDS = 32   # dictionary shards (the A4 term-shard layout)


def q_shard_balance(spark, sf_dir):
    """Term-shard skew report — the operational statistic behind the A4
    dictionary sharding and hot-shard salting decisions: assign every
    term to one of _SHARDS shards by md5 prefix (the same
    engine-portable hash both engines compute bit-identically), and
    report each shard's vocabulary size, posting mass (sum of df), and
    skew = mass / mean shard mass.  A skew ratio near 1.0 everywhere
    means term-hash partitioning holds at 10^12 docs; a hot shard says
    salt its head terms.

    Scale shape: df is a map-side-combinable distinct-doc count keyed
    on term; the shard rollup collapses to _SHARDS rows before the skew
    window (window input is 32 rows, never the vocabulary).
    """
    from pyspark.sql import Window

    df = _tf(spark, sf_dir).groupBy("term").agg(
        F.count("*").alias("df")
    )
    shard = F.pmod(
        F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long"),
        F.lit(_SHARDS),
    ).cast("long")
    per = df.groupBy(shard.alias("shard")).agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("df").cast("long").alias("postings"),
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per.select(
        "shard",
        "n_terms",
        "postings",
        _r4(F.col("postings") / F.avg("postings").over(w)).alias("skew"),
    ).orderBy(F.col("shard").asc())


SQL_SHARD_BALANCE = f"""WITH {_TOKS_SQL},
tf AS (SELECT term, doc_id FROM toks GROUP BY term, doc_id),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
per AS (
  SELECT CAST(CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT)
              % {_SHARDS} AS BIGINT) AS shard,
         count(*) AS n_terms, sum(df) AS postings
  FROM df GROUP BY 1
)
SELECT shard, CAST(n_terms AS BIGINT) AS n_terms,
       CAST(postings AS BIGINT) AS postings,
       round(postings / avg(postings) OVER (), 4) AS skew
FROM per ORDER BY shard ASC"""


# ---------------------------------------------------------------------------
# Block-max WAND pruning statistics (index-efficiency measurement)
# ---------------------------------------------------------------------------

_WAND_PAIRS = [("data", "join"), ("merge", "query"), ("spark", "data")]
_WAND_BLOCK = 128
_WAND_K = 10


def q_wand_prune_stats(spark, sf_dir):
    """Block-max WAND pruning effectiveness (Ding & Suel, SIGIR 2011),
    measured as a relational plan over the same 128-doc blocks the
    packed engine's A3 skip headers use: for each 2-term OR query,
    theta = the k-th best exact rounded score, each term's per-block
    max contributes an upper bound ub(d) = sum of the doc's block maxes
    (0 when the term has no posting in the block), and a candidate doc
    is PRUNED when ub < theta — the exact skip decision the engine's
    WAND gate makes, so prune_pct is the fraction of candidate docs a
    block-max index never scores.  Lossless by construction (any doc
    with true score >= theta has ub >= score >= theta); the test
    asserts it.

    Scale shape: only the pairs' posting lists are scanned (term filter
    below the tf agg); block maxes aggregate map-side on (term,
    block_id); theta is a K-row broadcast from a distributed
    TakeOrdered; output is one row per query pair.
    """
    terms = sorted({t for p in _WAND_PAIRS for t in p})
    pairs = spark.createDataFrame(
        [(a, b, f"{a}+{b}") for a, b in _WAND_PAIRS], "ta string, tb string, pair string"
    )
    s = _scored(spark, sf_dir, terms).select(
        "term", "doc_id", _r4("score").alias("s"),
        (F.floor(F.col("doc_id") / _WAND_BLOCK)).alias("blk"),
    )
    # per (pair, doc) exact OR score over the pair's matched terms
    hits = (
        s.join(F.broadcast(pairs),
               (F.col("term") == F.col("ta")) | (F.col("term") == F.col("tb")))
        .select("pair", "doc_id", "blk", "term", "s")
    )
    doc_tot = hits.groupBy("pair", "doc_id", "blk").agg(
        F.sum("s").alias("tot")
    )
    from pyspark.sql import Window

    wk = Window.partitionBy("pair").orderBy(
        F.col("tot").desc(), F.col("doc_id").asc()
    )
    theta = (
        doc_tot.withColumn("_r", F.row_number().over(wk))
        .filter(F.col("_r") <= _WAND_K)
        .groupBy("pair")
        .agg(F.min("tot").alias("theta"))
    )
    # per (pair, term, block) max — the A3 block-max header
    bmax = hits.groupBy("pair", "term", "blk").agg(F.max("s").alias("bm"))
    ub = bmax.groupBy("pair", "blk").agg(F.sum("bm").alias("ub"))
    return (
        doc_tot.join(ub, ["pair", "blk"])
        .join(F.broadcast(theta), "pair")
        .groupBy("pair", "theta")
        .agg(
            F.count("*").cast("long").alias("n_candidates"),
            F.sum(F.when(F.col("ub") < F.col("theta"), 1).otherwise(0))
            .cast("long").alias("n_pruned"),
        )
        .select(
            "pair", "theta", "n_candidates", "n_pruned",
            _r4(F.col("n_pruned") / F.col("n_candidates")).alias("prune_pct"),
        )
        .orderBy("pair")
    )


SQL_WAND_PRUNE_STATS = f"""WITH {_BM25_CORE_SQL},
pairs AS (
  SELECT * FROM (VALUES ('data', 'join', 'data+join'),
                        ('merge', 'query', 'merge+query'),
                        ('spark', 'data', 'spark+data'))
  AS t(ta, tb, pair)
),
hits AS (
  SELECT p.pair, s.doc_id, CAST(floor(s.doc_id / {_WAND_BLOCK}) AS BIGINT)
           AS blk, s.term, round(s.score, 4) AS s
  FROM scored s JOIN pairs p ON s.term = p.ta OR s.term = p.tb
),
doc_tot AS (
  SELECT pair, doc_id, blk, sum(s) AS tot
  FROM hits GROUP BY pair, doc_id, blk
),
theta AS (
  SELECT pair, min(tot) AS theta FROM (
    SELECT pair, tot,
           row_number() OVER (PARTITION BY pair
                              ORDER BY tot DESC, doc_id ASC) AS r
    FROM doc_tot) WHERE r <= {_WAND_K} GROUP BY pair
),
bmax AS (
  SELECT pair, term, blk, max(s) AS bm FROM hits GROUP BY pair, term, blk
),
ub AS (SELECT pair, blk, sum(bm) AS ub FROM bmax GROUP BY pair, blk)
SELECT d.pair, t.theta, CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN u.ub < t.theta THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pruned,
       round(sum(CASE WHEN u.ub < t.theta THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS prune_pct
FROM doc_tot d
JOIN ub u ON d.pair = u.pair AND d.blk = u.blk
JOIN theta t ON d.pair = t.pair
GROUP BY d.pair, t.theta
ORDER BY d.pair"""


# ---------------------------------------------------------------------------
# Posting-list codec cost model (varbyte vs Elias-gamma, A2 sizing)
# ---------------------------------------------------------------------------

def q_codec_cost(spark, sf_dir):
    """Codec cost model for the A2 posting compressor: encode every
    posting list's docid gaps under varbyte (what the engine ships,
    operators/codec.py) and Elias-gamma, integer-exactly, and roll the
    byte counts up by power-of-two df buckets —
    the measurement behind the classic result that gamma wins on dense
    head lists (small gaps cost a few bits vs varbyte's 1-byte floor)
    while varbyte wins sparse tail lists (a 20-bit gap costs 39 gamma
    bits vs 24 varbyte bits) and decodes faster everywhere — which is
    why the engine ships varbyte (A2) and this entry quantifies what
    that choice pays per df bucket.  varbyte bytes per
    gap = ceil(bitlen/7); gamma bits per gap = 2*bitlen - 1; per-list
    gamma bytes = ceil(total bits / 8).  All bit lengths via
    length(bin(x)) string arithmetic — no floating log2 on power
    boundaries.

    Scale shape: the gap window partitions by term ordered by doc_id —
    the exact shuffle the index merge itself runs (A6) — then two
    nested map-side-combinable aggregates (per-term, per-bucket); the
    output is a <=64-row rollup.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("term").orderBy("doc_id")
    gaps = (
        _tf(spark, sf_dir)
        .select("term", "doc_id")
        .withColumn(
            "gap",
            F.col("doc_id")
            - F.coalesce(F.lag("doc_id").over(w), F.lit(-1)),
        )
    )
    bitlen = F.length(F.bin(F.col("gap")))
    per_term = (
        gaps.select(
            "term",
            F.floor((bitlen + 6) / 7).alias("vb"),
            (2 * bitlen - 1).alias("gb"),
        )
        .groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.sum("vb").alias("vb_bytes"),
            F.floor((F.sum("gb") + 7) / 8).alias("g_bytes"),
        )
    )
    bucket = (F.length(F.bin(F.col("df"))) - 1).cast("long").alias("bucket")
    return (
        per_term.groupBy(bucket)
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("df").cast("long").alias("n_postings"),
            F.sum("vb_bytes").cast("long").alias("varbyte_bytes"),
            F.sum("g_bytes").cast("long").alias("gamma_bytes"),
        )
        .withColumn(
            "gamma_vs_varbyte",
            _r4(F.col("gamma_bytes") / F.col("varbyte_bytes")),
        )
        .orderBy("bucket")
    )


SQL_CODEC_COST = f"""WITH {_TOKS_SQL},
tf AS (SELECT term, doc_id FROM toks GROUP BY term, doc_id),
gaps AS (
  SELECT term,
         doc_id - coalesce(lag(doc_id) OVER (PARTITION BY term
                                             ORDER BY doc_id), -1) AS gap
  FROM tf
),
per_gap AS (
  SELECT term, (length(bin(gap)) + 6) // 7 AS vb,
         2 * length(bin(gap)) - 1 AS gb
  FROM gaps
),
per_term AS (
  SELECT term, count(*) AS df, sum(vb) AS vb_bytes,
         (sum(gb) + 7) // 8 AS g_bytes
  FROM per_gap GROUP BY term
)
SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(df) AS BIGINT) AS n_postings,
       CAST(sum(vb_bytes) AS BIGINT) AS varbyte_bytes,
       CAST(sum(g_bytes) AS BIGINT) AS gamma_bytes,
       round(sum(g_bytes) / CAST(sum(vb_bytes) AS DOUBLE), 4)
         AS gamma_vs_varbyte
FROM per_term GROUP BY 1 ORDER BY bucket"""


# ---------------------------------------------------------------------------
# MaxScore pruning effectiveness (Turtle & Flood 1995)
# ---------------------------------------------------------------------------

_MS_QUERIES = [
    ("data", "join", "merge"),
    ("query", "spark", "hash"),
    ("scan", "filter", "sort"),
]
_MS_K = 10


def q_maxscore_prune_stats(spark, sf_dir):
    """MaxScore pruning effectiveness (Turtle & Flood, IP&M 1995) — the
    term-at-a-time dual of wand_prune_stats' document-at-a-time
    block-max gate, and the other pruning family the engine's X1-X8 ISR
    layer could adopt (reference `Indexer.hpp:165-306` scans posting
    lists unpruned; SURVEY §2 X1/R3).  For each 3-term OR query: theta
    = the k-th best exact rounded score; terms sort by their LIST max
    score ascending; the NON-ESSENTIAL set is the longest prefix whose
    cumulative max-score sum stays below theta, and any candidate doc
    whose postings touch only non-essential lists is skipped without
    scoring — lossless because its true score is bounded by that
    cumulative sum (the pytest suite asserts every skipped doc scores
    below theta).  One row per query: essential-term split, candidate
    and skippable counts, skip fraction.

    Scale shape: only the queries' posting lists are scanned (term
    filter below the tf agg in `_scored`); list maxes aggregate
    map-side to |terms| rows; theta is a K-row broadcast from a rank
    window; the essential flag joins back to hits on (query, term) —
    a |query·terms|-row broadcast; output is one row per query.
    """
    from pyspark.sql import Window

    terms = sorted({t for q in _MS_QUERIES for t in q})
    triples = spark.createDataFrame(
        [(a, b, c, f"{a}+{b}+{c}") for a, b, c in _MS_QUERIES],
        "t1 string, t2 string, t3 string, q string",
    )
    s = _scored(spark, sf_dir, terms).select(
        "term", "doc_id", _r4("score").alias("s")
    )
    hits = s.join(
        F.broadcast(triples),
        (F.col("term") == F.col("t1"))
        | (F.col("term") == F.col("t2"))
        | (F.col("term") == F.col("t3")),
    ).select("q", "term", "doc_id", "s")
    doc_tot = hits.groupBy("q", "doc_id").agg(_r4(F.sum("s")).alias("tot"))
    wk = Window.partitionBy("q").orderBy(
        F.col("tot").desc(), F.col("doc_id").asc()
    )
    theta = (
        doc_tot.withColumn("_r", F.row_number().over(wk))
        .filter(F.col("_r") <= _MS_K)
        .groupBy("q")
        .agg(F.min("tot").alias("theta"))
    )
    tmax = hits.groupBy("q", "term").agg(F.max("s").alias("tmax"))
    wt = (
        Window.partitionBy("q")
        .orderBy(F.col("tmax").asc(), F.col("term").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ess = (
        tmax.join(F.broadcast(theta), "q")
        .withColumn("cum", _r4(F.sum("tmax").over(wt)))
        .withColumn("essential", F.col("cum") >= F.col("theta"))
    )
    n_ess = ess.groupBy("q").agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum(F.when(F.col("essential"), 1).otherwise(0))
        .cast("long")
        .alias("n_essential"),
    )
    doc_flag = (
        hits.join(F.broadcast(ess.select("q", "term", "essential")),
                  ["q", "term"])
        .groupBy("q", "doc_id")
        .agg(F.max(F.col("essential").cast("int")).alias("any_ess"))
    )
    agg = doc_flag.groupBy("q").agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.sum(F.when(F.col("any_ess") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_skippable"),
    )
    return (
        agg.join(F.broadcast(theta), "q")
        .join(F.broadcast(n_ess), "q")
        .select(
            "q", "theta", "n_terms", "n_essential", "n_candidates",
            "n_skippable",
            _r4(F.col("n_skippable") / F.col("n_candidates"))
            .alias("skip_pct"),
        )
        .orderBy("q")
    )


SQL_MAXSCORE_PRUNE_STATS = f"""WITH {_BM25_CORE_SQL},
qs AS (
  SELECT * FROM (VALUES ('data', 'join', 'merge', 'data+join+merge'),
                        ('query', 'spark', 'hash', 'query+spark+hash'),
                        ('scan', 'filter', 'sort', 'scan+filter+sort'))
  AS t(t1, t2, t3, q)
),
hits AS (
  SELECT qs.q, s.term, s.doc_id, round(s.score, 4) AS s
  FROM scored s JOIN qs ON s.term IN (qs.t1, qs.t2, qs.t3)
),
doc_tot AS (
  SELECT q, doc_id, round(sum(s), 4) AS tot FROM hits GROUP BY q, doc_id
),
theta AS (
  SELECT q, min(tot) AS theta FROM (
    SELECT q, tot, row_number() OVER (PARTITION BY q
                   ORDER BY tot DESC, doc_id ASC) AS r
    FROM doc_tot) WHERE r <= {_MS_K} GROUP BY q
),
tmax AS (SELECT q, term, max(s) AS tmax FROM hits GROUP BY q, term),
ess AS (
  SELECT t.q, t.term,
         round(sum(t.tmax) OVER (PARTITION BY t.q
               ORDER BY t.tmax ASC, t.term ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
           >= th.theta AS essential
  FROM tmax t JOIN theta th ON t.q = th.q
),
ness AS (
  SELECT q, CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(CASE WHEN essential THEN 1 ELSE 0 END) AS BIGINT)
           AS n_essential
  FROM ess GROUP BY q
),
docflag AS (
  SELECT h.q, h.doc_id,
         max(CASE WHEN e.essential THEN 1 ELSE 0 END) AS any_ess
  FROM hits h JOIN ess e ON h.q = e.q AND h.term = e.term
  GROUP BY h.q, h.doc_id
),
agg AS (
  SELECT q, CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(sum(CASE WHEN any_ess = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_skippable
  FROM docflag GROUP BY q
)
SELECT a.q, th.theta, n.n_terms, n.n_essential, a.n_candidates,
       a.n_skippable,
       round(CAST(a.n_skippable AS DOUBLE) / a.n_candidates, 4) AS skip_pct
FROM agg a JOIN theta th ON a.q = th.q JOIN ness n ON a.q = n.q
ORDER BY a.q"""


# ---------------------------------------------------------------------------
# Skip-pointer cost model (Moffat & Zobel, TOIS 1996 self-indexing)
# ---------------------------------------------------------------------------

_SKIP_PAIRS = (("merge", "join"), ("hash", "join"),
               ("scan", "filter"), ("dup", "join"))


def q_skip_cost_model(spark, sf_dir):
    """Skip-pointer cost model for conjunctive queries (Moffat & Zobel,
    "Self-indexing inverted files for fast text retrieval", TOIS 1996)
    — the analysis behind the reference's A3 skip tables
    (`Posts.hpp:345-379` buckets postings exactly so seeks skip):
    intersecting a short list of p postings against a long list of L
    postings costs L+p decodes linearly; with skips every s postings it
    costs ~ceil(L/s) skip reads + p·s within-block decodes, minimized
    at s* = sqrt(L/p) giving ~2·sqrt(pL).  Per query pair: both df's,
    the linear cost, the cost at the reference's fixed-bucket policy
    s = ceil(sqrt(L)) (tuned for p=1 dictionary seeks), the
    per-query-optimal cost, and both saving ratios vs the linear
    merge.  The signs tell the story the literature tells: fixed
    sqrt(L) skips LOSE on df-balanced ANDs (negative fixed_saving —
    why engines fall back to a plain merge there) and only
    p-adaptive skipping wins once df_short << df_long
    (opt_saving > 0 on the asymmetric pair).

    Determinism: all integer arithmetic — sqrt/ceil of integers are
    correctly-rounded IEEE ops identical across engines, then cast to
    BIGINT.  Scale shape: inputs are |pairs| rows of the df aggregate
    (broadcast), output |pairs| rows — the model itself is free; it
    exists to justify the physical layout choice, like codec_cost.
    """
    terms = sorted({t for p in _SKIP_PAIRS for t in p})
    tf = _tokens(spark, sf_dir).filter(F.col("term").isin(terms)).groupBy(
        "term", "doc_id"
    ).agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    pairs = spark.createDataFrame(
        [(a, b) for a, b in _SKIP_PAIRS], "qa string, qb string"
    )
    da = df.select(F.col("term").alias("qa"), F.col("df").alias("df_a"))
    db = df.select(F.col("term").alias("qb"), F.col("df").alias("df_b"))
    j = pairs.join(F.broadcast(da), "qa").join(F.broadcast(db), "qb")
    p_, l_ = F.least("df_a", "df_b"), F.greatest("df_a", "df_b")
    s = F.ceil(F.sqrt(l_.cast("double"))).cast("long")
    skip_cost = (p_ * s + F.ceil(l_ / s)).cast("long")
    opt_cost = F.ceil(
        2.0 * F.sqrt((p_ * l_).cast("double"))
    ).cast("long")
    linear = (F.col("df_a") + F.col("df_b")).cast("long")
    return j.select(
        "qa", "qb", "df_a", "df_b",
        linear.alias("linear_cost"),
        s.alias("skip_len"),
        skip_cost.alias("skip_cost"),
        opt_cost.alias("opt_cost"),
        _r4(F.lit(1.0) - skip_cost / linear).alias("fixed_saving"),
        _r4(F.lit(1.0) - opt_cost / linear).alias("opt_saving"),
    ).orderBy("qa", "qb")


SQL_SKIP_COST_MODEL = f"""WITH {_TOKS_SQL},
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
pairs AS (SELECT * FROM (VALUES {", ".join(f"('{a}', '{b}')" for a, b in _SKIP_PAIRS)}) AS t(qa, qb)),
j AS (
  SELECT p.qa, p.qb, a.df AS df_a, b.df AS df_b,
         least(a.df, b.df) AS p_, greatest(a.df, b.df) AS l_
  FROM pairs p JOIN df a ON p.qa = a.term JOIN df b ON p.qb = b.term
),
c AS (
  SELECT qa, qb, df_a, df_b, p_, l_,
         CAST(ceil(sqrt(CAST(l_ AS DOUBLE))) AS BIGINT) AS skip_len
  FROM j
)
SELECT qa, qb, df_a, df_b,
       CAST(df_a + df_b AS BIGINT) AS linear_cost, skip_len,
       CAST(p_ * skip_len + ceil(CAST(l_ AS DOUBLE) / skip_len) AS BIGINT)
         AS skip_cost,
       CAST(ceil(2.0 * sqrt(CAST(p_ * l_ AS DOUBLE))) AS BIGINT)
         AS opt_cost,
       round(1.0 - (p_ * skip_len
                    + ceil(CAST(l_ AS DOUBLE) / skip_len))
                   / (df_a + df_b), 4) AS fixed_saving,
       round(1.0 - CAST(ceil(2.0 * sqrt(CAST(p_ * l_ AS DOUBLE)))
                        AS BIGINT) / (df_a + df_b), 4) AS opt_saving
FROM c ORDER BY qa, qb"""


# ---------------------------------------------------------------------------
# Index size breakdown by component (the Lucene .doc/.pos accounting)
# ---------------------------------------------------------------------------


def q_index_size_breakdown(spark, sf_dir):
    """Where the index bytes go: varbyte-encoded size of each posting
    component — docid gaps, term frequencies, and within-document
    position deltas — with each component's share of the total (the
    Lucene .doc vs .pos accounting; in the reference the same split is
    WordPost location deltas vs the docEnd stream, `Posts.hpp:30-96`).
    The classic result this measures: positions dominate — every
    occurrence pays a delta, while docids/tf pay once per (term, doc) —
    which is why positional data lives in a separate stream that
    conjunctive-only queries never read.

    Determinism: varbyte bytes = ceil(bitlen/7) via length(bin(x))
    string arithmetic (codec_cost's idiom), all integer.  Scale shape:
    docid gaps reuse the merge-order window partitioned by term;
    position deltas a window partitioned by (term, doc) — both are the
    shuffles the index build itself runs; the rollup is a 3-row sum.
    """
    from pyspark.sql import Window

    toks = _tokens(spark, sf_dir)
    vb = lambda c: F.ceil(  # noqa: E731
        F.length(F.bin(c)) / 7.0
    ).cast("long")
    tf = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    wd = Window.partitionBy("term").orderBy("doc_id")
    doc_bytes = tf.withColumn(
        "gap", F.col("doc_id") - F.coalesce(F.lag("doc_id").over(wd), F.lit(-1))
    ).agg(
        F.sum(vb(F.col("gap"))).alias("docids"),
        F.sum(vb(F.col("tf"))).alias("tfs"),
    )
    wp = Window.partitionBy("term", "doc_id").orderBy("pos")
    pos_bytes = toks.withColumn(
        "pd", F.col("pos") - F.coalesce(F.lag("pos").over(wp), F.lit(0))
    ).agg(F.sum(vb(F.col("pd"))).alias("positions"))
    wide = doc_bytes.crossJoin(pos_bytes).select(
        F.col("docids"), F.col("tfs"), F.col("positions"),
        (F.col("docids") + F.col("tfs") + F.col("positions")).alias("_tot"),
    )
    comps = wide.select(
        F.explode(
            F.array(
                F.struct(F.lit("docids").alias("component"),
                         F.col("docids").alias("bytes"), F.col("_tot")),
                F.struct(F.lit("positions").alias("component"),
                         F.col("positions").alias("bytes"), F.col("_tot")),
                F.struct(F.lit("tfs").alias("component"),
                         F.col("tfs").alias("bytes"), F.col("_tot")),
            )
        ).alias("c")
    ).select("c.*")
    return comps.select(
        "component",
        F.col("bytes").cast("long").alias("bytes"),
        _r4(F.col("bytes") / F.col("_tot")).alias("share"),
    ).orderBy("component")


SQL_INDEX_SIZE_BREAKDOWN = f"""WITH {_TOKS_SQL},
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id),
db AS (
  SELECT sum(CAST(ceil(length(bin(gap)) / 7.0) AS BIGINT)) AS docids,
         sum(CAST(ceil(length(bin(tf)) / 7.0) AS BIGINT)) AS tfs
  FROM (
    SELECT tf,
           doc_id - coalesce(lag(doc_id) OVER (PARTITION BY term
                                               ORDER BY doc_id), -1) AS gap
    FROM tf)
),
pb AS (
  SELECT sum(CAST(ceil(length(bin(pd)) / 7.0) AS BIGINT)) AS positions
  FROM (
    SELECT pos - coalesce(lag(pos) OVER (PARTITION BY term, doc_id
                                         ORDER BY pos), 0) AS pd
    FROM toks)
),
wide AS (SELECT db.docids, db.tfs, pb.positions,
                db.docids + db.tfs + pb.positions AS tot
         FROM db CROSS JOIN pb)
SELECT component, CAST(bytes AS BIGINT) AS bytes,
       round(CAST(bytes AS DOUBLE) / tot, 4) AS share
FROM (
  SELECT 'docids' AS component, docids AS bytes, tot FROM wide
  UNION ALL SELECT 'positions', positions, tot FROM wide
  UNION ALL SELECT 'tfs', tfs, tot FROM wide)
ORDER BY component"""


# ---------------------------------------------------------------------------
# BM25 score attribution (per-term explain for the AND query)
# ---------------------------------------------------------------------------


def q_bm25_explain(spark, sf_dir):
    """Score ATTRIBUTION for the conjunctive query 'merge AND join':
    for each of the top-10 documents, the per-term tf, the term's BM25
    contribution, and its share of the doc's total — the "why is this
    result here" explain surface every relevance-debugging session
    starts from.  A doc whose score is 95% one term is a different
    relevance story than a balanced one; the share column makes that
    difference a number.

    Determinism: ranks use the same 4-decimal rounded total and doc_id
    tiebreaks as bm25_and (whose top-10 this decomposes exactly);
    contributions and shares round at 4.  Scale shape: the attribution
    REUSES the same two-term _scored plan (term filter below the tf
    agg, 1-row broadcast stats) plus one keyed join against the
    per-(term, doc) tf relation restricted to the query terms — the
    explain costs one extra bounded join over the top-10 docs, never a
    second corpus pass."""
    from pyspark.sql import Window

    s = _scored(spark, sf_dir, ["merge", "join"])
    a = s.filter(F.col("term") == "merge").select(
        "doc_id", F.col("score").alias("sa")
    )
    b = s.filter(F.col("term") == "join").select(
        "doc_id", F.col("score").alias("sb")
    )
    top = (
        a.join(b, "doc_id")
        .select("doc_id", _r4(F.col("sa") + F.col("sb")).alias("total"))
        .orderBy(F.col("total").desc(), F.col("doc_id").asc())
        .limit(10)
    )
    w = Window.orderBy(F.col("total").desc(), F.col("doc_id").asc())
    top = top.withColumn("rank", F.row_number().over(w))
    tf = _tf(spark, sf_dir).filter(F.col("term").isin("merge", "join"))
    per = (
        top.join(s, "doc_id")
        .join(tf, ["term", "doc_id"])
        .select(
            "rank", "doc_id", "term",
            F.col("tf").cast("long").alias("tf"),
            _r4("score").alias("contribution"),
            _r4(F.col("score") / F.col("total")).alias("share"),
            "total",
        )
    )
    return per.select(
        "rank", "doc_id", "term", "tf", "contribution", "share",
        F.col("total").alias("doc_score"),
    ).orderBy("rank", "term")


SQL_BM25_EXPLAIN = f"""WITH {_BM25_CORE_SQL},
a AS (SELECT doc_id, score AS sa FROM scored WHERE term = 'merge'),
b AS (SELECT doc_id, score AS sb FROM scored WHERE term = 'join'),
top AS (
  SELECT doc_id, total,
         row_number() OVER (ORDER BY total DESC, doc_id ASC) AS rank
  FROM (
    SELECT a.doc_id, round(a.sa + b.sb, 4) AS total
    FROM a JOIN b ON a.doc_id = b.doc_id
    ORDER BY total DESC, a.doc_id ASC LIMIT 10
  )
)
SELECT top.rank, top.doc_id, s.term, CAST(tf.tf AS BIGINT) AS tf,
       round(s.score, 4) AS contribution,
       round(s.score / top.total, 4) AS share,
       top.total AS doc_score
FROM top
JOIN scored s ON s.doc_id = top.doc_id AND s.term IN ('merge', 'join')
JOIN tf ON tf.term = s.term AND tf.doc_id = s.doc_id
ORDER BY top.rank, s.term"""
