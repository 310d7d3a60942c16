"""Index and BM25 catalog entries: postings, df, doc lengths, corpus stats,
BM25 single/AND/OR/NOT/phrase/NEAR/zoned, Bloom membership, shard balance,
per-term explain and the SQL re-simulations of engine statistics (pruning,
index size, codec and skip cost); the query-side operators around them
(keywords, spelling, autocomplete, snippets, related terms, LTR features,
query likelihood, freshness, champion lists, MaxP passages, MMR, clarity,
facets, skyline, percolation) and offline NDCG/MRR/MAP evaluation.  Also
the plain-analyzer fragments (tokens, tf, doc lengths, BM25 scores) the
other catalog modules share.
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
    # (the same trick as plans/executor.py's phrase leaf)
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


_EN_STOPS = "('the','a','an','and','or','of','to','in','is','it','for','on')"


# fixed, deterministic logistic weights — stand-in for a trained
# fastText-style quality model's inference pass
_QC_W_LEN, _QC_W_STOP, _QC_W_TTR, _QC_BIAS = 0.8, 6.0, 1.5, -3.0


# ---------------------------------------------------------------------------
# tf-idf keyword extraction (top-k terms per document)
# ---------------------------------------------------------------------------

_KEYWORDS_K = 3


def q_tfidf_keywords(spark, sf_dir):
    """Per-document keyword extraction: the top-_KEYWORDS_K terms of each
    document by tf·idf (idf = ln(n_docs / df)) — the classic summary
    feature for corpus exploration and weak labeling.

    Shape at scale: the df table joins UNHINTED — its cardinality is the
    corpus vocabulary, which is unbounded on raw web text (ids, typos,
    hashes), so a forced broadcast would OOM the driver at 100 TB; the
    planner/AQE broadcasts it only when its measured size allows and
    falls back to a hash join otherwise.  n_docs is a 1-row broadcast,
    and the rank is a window PARTITIONED BY doc_id — a hash shuffle on
    the doc key, never a global sort; ranking compares the ROUNDED score
    (then term) so mathematically-tied keywords order identically across
    engines."""
    from pyspark.sql import Window

    tf = _tf(spark, sf_dir)
    ndocs = _docs(spark, sf_dir).agg(F.count("*").alias("_n"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn("tfidf", _r4(F.col("tf") * F.log(F.col("_n") / F.col("df"))))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _KEYWORDS_K)
        .select("doc_id", "term", "rank", "tfidf")
    )


SQL_TFIDF_KEYWORDS = f"""WITH {_TOKS_SQL},
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id),
nd AS (SELECT count(*) AS n FROM documents),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(nd.n / df.df), 4) AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN nd
),
ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, CAST(rank AS BIGINT) AS rank, tfidf
FROM ranked WHERE rank <= {_KEYWORDS_K}"""


# ---------------------------------------------------------------------------
# Spelling correction: edit-distance suggestion against the term dictionary
# ---------------------------------------------------------------------------

_SPELL_MIN_LEN = 5   # source terms for the synthetic misspelling set
_SPELL_NQ = 10       # number of misspelled queries
_SPELL_LEN_BAND = 2  # candidate pruning: |len(q) - len(v)| <= band


def q_spell_correct(spark, sf_dir):
    """Did-you-mean: for each misspelled query term, the vocabulary term
    with minimum Levenshtein distance (ties: higher df, then lexicographic).

    The misspelling set is derived deterministically from the corpus (top
    _SPELL_NQ terms of length >= _SPELL_MIN_LEN by df, 3rd character
    deleted) so the oracle can rebuild it.  Candidate generation is the
    scale story: a naive all-pairs edit distance against a billion-term
    vocabulary is quadratic, so candidates are pruned to same-first-char
    AND length within +/-_SPELL_LEN_BAND before any distance is computed
    (the classic dictionary-correction band; Levenshtein >= length
    difference, and a first-char typo is rare).  The tiny query set is
    broadcast against the df table, so the vocabulary is never shuffled.
    Serving-path analogue of the reference's query normalization surface
    (SURVEY §2 Q1-Q4).
    """
    from pyspark.sql import Window

    df = _tf(spark, sf_dir).groupBy("term").agg(F.count("*").alias("df"))
    qs = (
        df.where(F.length("term") >= _SPELL_MIN_LEN)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(_SPELL_NQ)
        .select(
            F.concat(
                F.expr("substring(term, 1, 2)"), F.expr("substring(term, 4)")
            ).alias("miss")
        )
        .distinct()
    )
    cand = (
        F.broadcast(qs)
        .join(
            df,
            (F.expr("substring(miss, 1, 1) = substring(term, 1, 1)"))
            & (
                F.abs(F.length("miss") - F.length("term"))
                <= _SPELL_LEN_BAND
            ),
        )
        .withColumn("dist", F.levenshtein("miss", "term"))
    )
    w = Window.partitionBy("miss").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("term")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("miss", F.col("term").alias("suggestion"), "dist", "df")
    )


SQL_SPELL_CORRECT = f"""WITH {_TOKS_SQL.strip()},
tf AS (SELECT term, doc_id FROM toks GROUP BY term, doc_id),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
qs AS (
  SELECT DISTINCT substr(term, 1, 2) || substr(term, 4) AS miss FROM (
    SELECT term, row_number() OVER (ORDER BY df DESC, term ASC) AS rn
    FROM df WHERE length(term) >= {_SPELL_MIN_LEN}
  ) WHERE rn <= {_SPELL_NQ}
),
cand AS (
  SELECT q.miss, d.term, d.df, levenshtein(q.miss, d.term) AS dist
  FROM qs q JOIN df d
    ON substr(q.miss, 1, 1) = substr(d.term, 1, 1)
   AND abs(length(q.miss) - length(d.term)) <= {_SPELL_LEN_BAND}
)
SELECT miss, term AS suggestion, dist, df FROM (
  SELECT *, row_number() OVER (
    PARTITION BY miss ORDER BY dist ASC, df DESC, term ASC) AS rn
  FROM cand
) WHERE rn = 1
ORDER BY miss"""


# ---------------------------------------------------------------------------
# Query autocomplete: per-prefix top-k completions by document frequency
# ---------------------------------------------------------------------------

_PFX_LEN = 1  # prefix length (tiny synthetic vocab; real deploys use 1..6)
_PFX_K = 3    # completions per prefix


def q_prefix_suggest(spark, sf_dir):
    """Autocomplete table: for every _PFX_LEN-char prefix in the term
    dictionary, the top-_PFX_K completions by df (ties lexicographic).

    This is the offline build of a suggestion index — at scale the df
    aggregation is the standard term shuffle and the per-prefix top-k is
    a window over the (small) vocabulary keyed by prefix; the serving
    side would range-scan the materialized (prefix, rnk) table.  Pairs
    with the reference's search-entry surface (Q9): real engines serve
    suggestions from exactly this precomputed shape.
    """
    from pyspark.sql import Window

    df = _tf(spark, sf_dir).groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("prefix").orderBy(F.desc("df"), F.asc("term"))
    return (
        df.withColumn("prefix", F.substring("term", 1, _PFX_LEN))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _PFX_K)
        .select("prefix", "term", "df", "rnk")
    )


SQL_PREFIX_SUGGEST = f"""WITH {_TOKS_SQL.strip()},
tf AS (SELECT term, doc_id FROM toks GROUP BY term, doc_id),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
SELECT prefix, term, df, rnk FROM (
  SELECT substr(term, 1, {_PFX_LEN}) AS prefix, term, df,
         row_number() OVER (
           PARTITION BY substr(term, 1, {_PFX_LEN})
           ORDER BY df DESC, term ASC) AS rnk
  FROM df
) WHERE rnk <= {_PFX_K}
ORDER BY prefix, rnk"""


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


_SNIPPET_TERM = "merge"
_SNIPPET_CTX = 30    # chars of context before the hit
_SNIPPET_LEN = 60    # total snippet length


def q_snippet_extract(spark, sf_dir):
    """Query-biased result snippets: for documents containing the query
    term, extract a _SNIPPET_LEN-char window starting _SNIPPET_CTX chars
    before the first (case-insensitive) occurrence — the result-page
    snippet the reference's BuildSearchHTML would show next to each hit.

    Scale shape: one narrow projection over the documents scan (locate +
    substring are JVM string expressions inside whole-stage codegen; no
    shuffle until the final TakeOrdered-10), and only the first 60+30
    chars around the hit ever leave the scan — never the full text.
    """
    p = F.locate(_SNIPPET_TERM, F.lower(F.col("text")))
    hit = (
        _docs(spark, sf_dir)
        .select("doc_id", p.alias("pos"), "text")
        .filter(F.col("pos") > 0)
    )
    start = F.greatest(F.lit(1), F.col("pos") - F.lit(_SNIPPET_CTX))
    return (
        hit.select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.col("text").substr(start, F.lit(_SNIPPET_LEN)).alias("snippet"),
        )
        .orderBy(F.col("doc_id").asc())
        .limit(10)
    )


SQL_SNIPPET_EXTRACT = f"""WITH hit AS (
  SELECT doc_id,
         CAST(strpos(lower(text), '{_SNIPPET_TERM}') AS BIGINT) AS pos,
         text
  FROM documents WHERE strpos(lower(text), '{_SNIPPET_TERM}') > 0
)
SELECT doc_id, pos,
       substr(text, CAST(greatest(1, pos - {_SNIPPET_CTX}) AS INTEGER),
              {_SNIPPET_LEN}) AS snippet
FROM hit ORDER BY doc_id ASC LIMIT 10"""


_SPLIT_PRIME = 1000003   # same int64-safe reduction as stratified_sample


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
# learning-to-rank feature export
# ---------------------------------------------------------------------------

_LTR_TERMS = ["merge", "join"]
_LTR_K = 50


def q_ltr_features(spark, sf_dir):
    """Learning-to-rank feature export: for the 2-term query, emit the
    per-candidate feature vector a reranker trains on — BM25 sum, raw tf
    sum, matched-term coverage, doc length, and earliest query-term
    position — for the top-_LTR_K stage-1 candidates.  This is the
    candidate-generation → feature-join shape of every LTR pipeline:
    features are computed only for retrieved candidates, never the
    corpus.

    Scale shape: the _scored leaf touches only the query terms' postings
    (filter below the tf agg); positions join the SAME filtered token
    slice; the final cutoff is a distributed TakeOrdered, so no global
    sort materializes.  At 10^12 docs the cost is two posting lists +
    a k-row result.
    """
    toks = _tokens(spark, sf_dir).filter(F.col("term").isin(_LTR_TERMS))
    s = _scored(spark, sf_dir, _LTR_TERMS)
    feat = (
        s.groupBy("doc_id")
        .agg(
            F.sum("score").alias("_bm25"),
            F.count("*").cast("long").alias("n_match"),
        )
    )
    tfpos = toks.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("tf_sum"),
        F.min("pos").cast("long").alias("first_pos"),
    )
    dl = _dl(spark, sf_dir)
    return (
        feat.join(tfpos, "doc_id")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            _r4("_bm25").alias("bm25"),
            "n_match",
            "tf_sum",
            F.col("dl").cast("long").alias("dl"),
            "first_pos",
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(_LTR_K)
    )


SQL_LTR_FEATURES = f"""WITH {_BM25_CORE_SQL},
feat AS (
  SELECT doc_id, round(sum(score), 4) AS bm25, count(*) AS n_match
  FROM scored WHERE term IN ('merge', 'join') GROUP BY doc_id
),
tfpos AS (
  SELECT doc_id, count(*) AS tf_sum, min(pos) AS first_pos
  FROM toks WHERE term IN ('merge', 'join') GROUP BY doc_id
)
SELECT f.doc_id, f.bm25, f.n_match, t.tf_sum, dl.dl, t.first_pos
FROM feat f JOIN tfpos t ON f.doc_id = t.doc_id
JOIN dl ON f.doc_id = dl.doc_id
ORDER BY f.bm25 DESC, f.doc_id ASC LIMIT {_LTR_K}"""


# ---------------------------------------------------------------------------
# query-likelihood retrieval (Dirichlet-smoothed LM, the BM25 alternative)
# ---------------------------------------------------------------------------

_QL_MU = 200.0   # Dirichlet pseudo-count
_QL_TERMS = ["merge", "join"]


def q_query_likelihood(spark, sf_dir):
    """Query-likelihood retrieval with Dirichlet smoothing (Ponte-Croft /
    Zhai-Lafferty): score(d) = Σ_q log((tf + μ·cf/T) / (dl + μ)) over the
    query terms, including the smoothed mass for terms the doc lacks —
    the standard LM alternative to BM25, and the second scorer every IR
    stack A/B-tests.  Top-10.

    Scale shape mirrors _scored: only the query terms' postings reach
    the tf shuffle; the collection LM (cf/T per query term) is a
    |q|-row broadcast; the missing-term smoothing is reshaped so the
    corpus is never outer-joined — score(d) = Σ_q log(μ·p_q / (dl+μ))
    + Σ_{q∈d} [log(tf + μ·p_q) - log(μ·p_q)], where the first sum is a
    per-doc expression over dl and the second touches only matching
    postings.  That identity (smooth-all + matched correction) is what
    makes LM scoring WAND-able at 10^12 docs.
    """
    toks = _tokens(spark, sf_dir)
    dl = _dl(spark, sf_dir)
    total = toks.agg(F.count("*").alias("_t"))
    cf = (
        toks.filter(F.col("term").isin(_QL_TERMS))
        .groupBy("term")
        .agg(F.count("*").alias("cf"))
        .crossJoin(F.broadcast(total))
        .select("term", (F.col("cf") / F.col("_t")).alias("p"))
    )
    tf = (
        toks.filter(F.col("term").isin(_QL_TERMS))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    # matched correction per doc: Σ log(tf + μ·p) − log(μ·p)
    corr = (
        tf.join(F.broadcast(cf), "term")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(F.col("tf") + F.lit(_QL_MU) * F.col("p"))
                - F.log(F.lit(_QL_MU) * F.col("p"))
            ).alias("_corr")
        )
    )
    # base per doc: Σ_q log(μ·p_q) − |q|·log(dl + μ)
    base_const = cf.agg(
        F.sum(F.log(F.lit(_QL_MU) * F.col("p"))).alias("_b"),
        F.count("*").alias("_nq"),
    )
    return (
        dl.crossJoin(F.broadcast(base_const))
        .join(corr, "doc_id", "left")
        .select(
            "doc_id",
            _r4(
                F.col("_b")
                - F.col("_nq") * F.log(F.col("dl") + F.lit(_QL_MU))
                + F.coalesce(F.col("_corr"), F.lit(0.0))
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


SQL_QUERY_LIKELIHOOD = f"""WITH {_TOKS_SQL},
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
total AS (SELECT count(*) AS t FROM toks),
cf AS (
  SELECT term, count(*)::DOUBLE / (SELECT t FROM total) AS p
  FROM toks WHERE term IN ('merge', 'join') GROUP BY term
),
tf AS (
  SELECT term, doc_id, count(*) AS tf FROM toks
  WHERE term IN ('merge', 'join') GROUP BY term, doc_id
),
corr AS (
  SELECT tf.doc_id,
         sum(ln(tf.tf + {_QL_MU} * cf.p) - ln({_QL_MU} * cf.p)) AS corr
  FROM tf JOIN cf ON tf.term = cf.term GROUP BY tf.doc_id
),
bc AS (SELECT sum(ln({_QL_MU} * p)) AS b, count(*) AS nq FROM cf)
{_topk_sql(f'''SELECT dl.doc_id AS doc_id,
       round(bc.b - bc.nq * ln(dl.dl + {_QL_MU})
             + coalesce(corr.corr, 0.0), 4) AS score
FROM dl CROSS JOIN bc LEFT JOIN corr ON dl.doc_id = corr.doc_id''')}"""


# ---------------------------------------------------------------------------
# related terms via posting-set Jaccard (term clustering signal)
# ---------------------------------------------------------------------------

_RT_MIN_DF = 20    # both bounds keep the self-join off the head AND the tail
_RT_MAX_DF = 400   # (wide here: the synthetic vocab is 31 near-ubiquitous
                   # terms; at web scale the band is ~[1e3, 1e5] — the
                   # MECHANISM under test is banding before the pair join)


def q_related_terms(spark, sf_dir):
    """Related-term mining: term pairs whose POSTING SETS overlap, ranked
    by Jaccard of their doc sets — the doc-level companion to the
    positional pmi_bigrams, and the signal behind 'related searches'
    term clustering.  Top-20 pairs by Jaccard (r4), pair tiebreak.

    Scale shape: the posting self-join is bounded on BOTH ends before
    any pair forms — df < _RT_MAX_DF kills head terms (a stopword's
    posting list would square), df ≥ _RT_MIN_DF kills the long tail
    (typos/ids that only add noise and rows); what remains joins on
    doc_id where each doc contributes C(terms_in_band, 2) pairs, and
    the band is enforceable per doc.  Same philosophy as the LSH band
    cap: bound the quadratic BEFORE it happens, deterministically.
    """
    tf = _tf(spark, sf_dir).select("term", "doc_id")
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    band = df.filter(
        (F.col("df") >= _RT_MIN_DF) & (F.col("df") < _RT_MAX_DF)
    )
    sel = tf.join(band, "term")
    inter = (
        sel.alias("a")
        .join(sel.alias("b"), "doc_id")
        .filter(F.col("a.term") < F.col("b.term"))
        .groupBy(
            F.col("a.term").alias("term_a"),
            F.col("b.term").alias("term_b"),
        )
        .agg(
            F.count("*").cast("long").alias("inter"),
            F.first("a.df").alias("dfa"),
            F.first("b.df").alias("dfb"),
        )
    )
    return (
        inter.select(
            "term_a",
            "term_b",
            "inter",
            _r4(
                F.col("inter")
                / (F.col("dfa") + F.col("dfb") - F.col("inter"))
            ).alias("jaccard"),
        )
        .orderBy(
            F.col("jaccard").desc(),
            F.col("term_a").asc(),
            F.col("term_b").asc(),
        )
        .limit(20)
    )


SQL_RELATED_TERMS = f"""WITH {_TOKS_SQL},
tf AS (SELECT term, doc_id FROM toks GROUP BY term, doc_id),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
band AS (SELECT term, df FROM df
         WHERE df >= {_RT_MIN_DF} AND df < {_RT_MAX_DF}),
sel AS (SELECT tf.term, tf.doc_id, band.df
        FROM tf JOIN band ON tf.term = band.term),
inter AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*) AS inter,
         any_value(a.df) AS dfa, any_value(b.df) AS dfb
  FROM sel a JOIN sel b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
)
SELECT term_a, term_b, CAST(inter AS BIGINT) AS inter,
       round(inter::DOUBLE / (dfa + dfb - inter), 4) AS jaccard
FROM inter
ORDER BY jaccard DESC, term_a ASC, term_b ASC LIMIT 20"""


# ---------------------------------------------------------------------------
# freshness-decayed ranking (time-aware retrieval)
# ---------------------------------------------------------------------------

_FRESH_TAU = 90.0   # e-folding age, days


def q_freshness_rank(spark, sf_dir):
    """Time-decayed retrieval: BM25 for 'merge' multiplied by
    exp(-age_days/τ) — the standard freshness prior for news-ish
    verticals.  Crawl ages are synthesized deterministically from doc_id
    (doc_id % 365 days old, like q_url_normalize's synthetic URLs) so
    both engines see identical inputs.  Top-10 by decayed score.

    Scale shape: the decay is a narrow per-row expression on top of the
    same pruned _scored plan (only the query term's postings shuffle);
    freshness changes the ORDER, not the plan.  In the packed engine
    the same factor folds into the WAND upper bound (w · max-decay of a
    bucket) without breaking pruning.
    """
    s = _scored(spark, sf_dir, ["merge"]).filter(F.col("term") == "merge")
    age = (F.col("doc_id") % 365).cast("double")
    return (
        s.select(
            "doc_id",
            age.cast("long").alias("age_days"),
            _r4(F.col("score") * F.exp(-age / F.lit(_FRESH_TAU))).alias(
                "score"
            ),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


SQL_FRESHNESS_RANK = f"""WITH {_BM25_CORE_SQL}
{_topk_sql(f'''SELECT doc_id, CAST(doc_id % 365 AS BIGINT) AS age_days,
       round(score * exp(-(doc_id % 365) / {_FRESH_TAU}), 4) AS score
FROM scored WHERE term = 'merge' ''')}"""


# ---------------------------------------------------------------------------
# NDCG@10 ranking-quality evaluation
# ---------------------------------------------------------------------------

_NDCG_K = 10
_NDCG_QS = ["merge", "join", "scan"]


def q_ndcg_eval(spark, sf_dir):
    """Offline ranking evaluation: NDCG@_NDCG_K of the BM25 ranking per
    query, against deterministic synthetic graded labels (rel ∈ 0..3 from
    a multiplicative hash of doc_id — the stand-in for editorial
    judgments, identical in both engines).  DCG uses the standard
    (2^rel − 1)/log2(rank+1) gain; IDCG re-ranks the SAME top-K pool by
    label (the 'local ideal' convention for pooled judgments).

    Scale shape: ranking cutoffs are per-query rank windows over the
    pruned _scored plan (only the 3 query terms' postings shuffle); the
    eval aggregate is |queries| rows.  This is the operator an IR stack
    runs on every ranker change — measurement as a first-class plan.
    """
    from pyspark.sql import Window

    s = _scored(spark, sf_dir, _NDCG_QS).filter(
        F.col("term").isin(_NDCG_QS)
    )
    w = Window.partitionBy("term").orderBy(
        F.round("score", 4).desc(), F.col("doc_id").asc()
    )
    top = (
        s.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _NDCG_K)
        .withColumn(
            "rel",
            F.pmod(
                (F.col("doc_id") % _SPLIT_PRIME) * F.lit(2654435761),
                F.lit(4),
            ).cast("double"),
        )
        .withColumn(
            "gain",
            (F.pow(F.lit(2.0), F.col("rel")) - 1.0)
            / (F.log(F.col("rank") + 1.0) / F.log(F.lit(2.0))),
        )
    )
    iw = Window.partitionBy("term").orderBy(
        F.col("rel").desc(), F.col("doc_id").asc()
    )
    ideal = top.withColumn("irank", F.row_number().over(iw)).withColumn(
        "igain",
        (F.pow(F.lit(2.0), F.col("rel")) - 1.0)
        / (F.log(F.col("irank") + 1.0) / F.log(F.lit(2.0))),
    )
    return (
        ideal.groupBy("term")
        .agg(
            _r4(
                F.sum("gain") / F.greatest(F.sum("igain"), F.lit(1e-12))
            ).alias("ndcg"),
            F.count("*").cast("long").alias("judged"),
        )
        .orderBy("term")
    )


SQL_NDCG_EVAL = f"""WITH {_BM25_CORE_SQL},
top AS (
  SELECT term, doc_id, rank,
         CAST(((doc_id % {_SPLIT_PRIME}) * 2654435761) % 4 AS DOUBLE) AS rel
  FROM (
    SELECT term, doc_id, row_number() OVER (
      PARTITION BY term ORDER BY round(score, 4) DESC, doc_id ASC) AS rank
    FROM scored WHERE term IN ('merge', 'join', 'scan'))
  WHERE rank <= {_NDCG_K}
),
gains AS (
  SELECT term, doc_id, rel,
         (pow(2.0, rel) - 1.0) / (ln(rank + 1.0) / ln(2.0)) AS gain,
         row_number() OVER (PARTITION BY term
                            ORDER BY rel DESC, doc_id ASC) AS irank
  FROM top
)
SELECT term,
       round(sum(gain)
             / greatest(sum((pow(2.0, rel) - 1.0)
                            / (ln(irank + 1.0) / ln(2.0))), 1e-12), 4)
         AS ndcg,
       count(*) AS judged
FROM gains GROUP BY term ORDER BY term"""


# ---------------------------------------------------------------------------
# percolation / reverse search (stored-query alerting)
# ---------------------------------------------------------------------------

_PERC_QUERIES = [
    # (qid, mode, terms) — the stored alert table (Elasticsearch
    # percolator shape); terms drawn from the synthetic vocabulary
    (1, "and", ["merge", "join"]),
    (2, "and", ["hash", "join", "spark"]),
    (3, "or", ["vector", "window"]),
    (4, "and", ["scan", "filter"]),
    (5, "or", ["dup", "stream"]),
    (6, "and", ["merge", "sort", "batch"]),
]


def q_percolate(spark, sf_dir):
    """Reverse search (percolation): match every document against a STORED
    query table — the alerting/subscription primitive (saved searches,
    brand monitoring) where the queries are the index and the doc is the
    probe.  AND queries need every term present, OR queries any.  Output:
    per stored query, how many docs fire it.

    Scale shape: the stored-query term table is tiny and broadcast (an
    alert table is KB-MB even with millions of alerts after term
    sharding); one pass over DISTINCT (doc, term) pairs joins it, the
    per-(doc, query) coverage count is map-side combinable, and the AND
    threshold is a join-free post-filter.  The corpus is scanned ONCE no
    matter how many stored queries — the whole point of percolation.
    """
    qrows = [
        (qid, mode, t, len(terms))
        for qid, mode, terms in _PERC_QUERIES
        for t in terms
    ]
    qtab = spark.createDataFrame(
        qrows, "qid int, mode string, term string, n_terms int"
    )
    dt = _tf(spark, sf_dir).select("doc_id", "term")
    cov = (
        dt.join(F.broadcast(qtab), "term")
        .groupBy("doc_id", "qid")
        .agg(
            F.count("*").alias("hit"),
            F.first("mode").alias("mode"),
            F.first("n_terms").alias("n_terms"),
        )
    )
    fired = cov.filter(
        (F.col("mode") == "or") | (F.col("hit") == F.col("n_terms"))
    )
    return (
        fired.groupBy("qid")
        .agg(
            F.first("mode").alias("mode"),
            F.count("*").cast("long").alias("n_docs"),
        )
        .orderBy("qid")
    )


def _percolate_sql() -> str:
    vals = ", ".join(
        f"({qid}, '{mode}', '{t}', {len(terms)})"
        for qid, mode, terms in _PERC_QUERIES
        for t in terms
    )
    return f"""WITH {_TOKS_SQL},
dt AS (SELECT DISTINCT doc_id, term FROM toks),
qtab(qid, mode, term, n_terms) AS (VALUES {vals}),
cov AS (
  SELECT d.doc_id, q.qid, count(*) AS hit,
         any_value(q.mode) AS mode, any_value(q.n_terms) AS n_terms
  FROM dt d JOIN qtab q ON d.term = q.term
  GROUP BY d.doc_id, q.qid
)
SELECT qid, any_value(mode) AS mode, CAST(count(*) AS BIGINT) AS n_docs
FROM cov WHERE mode = 'or' OR hit = n_terms
GROUP BY qid ORDER BY qid"""


SQL_PERCOLATE = _percolate_sql()


# ---------------------------------------------------------------------------
# MRR / MAP ranking evaluation (binary-relevance companion to ndcg_eval)
# ---------------------------------------------------------------------------

def q_mrr_map_eval(spark, sf_dir):
    """Reciprocal rank and average precision of the BM25 top-K per query,
    under a binary cut (grade >= 2) of the same deterministic synthetic
    labels ndcg_eval uses.  RR = 1/rank of the first relevant result
    (0.0 when none lands in the pool); AP follows the pooled convention:
    precision@k summed at relevant ranks, normalised by the number of
    relevant docs IN the pool.  Together with ndcg_eval this is the
    standard offline eval triple an IR stack reruns on every ranker
    change.

    Scale shape: identical to ndcg_eval — per-query rank windows over the
    term-pruned _scored plan (only the |queries| terms' postings
    shuffle), then window sums over the <=K-row pool and a |queries|-row
    aggregate.
    """
    from pyspark.sql import Window

    s = _scored(spark, sf_dir, _NDCG_QS).filter(
        F.col("term").isin(_NDCG_QS)
    )
    w = Window.partitionBy("term").orderBy(
        F.round("score", 4).desc(), F.col("doc_id").asc()
    )
    top = (
        s.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _NDCG_K)
        .withColumn(
            "rel",
            F.when(
                F.pmod(
                    (F.col("doc_id") % _SPLIT_PRIME) * F.lit(2654435761),
                    F.lit(4),
                )
                >= 2,
                F.lit(1.0),
            ).otherwise(F.lit(0.0)),
        )
    )
    cw = (
        Window.partitionBy("term")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = top.withColumn("cum_rel", F.sum("rel").over(cw))
    return (
        cum.groupBy("term")
        .agg(
            _r4(F.max(F.col("rel") / F.col("rank"))).alias("rr"),
            _r4(
                F.sum(F.col("rel") * F.col("cum_rel") / F.col("rank"))
                / F.greatest(F.sum("rel"), F.lit(1.0))
            ).alias("ap"),
            F.sum("rel").cast("long").alias("n_rel"),
        )
        .orderBy("term")
    )


SQL_MRR_MAP_EVAL = f"""WITH {_BM25_CORE_SQL},
top AS (
  SELECT term, doc_id, rank,
         CASE WHEN ((doc_id % {_SPLIT_PRIME}) * 2654435761) % 4 >= 2
              THEN 1.0 ELSE 0.0 END AS rel
  FROM (
    SELECT term, doc_id, row_number() OVER (
      PARTITION BY term ORDER BY round(score, 4) DESC, doc_id ASC) AS rank
    FROM scored WHERE term IN ('merge', 'join', 'scan'))
  WHERE rank <= {_NDCG_K}
),
cums AS (
  SELECT term, rank, rel,
         sum(rel) OVER (PARTITION BY term ORDER BY rank
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_rel
  FROM top
)
SELECT term,
       round(max(rel / rank), 4) AS rr,
       round(sum(rel * cum_rel / rank) / greatest(sum(rel), 1.0), 4) AS ap,
       CAST(sum(rel) AS BIGINT) AS n_rel
FROM cums GROUP BY term ORDER BY term"""


_CHAMPION_C = 32
_CHAMPION_TERMS = ["merge", "sort"]


def q_champion_topk(spark, sf_dir):
    """Impact-ordered champion lists (static index pruning, Manning IR
    §7.1.3): each query term's posting list is cut to its _CHAMPION_C
    highest-tf docs BEFORE scoring, and the top-10 is answered from the
    champions only — the classic early-termination serving shape the
    reference's exhaustive ISR scan (isr.cpp) cannot express.

    df is the TRUE document frequency (computed before the champion
    cut), so champion BM25 scores equal the exhaustive engine's scores
    for every doc that survives the cut; only the candidate SET is
    pruned.  Ties in the cut break by doc_id so the champion set is
    deterministic across engines.

    Scale shape: the query-term filter sits below the tf aggregation,
    so only |terms| posting lists reach the shuffle; the champion cut is
    a window partitioned by term over those lists alone (never the
    vocabulary); and at serving time the scan cost per term is C docs,
    not df — at 10^12 docs champion lists are what makes head terms
    (df ~ 10^10) answerable at interactive latency.  The lists would be
    precomputed at index-build time; this entry derives them inline so
    the oracle can mirror it."""
    from pyspark.sql import Window

    toks = _tokens(spark, sf_dir).filter(F.col("term").isin(_CHAMPION_TERMS))
    tf = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    dl = _dl(spark, sf_dir)
    stats = dl.agg(F.count("*").alias("_n_docs"), F.avg("dl").alias("_avgdl"))
    w = Window.partitionBy("term").orderBy(
        F.col("tf").desc(), F.col("doc_id").asc()
    )
    champ = (
        tf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CHAMPION_C)
        .drop("rn")
    )
    scored = (
        champ.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "score",
            bm25.idf_col(F.col("df"), F.col("_n_docs").cast("double"))
            * bm25.weight_col(F.col("tf"), F.col("dl"), F.col("_avgdl")),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(_r4(F.sum("score")).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


SQL_CHAMPION_TOPK = f"""WITH {_TOKS_SQL},
tfq AS (SELECT term, doc_id, count(*) AS tf FROM toks
        WHERE term IN ('merge', 'sort') GROUP BY term, doc_id),
dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
champ AS (
  SELECT term, doc_id, tf,
         row_number() OVER (PARTITION BY term
                            ORDER BY tf DESC, doc_id ASC) AS rn
  FROM tfq
),
scored AS (
  SELECT c.doc_id,
         ln((stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
         * (c.tf * (1.2 + 1.0))
         / (c.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS score
  FROM champ c
  JOIN dfq ON c.term = dfq.term
  JOIN dl ON c.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE c.rn <= {_CHAMPION_C}
)
SELECT doc_id, round(sum(score), 4) AS score FROM scored
GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 10"""


# ---------------------------------------------------------------------------
# BM25-MaxP passage retrieval
# ---------------------------------------------------------------------------

_MAXP_W = 50   # passage width in tokens (disjoint windows)


def q_bm25_maxp(spark, sf_dir):
    """BM25-MaxP passage retrieval (Callan 1994; Dai & Callan 2019's
    baseline): chop every document into disjoint _MAXP_W-token
    passages, score each passage with BM25 computed over PASSAGE-level
    statistics (passage df, passage count, average passage length —
    long documents no longer hide a relevant paragraph behind a huge
    dl normalizer), and score the document as its best passage.
    Query 'merge join' (sum over terms per passage), top-10 docs with
    the winning passage index.

    Scale shape: the query-term filter is pushed below the tf
    aggregate (only matching tokens shuffle); the per-term passage df
    is a ≤|query|-row broadcast; passage stats are a 1-row broadcast
    side plan; best-passage is a window partitioned BY DOC over the
    per-passage sums (no global sort), and the final cut is top-k.
    """
    from pyspark.sql import Window

    terms = ["merge", "join"]
    ptok = _tokens(spark, sf_dir).select(
        "doc_id",
        "term",
        F.floor((F.col("pos") - 1) / _MAXP_W).cast("long").alias("pid"),
    )
    pl = ptok.groupBy("doc_id", "pid").agg(F.count("*").alias("pl"))
    stats = pl.agg(
        F.count("*").alias("n_pass"), F.avg("pl").alias("avgpl")
    )
    tf = (
        ptok.filter(F.col("term").isin(terms))
        .groupBy("term", "doc_id", "pid")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_pass") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    score = idf * (F.col("tf") * (1.2 + 1.0)) / (
        F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * F.col("pl") / F.col("avgpl"))
    )
    scored = (
        tf.join(pl, ["doc_id", "pid"])
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "pid", score.alias("s"))
    )
    psum = scored.groupBy("doc_id", "pid").agg(F.sum("s").alias("s"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("s").desc(), F.col("pid").asc()
    )
    return (
        psum.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", F.col("pid").alias("passage"), _r4("s").alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


SQL_BM25_MAXP = f"""WITH {_TOKS_SQL},
ptok AS (SELECT doc_id, term,
                CAST((pos - 1) // {_MAXP_W} AS BIGINT) AS pid FROM toks),
pl AS (SELECT doc_id, pid, count(*) AS pl FROM ptok GROUP BY doc_id, pid),
stats AS (SELECT count(*) AS n_pass, avg(pl) AS avgpl FROM pl),
tf AS (SELECT term, doc_id, pid, count(*) AS tf FROM ptok
       WHERE term IN ('merge', 'join') GROUP BY term, doc_id, pid),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.pid,
         ln((stats.n_pass - df.df + 0.5) / (df.df + 0.5) + 1.0)
         * (tf.tf * (1.2 + 1.0))
         / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * pl.pl / stats.avgpl)) AS s
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN pl ON tf.doc_id = pl.doc_id AND tf.pid = pl.pid
  CROSS JOIN stats
),
psum AS (SELECT doc_id, pid, sum(s) AS s FROM scored GROUP BY doc_id, pid),
best AS (
  SELECT doc_id, pid, s,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY s DESC, pid ASC) AS rn
  FROM psum
)
SELECT doc_id, pid AS passage, round(s, 4) AS score
FROM best WHERE rn = 1
ORDER BY score DESC, doc_id ASC LIMIT 10"""


# ---------------------------------------------------------------------------
# MMR result diversification
# ---------------------------------------------------------------------------

_MMR_LAMBDA = 0.7   # relevance weight (1-λ penalizes redundancy)
_MMR_CAND = 50      # candidate pool (distributed TakeOrdered cut)
_MMR_K = 10         # results returned


def q_mmr_diversify(spark, sf_dir):
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein 1998)
    — the classic SERP diversification: from the top-_MMR_CAND
    candidates by cosine relevance to the query vector (vec 0), greedily
    select _MMR_K results maximizing λ·rel − (1−λ)·max-similarity to the
    already-selected set; near-duplicates of an already-chosen result
    get demoted even when highly relevant.

    Scale shape: candidate generation is the distributed part (cosine
    scan + TakeOrderedAndProject, or the IVF/int8 path at 10^12
    vectors); the greedy selection is inherently SEQUENTIAL over a
    BOUNDED 50-row pool, so it runs as one applyInPandas group on an
    executor — the standard head-node rerank shape, never a driver
    collect, never an unbounded group.  Dot products accumulate
    left-to-right in float64 on both engines (plain loop here,
    list_dot_product in the oracle).
    """
    import pandas as pd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("e").alias("qv"))
    dot = F.aggregate(
        F.zip_with("e", "qv", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "e", (dot / (nrm("e") * nrm("qv"))).alias("rel"))
        .orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(_MMR_CAND)
    )

    def _greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        rows = [
            (int(r.vec_id), [float(x) for x in r.e], float(r.rel))
            for r in pdf.itertuples()
        ]

        def _dot(a, b):
            s = 0.0
            for x, y in zip(a, b):
                s += x * y
            return s

        norms = {v: _dot(e, e) ** 0.5 for v, e, _r in rows}
        cos = {}
        for i, (va, ea, _ra) in enumerate(rows):
            for vb, eb, _rb in rows[i + 1:]:
                c = _dot(ea, eb) / (norms[va] * norms[vb])
                cos[(va, vb)] = cos[(vb, va)] = c
        selected, out = [], []
        pool = {v: r for v, _e, r in rows}
        while pool and len(selected) < _MMR_K:
            best = None
            for v, r in pool.items():
                pen = max((cos[(v, s)] for s in selected), default=0.0)
                score = _MMR_LAMBDA * r - (1 - _MMR_LAMBDA) * pen
                # ties break toward the smaller vec_id (same as the oracle)
                if best is None or score > best[0] or (
                    score == best[0] and v < best[1]
                ):
                    best = (score, v)
            score, v = best
            selected.append(v)
            out.append((len(selected), v, round(pool.pop(v), 4),
                        round(score, 4)))
        return pd.DataFrame(
            out, columns=["rank", "vec_id", "rel", "mmr"]
        )

    return (
        cand.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            lambda _k, pdf: _greedy(pdf),
            "rank long, vec_id long, rel double, mmr double",
        )
        .orderBy("rank")
    )


def _mmr_sql() -> str:
    """Unrolled greedy MMR (the pagerank/hits unrolled-CTE idiom): sel_i
    holds the first i+1 picks; each pick is an argmax over the
    remaining candidates with max-similarity-to-selected from the
    pairwise sims CTE."""
    lam, mu = _MMR_LAMBDA, 1 - _MMR_LAMBDA
    steps = []
    for i in range(1, _MMR_K):
        steps.append(f"""pick{i} AS MATERIALIZED (
  SELECT c.vec_id, c.rel, {i + 1} AS rank,
         {lam} * c.rel - {mu} * (
           SELECT max(s.sim) FROM sims s
           JOIN sel{i - 1} t ON s.bv = t.vec_id
           WHERE s.av = c.vec_id) AS mmr
  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
  ORDER BY mmr DESC, c.vec_id ASC LIMIT 1
),
sel{i} AS MATERIALIZED (SELECT * FROM sel{i - 1}
  UNION ALL SELECT * FROM pick{i})""")
    body = ",\n".join(steps)
    # MATERIALIZED: the unrolled picks reference cand/sims ~2x per step;
    # without it DuckDB inlines the CTEs and re-opens the parquet scan
    # once per reference (FD exhaustion + quadratic rescans).
    return f"""WITH emb AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
q AS (SELECT e AS qv FROM emb WHERE vec_id = 0),
cand AS MATERIALIZED (
  SELECT v.vec_id, v.e,
         list_dot_product(v.e, q.qv)
         / (sqrt(list_dot_product(v.e, v.e))
            * sqrt(list_dot_product(q.qv, q.qv))) AS rel
  FROM emb v CROSS JOIN q WHERE v.vec_id <> 0
  ORDER BY rel DESC, v.vec_id ASC LIMIT {_MMR_CAND}
),
sims AS MATERIALIZED (
  SELECT a.vec_id AS av, b.vec_id AS bv,
         list_dot_product(a.e, b.e)
         / (sqrt(list_dot_product(a.e, a.e))
            * sqrt(list_dot_product(b.e, b.e))) AS sim
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
),
sel0 AS MATERIALIZED (
  SELECT vec_id, rel, 1 AS rank, {lam} * rel AS mmr
  FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1
),
{body}
SELECT CAST(rank AS BIGINT) AS rank, vec_id,
       round(rel, 4) AS rel, round(mmr, 4) AS mmr
FROM sel{_MMR_K - 1} ORDER BY rank ASC"""


SQL_MMR_DIVERSIFY = _mmr_sql()


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
# Query clarity score (query performance prediction)
# ---------------------------------------------------------------------------

_CLARITY_SEEDS = ["data", "join", "merge", "query", "spark"]
_CLARITY_FB = 10


def q_clarity_score(spark, sf_dir):
    """Query clarity score (Cronen-Townsend, Zhai & Croft 2002) — the
    classic pre-retrieval-free query performance predictor: build the
    query's feedback language model P(w|Q) as the uniform mixture of
    the top-_CLARITY_FB BM25 docs' MLE models, then
    clarity = Σ_w P(w|Q)·ln(P(w|Q)/P(w|C)) — the KL divergence from the
    corpus model.  High clarity = focused result set (the engine can
    trust the ranking); low clarity = the query retrieves
    corpus-looking noise and deserves reformulation/expansion.  One row
    per seed query.

    Feedback-set determinism: docs rank by ROUNDED score with doc_id
    tiebreak (the rm1_expansion trick) so both engines pick identical
    feedback sets.  Scale shape: only the |seeds| posting lists reach
    the BM25 pass (_scored pushes the term filter below tf); the
    feedback set (≤ seeds×FB rows) and its bounded vocabulary
    BROADCAST; the corpus LM joins the small side by broadcast, so the
    vocabulary-sized ctf table is never shuffled wholesale and never
    broadcast itself (the dsir lesson).
    """
    from pyspark.sql import Window

    s = _scored(spark, sf_dir, _CLARITY_SEEDS).filter(
        F.col("term").isin(_CLARITY_SEEDS)
    )
    w = Window.partitionBy("seed").orderBy(
        F.col("s").desc(), F.col("doc_id").asc()
    )
    fb = (
        s.select(F.col("term").alias("seed"), "doc_id", _r4("score").alias("s"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _CLARITY_FB)
        .select("seed", "doc_id")
    )
    nfb = fb.groupBy("seed").agg(F.count("*").alias("n_fb"))
    tf_all = _tf(spark, sf_dir)
    dl = _dl(spark, sf_dir)
    pwd = (
        tf_all.join(F.broadcast(fb), "doc_id")
        .join(dl, "doc_id")
        .select("seed", "term", (F.col("tf") / F.col("dl")).alias("p"))
    )
    pwq = pwd.groupBy("seed", "term").agg(F.sum("p").alias("sp"))
    ctf = _tokens(spark, sf_dir).groupBy("term").agg(
        F.count("*").alias("ctf")
    )
    tot = _dl(spark, sf_dir).agg(F.sum("dl").alias("t"))
    pq = F.col("sp") / F.col("n_fb")
    pc = F.col("ctf") / F.col("t")
    return (
        ctf.join(F.broadcast(pwq), "term")
        .join(F.broadcast(nfb), "seed")
        .crossJoin(F.broadcast(tot))
        .groupBy("seed", "n_fb")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            _r4(F.sum(pq * F.log(pq / pc))).alias("clarity"),
        )
        .orderBy(F.col("seed").asc())
    )


SQL_CLARITY_SCORE = f"""WITH {_BM25_CORE_SQL},
fb AS (
  SELECT seed, doc_id FROM (
    SELECT term AS seed, doc_id,
           row_number() OVER (PARTITION BY term
                              ORDER BY round(score, 4) DESC,
                                       doc_id ASC) AS rn
    FROM scored
    WHERE term IN ('data', 'join', 'merge', 'query', 'spark'))
  WHERE rn <= {_CLARITY_FB}
),
nfb AS (SELECT seed, count(*) AS n_fb FROM fb GROUP BY seed),
pwd AS (
  SELECT f.seed, t.term, CAST(t.tf AS DOUBLE) / d.dl AS p
  FROM tf t JOIN fb f ON t.doc_id = f.doc_id
  JOIN dl d ON t.doc_id = d.doc_id
),
pwq AS (SELECT seed, term, sum(p) AS sp FROM pwd GROUP BY seed, term),
ctf AS (SELECT term, count(*) AS ctf FROM toks GROUP BY term),
tot AS (SELECT sum(dl) AS t FROM dl)
SELECT p.seed, CAST(n.n_fb AS BIGINT) AS n_fb,
       CAST(count(*) AS BIGINT) AS n_terms,
       round(sum((p.sp / n.n_fb)
                 * ln((p.sp / n.n_fb) / (c.ctf / tot.t))), 4) AS clarity
FROM pwq p
JOIN nfb n ON p.seed = n.seed
JOIN ctf c ON p.term = c.term
CROSS JOIN tot
GROUP BY p.seed, n.n_fb
ORDER BY p.seed ASC"""


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
    byte counts up by posting_histogram's power-of-two df buckets —
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
# Faceted search counts (the SERP sidebar aggregation)
# ---------------------------------------------------------------------------

_FACET_TERM = "merge"


def q_facet_counts(spark, sf_dir):
    """Faceted navigation counts for one query: every doc matching the
    query term, bucketed by each facet dimension (lang, source) — the
    sidebar aggregation every search UI renders next to the ranked
    list (and the reason engines keep doc metadata columnar next to
    the index; the reference's URLBlob packs english/TLD per doc at
    `HashBlob.h:575-578` for exactly this kind of per-result metadata
    read).

    Determinism: pure integer counts.  Scale shape: the query term's
    posting list semi-joins the metadata table on doc_id (co-keyed),
    then two map-side-combinable (facet, value) aggregates; output is
    |facet values| rows, never a corpus scan beyond the one postings
    lookup.
    """
    toks = _tokens(spark, sf_dir)
    match = (
        toks.filter(F.col("term") == _FACET_TERM)
        .select("doc_id").distinct()
    )
    meta = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    hit = meta.join(match, "doc_id")
    by_lang = hit.groupBy(F.col("lang").alias("value")).agg(
        F.count("*").cast("long").alias("n_docs")
    ).select(F.lit("lang").alias("facet"), "value", "n_docs")
    by_src = hit.groupBy(F.col("source").alias("value")).agg(
        F.count("*").cast("long").alias("n_docs")
    ).select(F.lit("source").alias("facet"), "value", "n_docs")
    return by_lang.unionByName(by_src).orderBy(
        "facet", F.col("n_docs").desc(), "value"
    )


SQL_FACET_COUNTS = f"""WITH {_TOKS_SQL},
match AS (SELECT DISTINCT doc_id FROM toks WHERE term = '{_FACET_TERM}'),
hit AS (
  SELECT d.doc_id, d.lang, d.source
  FROM documents d JOIN match USING (doc_id)
)
SELECT 'lang' AS facet, lang AS value, CAST(count(*) AS BIGINT) AS n_docs
FROM hit GROUP BY lang
UNION ALL
SELECT 'source' AS facet, source AS value, CAST(count(*) AS BIGINT)
FROM hit GROUP BY source
ORDER BY facet, n_docs DESC, value"""


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
# Skyline / Pareto frontier (Börzsönyi, Kossmann & Stocker, ICDE 2001)
# ---------------------------------------------------------------------------


def q_skyline_docs(spark, sf_dir):
    """The skyline operator (Börzsönyi et al., ICDE 2001) over the
    quality/cost plane: documents Pareto-optimal in (p_keep ↑,
    n_tokens ↓) — no other doc is at least as good on both axes and
    strictly better on one.  The selection shape behind "best N
    candidates under competing criteria" (dedup canonical pick,
    training-data budget curation) that no single weighted score can
    replicate.

    Determinism: dominance compares the 4-decimal ROUNDED p_keep and
    integer lengths only.  Scale shape: the dominance test is a
    left-anti self-join — quadratic in the worst case, so the entry
    presorts DESC by p_keep which lets block-nested-loop skylines
    terminate early; at 10^12 rows the standard distributed plan is
    grid-partition → local skyline → merge (same two-phase shape the
    engine's top-k gather uses), with THIS operator as the local step.
    """
    toks = _tokens(spark, sf_dir)
    stops = [s.strip("'") for s in _EN_STOPS.strip("()").split(",")]
    feats = toks.groupBy("doc_id").agg(
        F.avg(F.length("term")).alias("_len"),
        (F.sum(F.when(F.col("term").isin(stops), 1).otherwise(0))
         / F.count("*")).alias("_stop"),
        (F.count_distinct("term") / F.count("*")).alias("_ttr"),
        F.count("*").cast("long").alias("n_tokens"),
    )
    z = (
        F.lit(_QC_W_LEN) * F.col("_len")
        + F.lit(_QC_W_STOP) * F.col("_stop")
        + F.lit(_QC_W_TTR) * F.col("_ttr")
        + F.lit(_QC_BIAS)
    )
    pts = feats.select(
        "doc_id",
        _r4(F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("p_keep"),
        "n_tokens",
    )
    a, b = pts.alias("a"), pts.alias("b")
    dominated = a.join(
        b,
        (F.col("b.p_keep") >= F.col("a.p_keep"))
        & (F.col("b.n_tokens") <= F.col("a.n_tokens"))
        & (
            (F.col("b.p_keep") > F.col("a.p_keep"))
            | (F.col("b.n_tokens") < F.col("a.n_tokens"))
        ),
        "left_semi",
    )
    return (
        pts.join(dominated, "doc_id", "left_anti")
        .select("doc_id", "p_keep", "n_tokens")
        .orderBy(F.col("p_keep").desc(), F.col("n_tokens").asc(),
                 F.col("doc_id").asc())
    )


SQL_SKYLINE_DOCS = f"""WITH {_TOKS_SQL},
feats AS (
  SELECT doc_id, avg(length(term)) AS len,
         sum(CASE WHEN term IN {_EN_STOPS} THEN 1 ELSE 0 END) * 1.0
           / count(*) AS stop,
         count(DISTINCT term) * 1.0 / count(*) AS ttr,
         count(*) AS n_tokens
  FROM toks GROUP BY doc_id
),
pts AS (
  SELECT doc_id,
         round(1.0 / (1.0 + exp(-({_QC_W_LEN} * len + {_QC_W_STOP} * stop
                                 + {_QC_W_TTR} * ttr + ({_QC_BIAS})))), 4)
           AS p_keep,
         CAST(n_tokens AS BIGINT) AS n_tokens
  FROM feats
)
SELECT a.doc_id, a.p_keep, a.n_tokens
FROM pts a
WHERE NOT EXISTS (
  SELECT 1 FROM pts b
  WHERE b.p_keep >= a.p_keep AND b.n_tokens <= a.n_tokens
    AND (b.p_keep > a.p_keep OR b.n_tokens < a.n_tokens)
)
ORDER BY a.p_keep DESC, a.n_tokens ASC, a.doc_id ASC"""


# ---------------------------------------------------------------------------
# BM25 score attribution (per-term explain for the AND query)
# ---------------------------------------------------------------------------


def q_bm25_explain(spark, sf_dir):
    """Score ATTRIBUTION for the conjunctive query 'merge AND join':
    for each of the top-10 documents, the per-term tf, the term's BM25
    contribution, and its share of the doc's total — the "why is this
    result here" explain surface every relevance-debugging session
    starts from (and the per-feature twin of what ltr_features exports
    wholesale).  A doc whose score is 95% one term is a different
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
