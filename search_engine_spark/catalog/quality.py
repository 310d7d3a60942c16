"""Text-quality, language, token and sampling catalog entries: quality
heuristics and the fixed-weight classifier with its calibration reports,
LM cross-entropy, Kneser-Ney bigrams and perplexity buckets, language ID, token statistics,
sequence packing, PII scrubbing and the sampling/mixing selectors.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from search_engine_spark.catalog.ir import (
    _dl, _docs, _EN_STOPS, _QC_BIAS, _QC_W_LEN, _QC_W_STOP, _QC_W_TTR, _r4,
    _SPLIT_PRIME, _tf, _tokens, _TOKS_SQL,
)
from search_engine_spark.catalog.dedup import _DECON_MOD, _DECON_W, _word_grams


def q_text_quality(spark, sf_dir):
    """Quality scoring: token count, mean token length, stopword ratio,
    and an en/other language-ID heuristic from the stopword ratio."""
    toks = _tokens(spark, sf_dir)
    stops = [s.strip("'") for s in _EN_STOPS.strip("()").split(",")]
    per = toks.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        _r4(F.avg(F.length("term"))).alias("mean_tok_len"),
        _r4(
            F.sum(F.when(F.col("term").isin(stops), 1).otherwise(0)) / F.count("*")
        ).alias("stop_ratio"),
    )
    return per.select(
        "doc_id", "n_tokens", "mean_tok_len", "stop_ratio",
        (F.col("stop_ratio") >= 0.05).alias("pred_en"),
    )


SQL_TEXT_QUALITY = f"""WITH {_TOKS_SQL}
SELECT doc_id, count(*) AS n_tokens,
       round(avg(length(term)), 4) AS mean_tok_len,
       round(sum(CASE WHEN term IN {_EN_STOPS} THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS stop_ratio,
       (round(sum(CASE WHEN term IN {_EN_STOPS} THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) >= 0.05) AS pred_en
FROM toks GROUP BY doc_id"""


_LANG_WORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "den", "von"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
}


def q_lang_id(spark, sf_dir):
    """Language-ID n-gram/stopword heuristic: per-language marker-token
    counts, argmax with fixed tie order en>de>fr, 'und' when no markers."""
    toks = _tokens(spark, sf_dir)
    per = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("term").isin(*ws), 1).otherwise(0))
            .cast("long").alias(f"n_{lang}")
            for lang, ws in _LANG_WORDS.items()
        ]
    )
    en, de, fr = F.col("n_en"), F.col("n_de"), F.col("n_fr")
    pred = (
        F.when((en >= de) & (en >= fr) & (en > 0), "en")
        .when((de >= fr) & (de > 0), "de")
        .when(fr > 0, "fr")
        .otherwise("und")
    )
    return per.select("doc_id", "n_en", "n_de", "n_fr", pred.alias("pred_lang"))


def _lang_sum_sql(lang: str) -> str:
    ws = ",".join(f"'{w}'" for w in _LANG_WORDS[lang])
    return f"CAST(sum(CASE WHEN term IN ({ws}) THEN 1 ELSE 0 END) AS BIGINT)"


SQL_LANG_ID = f"""WITH {_TOKS_SQL},
per AS (
  SELECT doc_id, {_lang_sum_sql('en')} AS n_en, {_lang_sum_sql('de')} AS n_de,
         {_lang_sum_sql('fr')} AS n_fr
  FROM toks GROUP BY doc_id
)
SELECT doc_id, n_en, n_de, n_fr,
       CASE WHEN n_en >= n_de AND n_en >= n_fr AND n_en > 0 THEN 'en'
            WHEN n_de >= n_fr AND n_de > 0 THEN 'de'
            WHEN n_fr > 0 THEN 'fr'
            ELSE 'und' END AS pred_lang
FROM per"""


def q_token_count(spark, sf_dir):
    """Token counting: whitespace tokens + a BPE-ish regex segmentation
    (alnum runs and single non-alnum marks as separate tokens)."""
    txt = F.lower(F.col("text"))
    ws = F.size(F.filter(F.split(txt, r"\s+"), lambda x: x != ""))
    bpe = F.size(F.regexp_extract_all(txt, F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0))
    return _docs(spark, sf_dir).select(
        "doc_id",
        ws.cast("long").alias("n_ws_tokens"),
        bpe.cast("long").alias("n_bpe_tokens"),
    )


SQL_TOKEN_COUNT = r"""SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'))
            AS BIGINT) AS n_bpe_tokens
FROM documents"""


_PACK_LEN = 512


def q_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing: concatenate every document's token
    stream in doc_id order, chop the global stream into fixed
    _PACK_LEN-token training chunks, and emit each doc's absolute token
    offset plus the chunk range it lands in (the manifest a training
    loader shards on).

    Scale shape: the global running offset is a DISTRIBUTED PREFIX SUM —
    range-partition by doc_id, cumsum locally inside each range (window
    partitioned by the range id: no cross-partition data movement), then
    add each range's base offset, computed by a cumulative sum over the
    k-row per-range totals and broadcast back.  Both branches hang off
    the SAME repartitionByRange exchange (ReuseExchange dedups the
    scan), and nothing is collected.  A bare Window.orderBy(doc_id)
    would funnel 10^12 rows through ONE task; this is the same two-level
    scan the build pipeline's doc-id stamping uses
    (operators/docids.py).
    """
    from pyspark.sql import Window

    txt = F.lower(F.col("text"))
    ws = F.size(F.filter(F.split(txt, r"\s+"), lambda x: x != ""))
    tok = (
        _docs(spark, sf_dir)
        .select("doc_id", ws.cast("long").alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
        .repartitionByRange(8, "doc_id")
        .withColumn("_pid", F.spark_partition_id())
    )
    local = tok.withColumn(
        "_cum",
        F.sum("n_tokens").over(Window.partitionBy("_pid").orderBy("doc_id"))
        - F.col("n_tokens"),
    )
    # k-row side plan (k = #ranges): running base offset per range
    bases = (
        tok.groupBy("_pid").agg(F.sum("n_tokens").alias("_tot"))
        .withColumn(
            "_base",
            F.coalesce(
                F.sum("_tot").over(
                    Window.orderBy("_pid")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_base")
    )
    start = F.col("_base") + F.col("_cum")
    return (
        local.join(F.broadcast(bases), "_pid")
        .select(
            "doc_id",
            "n_tokens",
            start.alias("start_offset"),
            F.floor(start / _PACK_LEN).cast("long").alias("first_chunk"),
            F.floor((start + F.col("n_tokens") - 1) / _PACK_LEN)
            .cast("long").alias("last_chunk"),
        )
    )


SQL_PACK_SEQUENCES = r"""WITH tok AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
  FROM tok WHERE n_tokens > 0
)
SELECT doc_id, n_tokens,
       CAST(start_offset AS BIGINT) AS start_offset,
       CAST(start_offset // 512 AS BIGINT) AS first_chunk,
       CAST((start_offset + n_tokens - 1) // 512 AS BIGINT) AS last_chunk
FROM cum"""


_SAMPLE_MOD = 1000
# doc_id is folded mod this prime before the Knuth multiply, keeping the
# product within int64 for all doc_ids (DuckDB raises on bigint overflow)
_SAMPLE_PRIME = 1000003
# per-language keep rates: rebalance an en-heavy web corpus toward the tail
_SAMPLE_RATES = {"en": 0.3}          # every other language keeps 1.0
_SAMPLE_DEFAULT_RATE = 1.0


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified (per-language) downsampling with inverse-
    probability reweighting — the mixture-rebalance step of a training-data
    pipeline (keep 30% of 'en', all of the tail languages).

    The keep/drop decision is a pure function of doc_id (Knuth
    multiplicative hash mod 1000), so the sample is reproducible across
    runs, engines, and cluster sizes — no rand(), no seed plumbing, no
    driver state.  `weight` = 1/rate makes downstream token counts
    unbiased.  Scale shape: a narrow filter (no shuffle at all).

    doc_id is reduced mod a prime BEFORE the multiply so the product
    (< 10^6 · 2^31.3 ≈ 2^51) never exceeds int64 for ANY doc_id — a raw
    `doc_id * 2654435761` silently wraps in Spark but RAISES in DuckDB
    once doc_id ≳ 3.5e9, so the unreduced form only matched at toy scale.
    """
    rate = F.coalesce(
        *[F.when(F.col("lang") == lng, F.lit(r)) for lng, r in _SAMPLE_RATES.items()],
        F.lit(_SAMPLE_DEFAULT_RATE),
    )
    bucket = F.pmod(
        (F.col("doc_id") % F.lit(_SAMPLE_PRIME)) * F.lit(2654435761),
        F.lit(_SAMPLE_MOD),
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", rate.alias("_rate"), bucket.alias("_b"))
        .filter(F.col("_b") < F.col("_rate") * _SAMPLE_MOD)
        .select("doc_id", "lang", _r4(F.lit(1.0) / F.col("_rate")).alias("weight"))
    )


SQL_STRATIFIED_SAMPLE = f"""WITH d AS (
  SELECT doc_id, lang,
         CASE WHEN lang = 'en' THEN 0.3 ELSE 1.0 END AS rate,
         ((doc_id % {_SAMPLE_PRIME}) * 2654435761) % {_SAMPLE_MOD} AS b
  FROM documents
)
SELECT doc_id, lang, round(1.0 / rate, 4) AS weight
FROM d WHERE b < rate * {_SAMPLE_MOD}"""


def q_domain_mix(spark, sf_dir):
    """Domain-mixture statistics: per-source doc/token counts, corpus
    share, and the DoReMi-style reweight factor toward a uniform target
    mix (target_share / actual_share).  The per-source aggregation gets
    map-side partial combine (one n_sources-row shuffle); the corpus
    total is a 1-row broadcast side plan, not a driver collect."""
    txt = F.lower(F.col("text"))
    ws = F.size(F.filter(F.split(txt, r"\s+"), lambda x: x != ""))
    per = (
        _docs(spark, sf_dir)
        .select("source", ws.cast("long").alias("n_tok"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )
    tot = per.agg(
        F.sum("n_tokens").alias("_tot"), F.count("*").alias("_k")
    )
    share = F.col("n_tokens") / F.col("_tot")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_docs", "n_tokens",
            _r4(share).alias("share"),
            _r4((F.lit(1.0) / F.col("_k")) / share).alias("mix_weight"),
        )
    )


SQL_DOMAIN_MIX = r"""WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                  x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT sum(n_tokens) AS t, count(*) AS k FROM per)
SELECT source, n_docs, n_tokens,
       round(n_tokens / t, 4) AS share,
       round((1.0 / k) / (n_tokens / t), 4) AS mix_weight
FROM per CROSS JOIN tot"""


_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PHONE_RE = r"[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"


def q_pii_scrub(spark, sf_dir):
    """PII redaction (C4-style cleanup): replace emails and phone numbers
    with tags, report per-doc match counts and the md5 of the scrubbed
    text (proves the replacement is byte-identical to the oracle's).  A
    narrow map — regexes run inside whole-stage codegen, zero shuffle.
    The patterns are deliberately in the Java∩RE2 common subset so the
    same strings drive both engines."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE, "<PHONE>",
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(F.encode(scrubbed, "UTF-8")).alias("scrubbed_md5"),
    )


SQL_PII_SCRUB = f"""SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5
FROM documents"""


def q_unigram_logprob(spark, sf_dir):
    """CCNet-style LM quality score: cross-entropy of each document under
    the corpus unigram model, in nats — the cheap proxy for 'how typical
    is this text' used to quality-bucket web corpora before training.

    Shape at scale: per-doc tf (one map-side-combined shuffle), the
    term-count table joined UNHINTED — raw-web vocabulary is unbounded,
    so the planner/AQE picks broadcast only when the table's measured
    size allows, hash join otherwise — and a 1-row total as a broadcast
    side plan; no global sort, no driver state."""
    tf = _tf(spark, sf_dir)
    ct = tf.groupBy("term").agg(F.sum("tf").alias("ct"))
    tot = ct.agg(F.sum("ct").alias("_t"))
    return (
        tf.join(ct, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            _r4(
                F.sum(F.col("tf") * -F.log(F.col("ct") / F.col("_t")))
                / F.sum("tf")
            ).alias("xent_nats"),
        )
    )


SQL_UNIGRAM_LOGPROB = f"""WITH {_TOKS_SQL},
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id),
ct AS (SELECT term, sum(tf) AS ct FROM tf GROUP BY term),
tot AS (SELECT sum(ct) AS t FROM ct)
SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
       round(sum(tf.tf * -ln(ct.ct / tot.t)) / sum(tf.tf), 4) AS xent_nats
FROM tf JOIN ct ON tf.term = ct.term CROSS JOIN tot
GROUP BY tf.doc_id"""


def q_length_filter(spark, sf_dir):
    """Exact length-percentile band filter (drop the shortest 5% and
    longest 5% by n_chars): the thresholds are a 1-ROW exact-percentile
    side plan broadcast into a narrow filter — NOT a percent_rank()
    window, whose empty-frame global sort funnels 10^12 rows through one
    task.  At 100 TB the same shape holds with approx_percentile."""
    d = _docs(spark, sf_dir)
    thr = d.agg(
        F.expr("percentile(n_chars, array(0.05, 0.95))").alias("q")
    ).select(F.col("q")[0].alias("_lo"), F.col("q")[1].alias("_hi"))
    return (
        d.crossJoin(F.broadcast(thr))
        .filter((F.col("n_chars") >= F.col("_lo")) & (F.col("n_chars") <= F.col("_hi")))
        .select("doc_id", "n_chars")
    )


SQL_LENGTH_FILTER = """WITH thr AS (
  SELECT quantile_cont(n_chars, 0.05) AS lo,
         quantile_cont(n_chars, 0.95) AS hi
  FROM documents
)
SELECT doc_id, n_chars
FROM documents CROSS JOIN thr
WHERE n_chars >= lo AND n_chars <= hi"""


def q_repetition_quality(spark, sf_dir):
    """Repetition-based quality signals (the Gopher/C4-style filters a
    training-data pipeline applies before dedup): per doc, the fraction of
    bigram occurrences claimed by the single most frequent bigram
    (boilerplate/template detector) and the fraction of 5-gram positions
    that repeat an earlier 5-gram in the same doc (loop/spam detector).
    Narrow gram construction + two bounded-key aggregations."""
    bi = _word_grams(spark, sf_dir, 2).groupBy("doc_id", "g").agg(
        F.count("*").alias("c")
    )
    top = bi.groupBy("doc_id").agg(
        _r4(F.max("c") / F.sum("c")).alias("top_bigram_frac")
    )
    fg = _word_grams(spark, sf_dir, 5).groupBy("doc_id").agg(
        _r4(F.lit(1.0) - F.countDistinct("g") / F.count("*")).alias(
            "dup_5gram_frac"
        )
    )
    ntok = _dl(spark, sf_dir).select("doc_id", F.col("dl").alias("n_tokens"))
    return ntok.join(top, "doc_id").join(fg, "doc_id")


SQL_REPETITION_QUALITY = f"""WITH {_TOKS_SQL},
lg AS (
  SELECT doc_id, term,
         lead(term, 1) OVER w AS l1, lead(term, 2) OVER w AS l2,
         lead(term, 3) OVER w AS l3, lead(term, 4) OVER w AS l4
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
bc AS (SELECT doc_id, term || ' ' || l1 AS g, count(*) AS c
       FROM lg WHERE l1 IS NOT NULL GROUP BY doc_id, g),
top AS (SELECT doc_id, round(max(c) * 1.0 / sum(c), 4) AS top_bigram_frac
        FROM bc GROUP BY doc_id),
fg AS (SELECT doc_id,
              term || ' ' || l1 || ' ' || l2 || ' ' || l3 || ' ' || l4 AS g
       FROM lg WHERE l4 IS NOT NULL),
rep AS (SELECT doc_id, round(1.0 - count(DISTINCT g) * 1.0 / count(*), 4)
               AS dup_5gram_frac FROM fg GROUP BY doc_id),
dl AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id)
SELECT dl.doc_id, dl.n_tokens, top.top_bigram_frac, rep.dup_5gram_frac
FROM dl JOIN top USING (doc_id) JOIN rep USING (doc_id)"""


_PIPE_MIN_TOKENS = 20


def q_corpus_pipeline(spark, sf_dir):
    """End-to-end training-corpus curation funnel — the composition every
    real pipeline runs (C4/CCNet/RefinedWeb shape): language ID → quality
    gate → exact dedup → benchmark decontamination, as ONE declarative
    plan emitting a per-document audit row.  Stage flags are CUMULATIVE
    (a doc failing language reports false for every later stage), so each
    column is total over the input:

      lang_ok : marker-word language ID says English
      qual_ok : lang_ok AND >= _PIPE_MIN_TOKENS tokens AND stopword
                ratio >= 5% (integer-exact: n_stop*20 >= n_tokens)
      uniq_ok : qual_ok AND first (min doc_id) among qual_ok docs sharing
                md5(text) — dedup runs AMONG quality survivors, so a
                low-quality copy never steals keeper-ship
      keep    : uniq_ok AND not in the held-out benchmark slice AND zero
                4-gram overlap with it

    Scale shape: lang+quality features come from ONE map-side-combined
    aggregation pass over the token stream; the dedup keeper is a window
    over md5(text) (one hash shuffle, same key as exact dedup); the
    benchmark gram set broadcasts and the corpus grams shuffle once —
    composing the four stages adds NO extra pass over the corpus text,
    which is the point of declaring the funnel in one plan instead of
    materializing between stages."""
    from pyspark.sql import Window

    stops = [s.strip("'") for s in _EN_STOPS.strip("()").split(",")]
    per = _tokens(spark, sf_dir).groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("term").isin(*ws), 1).otherwise(0))
            .cast("long").alias(f"n_{lang}")
            for lang, ws in _LANG_WORDS.items()
        ],
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("term").isin(stops), 1).otherwise(0))
        .cast("long").alias("n_stop"),
    )
    en, de, fr = F.col("n_en"), F.col("n_de"), F.col("n_fr")
    lang_ok = (en >= de) & (en >= fr) & (en > 0)
    qual_ok = (
        lang_ok & (F.col("n_tokens") >= _PIPE_MIN_TOKENS)
        & (F.col("n_stop") * 20 >= F.col("n_tokens"))
    )
    base = (
        _docs(spark, sf_dir).select("doc_id", F.md5("text").alias("_h"))
        .join(per, "doc_id", "left")
        .withColumn("lang_ok", F.coalesce(lang_ok, F.lit(False)))
        .withColumn("qual_ok", F.coalesce(qual_ok, F.lit(False)))
    )
    keeper = F.min(F.when(F.col("qual_ok"), F.col("doc_id"))).over(
        Window.partitionBy("_h")
    )
    base = base.withColumn(
        "uniq_ok", F.col("qual_ok") & (F.col("doc_id") == keeper)
    )
    g = _word_grams(spark, sf_dir, _DECON_W).distinct()
    bench = g.filter(F.col("doc_id") % _DECON_MOD == 0).select("g").distinct()
    hits = (
        g.filter(F.col("doc_id") % _DECON_MOD != 0)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id").agg(F.count("*").alias("n_hit"))
    )
    return base.join(hits, "doc_id", "left").select(
        "doc_id", "lang_ok", "qual_ok", "uniq_ok",
        (
            F.col("uniq_ok") & (F.col("doc_id") % _DECON_MOD != 0)
            & F.col("n_hit").isNull()
        ).alias("keep"),
    )


SQL_CORPUS_PIPELINE = f"""WITH {_TOKS_SQL},
per AS (
  SELECT doc_id, {_lang_sum_sql('en')} AS n_en, {_lang_sum_sql('de')} AS n_de,
         {_lang_sum_sql('fr')} AS n_fr, count(*) AS n_tokens,
         sum(CASE WHEN term IN {_EN_STOPS} THEN 1 ELSE 0 END) AS n_stop
  FROM toks GROUP BY doc_id
),
flags AS (
  SELECT d.doc_id, md5(d.text) AS h,
         coalesce(p.n_en >= p.n_de AND p.n_en >= p.n_fr AND p.n_en > 0,
                  false) AS lang_ok,
         coalesce(p.n_en >= p.n_de AND p.n_en >= p.n_fr AND p.n_en > 0
                  AND p.n_tokens >= {_PIPE_MIN_TOKENS}
                  AND p.n_stop * 20 >= p.n_tokens, false) AS qual_ok
  FROM documents d LEFT JOIN per p USING (doc_id)
),
uniq AS (
  SELECT doc_id, lang_ok, qual_ok,
         qual_ok AND doc_id = min(CASE WHEN qual_ok THEN doc_id END)
                             OVER (PARTITION BY h) AS uniq_ok
  FROM flags
),
lg AS (
  SELECT doc_id, term,
         lead(term, 1) OVER w AS l1, lead(term, 2) OVER w AS l2,
         lead(term, 3) OVER w AS l3
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
g AS (SELECT DISTINCT doc_id, term || ' ' || l1 || ' ' || l2 || ' ' || l3 AS g
      FROM lg WHERE l3 IS NOT NULL),
bench AS (SELECT DISTINCT g FROM g WHERE doc_id % {_DECON_MOD} = 0),
hits AS (
  SELECT doc_id, count(*) AS n_hit
  FROM g JOIN bench USING (g)
  WHERE doc_id % {_DECON_MOD} <> 0 GROUP BY doc_id
)
SELECT u.doc_id, u.lang_ok, u.qual_ok, u.uniq_ok,
       u.uniq_ok AND u.doc_id % {_DECON_MOD} <> 0 AND h.n_hit IS NULL AS keep
FROM uniq u LEFT JOIN hits h USING (doc_id)"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def q_pmi_bigrams(spark, sf_dir):
    """Collocation mining: top-20 bigrams by pointwise mutual information
    (count >= 5) — the phrase-discovery pass a fulltext pipeline runs to
    seed its phrase dictionary.  Bigrams are built NARROWLY from the split
    array (_word_grams: no token explode + self-join), the two corpus
    totals are 1-ROW broadcast side plans, and the two unigram joins are
    plain key joins — every shuffle key is a term, no hot cartesian.
    PMI = ln( p(ab) / (p(a)·p(b)) ) with p from bigram/unigram totals."""
    bi = (
        _word_grams(spark, sf_dir, 2)
        .groupBy("g")
        .agg(F.count("*").alias("c_ab"))
    )
    nbi = bi.agg(F.sum("c_ab").alias("_nbi"))
    uni = _tokens(spark, sf_dir).groupBy("term").agg(F.count("*").alias("c"))
    nuni = uni.agg(F.sum("c").alias("_nuni"))
    sp = F.split("g", " ")
    cand = (
        bi.filter(F.col("c_ab") >= 5)
        .select(sp[0].alias("term_a"), sp[1].alias("term_b"), "c_ab")
        .join(uni.select(F.col("term").alias("term_a"), F.col("c").alias("_ca")),
              "term_a")
        .join(uni.select(F.col("term").alias("term_b"), F.col("c").alias("_cb")),
              "term_b")
        .crossJoin(F.broadcast(nbi))
        .crossJoin(F.broadcast(nuni))
    )
    pmi = F.log(
        (F.col("c_ab") / F.col("_nbi"))
        / ((F.col("_ca") / F.col("_nuni")) * (F.col("_cb") / F.col("_nuni")))
    )
    return (
        cand.select(
            "term_a", "term_b", F.col("c_ab").cast("long").alias("c_ab"),
            _r4(pmi).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "term_a", "term_b")
        .limit(20)
    )


SQL_PMI_BIGRAMS = f"""WITH {_TOKS_SQL},
bi AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*) AS c_ab
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY a.term, b.term
),
nbi AS (SELECT sum(c_ab) AS nbi FROM bi),
uni AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
nuni AS (SELECT sum(c) AS nuni FROM uni)
SELECT bi.term_a AS term_a, bi.term_b AS term_b,
       CAST(bi.c_ab AS BIGINT) AS c_ab,
       round(ln((bi.c_ab / nbi.nbi)
                / ((ua.c / nuni.nuni) * (ub.c / nuni.nuni))), 4) AS pmi
FROM bi
JOIN uni ua ON bi.term_a = ua.term
JOIN uni ub ON bi.term_b = ub.term
CROSS JOIN nbi CROSS JOIN nuni
WHERE bi.c_ab >= 5
ORDER BY pmi DESC, term_a, term_b LIMIT 20"""


def q_bigram_logprob(spark, sf_dir):
    """KenLM-style LM quality score, one order up from unigram_logprob:
    per-doc cross-entropy under the corpus BIGRAM model with unigram
    backoff, p(w2|w1) = (c(w1 w2) + c(w2)/N) / (c(w1) + 1) — the
    stronger 'how typical is this text' signal CCNet-style pipelines
    bucket on.  Bigram instances are built narrowly from the split array
    (_word_grams), the count tables join on term keys, and the corpus
    total is a 1-row broadcast side plan.  Docs with < 2 tokens have no
    transitions and drop out (same on both sides)."""
    inst = _word_grams(spark, sf_dir, 2)
    cbi = inst.groupBy("g").agg(F.count("*").alias("_cbi"))
    uni = _tokens(spark, sf_dir).groupBy("term").agg(F.count("*").alias("c"))
    tot = uni.agg(F.sum("c").alias("_n"))
    sp = F.split("g", " ")
    p = (F.col("_cbi") + F.col("_c2") / F.col("_n")) / (F.col("_c1") + 1)
    return (
        inst.join(cbi, "g")
        .select("doc_id", sp[0].alias("_w1"), sp[1].alias("_w2"), "_cbi")
        .join(uni.select(F.col("term").alias("_w1"), F.col("c").alias("_c1")),
              "_w1")
        .join(uni.select(F.col("term").alias("_w2"), F.col("c").alias("_c2")),
              "_w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            _r4(F.avg(-F.log(p))).alias("xent_nats"),
        )
    )


SQL_BIGRAM_LOGPROB = f"""WITH {_TOKS_SQL},
bi AS (
  SELECT a.doc_id AS doc_id, a.term AS w1, b.term AS w2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
cbi AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY w1, w2),
uni AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
tot AS (SELECT sum(c) AS n FROM uni)
SELECT bi.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(-ln((cbi.c + u2.c * 1.0 / tot.n) / (u1.c + 1))), 4)
         AS xent_nats
FROM bi
JOIN cbi ON bi.w1 = cbi.w1 AND bi.w2 = cbi.w2
JOIN uni u1 ON bi.w1 = u1.term
JOIN uni u2 ON bi.w2 = u2.term
CROSS JOIN tot
GROUP BY bi.doc_id"""


def q_ttr_quality(spark, sf_dir):
    """Lexical-diversity quality signals: per-doc type-token ratio and
    hapax ratio (share of the doc's distinct terms that occur exactly
    once in it) — the repetitiveness complement to the surface-ratio
    text_quality entry.  One map-side-combined (term, doc) aggregation,
    then one per-doc aggregation; nothing global."""
    tf = _tf(spark, sf_dir)
    return tf.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        _r4(F.count("*") / F.sum("tf")).alias("ttr"),
        _r4(
            F.sum(F.when(F.col("tf") == 1, 1).otherwise(0)) / F.count("*")
        ).alias("hapax_ratio"),
    )


SQL_TTR_QUALITY = f"""WITH {_TOKS_SQL},
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       round(count(*) * 1.0 / sum(tf), 4) AS ttr,
       round(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS hapax_ratio
FROM tf GROUP BY doc_id"""


def q_quality_classifier(spark, sf_dir):
    """Model-based quality filtering as pure JVM expressions: a logistic
    model over per-doc features (mean token length, stopword ratio,
    type-token ratio) with FIXED weights — the inference shape of the
    fastText/linear quality classifiers web-corpus pipelines apply at
    10^12 docs.  Features come from one per-doc aggregation; scoring is
    a narrow column expression (no UDF, no shuffle beyond the agg)."""
    toks = _tokens(spark, sf_dir)
    stops = [s.strip("'") for s in _EN_STOPS.strip("()").split(",")]
    feats = toks.groupBy("doc_id").agg(
        F.avg(F.length("term")).alias("_len"),
        (F.sum(F.when(F.col("term").isin(stops), 1).otherwise(0))
         / F.count("*")).alias("_stop"),
        (F.count_distinct("term") / F.count("*")).alias("_ttr"),
    )
    z = (
        F.lit(_QC_W_LEN) * F.col("_len")
        + F.lit(_QC_W_STOP) * F.col("_stop")
        + F.lit(_QC_W_TTR) * F.col("_ttr")
        + F.lit(_QC_BIAS)
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.select(
        "doc_id", _r4(p).alias("p_keep"), (_r4(p) >= 0.5).alias("keep")
    )


SQL_QUALITY_CLASSIFIER = f"""WITH {_TOKS_SQL},
feats AS (
  SELECT doc_id, avg(length(term)) AS len,
         sum(CASE WHEN term IN {_EN_STOPS} THEN 1 ELSE 0 END) * 1.0
           / count(*) AS stop,
         count(DISTINCT term) * 1.0 / count(*) AS ttr
  FROM toks GROUP BY doc_id
)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-({_QC_W_LEN} * len + {_QC_W_STOP} * stop
                               + {_QC_W_TTR} * ttr + ({_QC_BIAS})))), 4)
         AS p_keep,
       round(1.0 / (1.0 + exp(-({_QC_W_LEN} * len + {_QC_W_STOP} * stop
                               + {_QC_W_TTR} * ttr + ({_QC_BIAS})))), 4) >= 0.5
         AS keep
FROM feats"""


# ---------------------------------------------------------------------------
# DSIR-style data selection (importance resampling toward a target domain)
# ---------------------------------------------------------------------------

_DSIR_TARGET_SRCS = ("src0", "src1")   # the "high-quality" target domain
_DSIR_K = 50                           # selection budget
_DSIR_BUCKETS = 10_000                 # hashed feature space (DSIR §2.2)


def _dsir_bucket(term_col):
    """Deterministic hashed-feature bucket shared with the DuckDB oracle:
    the first 8 hex digits of md5(term) as an int, mod _DSIR_BUCKETS.
    Spark's conv(substring(md5,1,8),16,10) and DuckDB's
    ('0x'||substring(md5,1,8))::UBIGINT agree exactly (both are the big-
    endian value of the same 4 md5 bytes)."""
    return (
        F.conv(F.substring(F.md5(term_col), 1, 8), 16, 10).cast("long")
        % F.lit(_DSIR_BUCKETS)
    )


def q_dsir_select(spark, sf_dir):
    """Data Selection via Importance Resampling (Xie et al. 2023) with the
    paper's own HASHED n-gram features (§2.2): terms hash into a fixed
    space of _DSIR_BUCKETS buckets, both add-one-smoothed unigram LMs
    (target = trusted sources {src0, src1}; raw = whole corpus) are fit
    over bucket counts, and every document is scored by its importance
    log-weight sum_b tf_b * ln(p_target(b) / p_raw(b)); the top-_DSIR_K
    most target-like documents are kept.

    Shape at scale: hashing bounds the LM tables at _DSIR_BUCKETS rows
    REGARDLESS of corpus vocabulary (the round-4 version broadcast a
    full-vocab log-ratio table — 10⁹ distinct raw-web tokens would OOM
    the driver; a constant 10⁴-row table is legitimately broadcastable
    at any corpus size).  Corpus totals are a 1-row broadcast side plan,
    per-doc scoring is a narrow join on the bucket key + one
    groupBy(doc_id), and the final top-k is a TakeOrdered, never a full
    sort.  Complements `stratified_sample` (quota sampling) and
    `quality_classifier` (supervised gate) as the distribution-matching
    selector."""
    tf = _tf(spark, sf_dir).select(
        "doc_id", "tf", _dsir_bucket(F.col("term")).alias("b")
    )
    tgt_docs = (
        _docs(spark, sf_dir)
        .filter(F.col("source").isin(*_DSIR_TARGET_SRCS))
        .select("doc_id")
    )
    raw_ct = tf.groupBy("b").agg(F.sum("tf").alias("cr"))
    tgt_ct = (
        tf.join(tgt_docs, "doc_id")
        .groupBy("b")
        .agg(F.sum("tf").alias("ct"))
    )
    lm = raw_ct.join(tgt_ct, "b", "left").select(
        "b", F.coalesce("ct", F.lit(0)).alias("ct"), "cr"
    )
    tot = lm.agg(
        F.sum("ct").alias("_tt"),
        F.sum("cr").alias("_tr"),
        F.count("*").cast("double").alias("_v"),
    )
    ratio = lm.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("ct") + 1) / (F.col("_tt") + F.col("_v")))
            - F.log((F.col("cr") + 1) / (F.col("_tr") + F.col("_v")))
        ).alias("_lr"),
    )
    return (
        # the ratio table is bounded at _DSIR_BUCKETS rows by construction,
        # so the broadcast hint is safe at ANY corpus scale
        tf.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            _r4(F.sum(F.col("tf") * F.col("_lr"))).alias("logw"),
        )
        .orderBy(F.col("logw").desc(), F.col("doc_id").asc())
        .limit(_DSIR_K)
    )


SQL_DSIR_SELECT = f"""WITH {_TOKS_SQL},
tfb AS (
  SELECT ('0x' || substring(md5(term), 1, 8))::UBIGINT % {_DSIR_BUCKETS} AS b,
         doc_id, count(*) AS tf
  FROM toks GROUP BY 1, 2
),
rawct AS (SELECT b, sum(tf) AS cr FROM tfb GROUP BY b),
tgtct AS (
  SELECT tfb.b, sum(tfb.tf) AS ct
  FROM tfb JOIN documents d ON tfb.doc_id = d.doc_id
  WHERE d.source IN ('src0', 'src1')
  GROUP BY tfb.b
),
lm AS (
  SELECT rawct.b, coalesce(tgtct.ct, 0) AS ct, rawct.cr
  FROM rawct LEFT JOIN tgtct ON rawct.b = tgtct.b
),
tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr, CAST(count(*) AS DOUBLE) AS v
        FROM lm),
ratio AS (
  SELECT b, ln((ct + 1) / (tt + v)) - ln((cr + 1) / (tr + v)) AS lr
  FROM lm CROSS JOIN tot
)
SELECT tfb.doc_id AS doc_id, CAST(sum(tfb.tf) AS BIGINT) AS n_tokens,
       round(sum(tfb.tf * ratio.lr), 4) AS logw
FROM tfb JOIN ratio ON tfb.b = ratio.b
GROUP BY tfb.doc_id
ORDER BY logw DESC, doc_id ASC LIMIT {_DSIR_K}"""
_SPLIT_MOD = 10          # buckets 0-7 train, 8 val, 9 test


def q_data_split(spark, sf_dir):
    """Deterministic train/val/test split manifest: split assignment is a
    pure function of doc_id (Knuth multiplicative hash mod _SPLIT_MOD;
    buckets 0-7 → train, 8 → val, 9 → test), so the split is
    reproducible across runs, engines, and cluster sizes — no rand(),
    no shuffle of the corpus, no driver state.  Reports per-split doc
    and token counts, the sanity sheet every training run starts from.

    Scale shape: the bucket is a narrow expression; token counts
    aggregate per doc first (map-side) and the final rollup is 3 groups.
    doc_id is reduced mod a prime BEFORE the multiply so the product
    never exceeds int64 (see q_stratified_sample's docstring).
    """
    bucket = F.pmod(
        (F.col("doc_id") % F.lit(_SPLIT_PRIME)) * F.lit(2654435761),
        F.lit(_SPLIT_MOD),
    )
    split = (
        F.when(bucket <= 7, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    dl = _dl(spark, sf_dir)
    return (
        _docs(spark, sf_dir)
        .select("doc_id", split.alias("split"))
        .join(dl, "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("n_tokens"),
        )
    )


SQL_DATA_SPLIT = f"""WITH {_TOKS_SQL},
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
assign AS (
  SELECT doc_id,
         CASE WHEN ((doc_id % {_SPLIT_PRIME}) * 2654435761) % {_SPLIT_MOD} <= 7
              THEN 'train'
              WHEN ((doc_id % {_SPLIT_PRIME}) * 2654435761) % {_SPLIT_MOD} = 8
              THEN 'val' ELSE 'test' END AS split
  FROM documents
)
SELECT a.split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(dl.dl) AS BIGINT) AS n_tokens
FROM assign a JOIN dl ON a.doc_id = dl.doc_id
GROUP BY a.split"""


_OOV_MIN_DF = 10


def q_oov_rate(spark, sf_dir):
    """Tokenizer-vocabulary coverage: with the vocab defined as terms of
    document frequency ≥ _OOV_MIN_DF, report each language's mean
    out-of-vocabulary token fraction — the coverage sheet run before
    committing to a tokenizer/vocab on a new corpus.

    Scale shape: the vocab is df-thresholded but NOT force-broadcast
    (its cardinality is corpus-dependent and unbounded — exactly the
    dsir_select lesson); the membership test is a left join on term that
    AQE may broadcast when the vocab measures small.  Everything else
    is per-doc map-side aggregation.
    """
    toks = _tokens(spark, sf_dir).select("doc_id", "term")
    vocab = (
        toks.groupBy("term")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= _OOV_MIN_DF)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    per_doc = (
        toks.join(vocab, "term", "left")
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
                / F.count("*")
            ).alias("oov")
        )
    )
    langs = _docs(spark, sf_dir).select("doc_id", "lang")
    return (
        per_doc.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            _r4(F.avg("oov")).alias("avg_oov"),
        )
    )


SQL_OOV_RATE = f"""WITH {_TOKS_SQL},
vocab AS (
  SELECT term FROM (
    SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
  ) WHERE df >= {_OOV_MIN_DF}
),
per_doc AS (
  SELECT t.doc_id,
         CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS oov
  FROM toks t LEFT JOIN vocab v ON t.term = v.term
  GROUP BY t.doc_id
)
SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(p.oov), 4) AS avg_oov
FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
GROUP BY d.lang"""


# ---------------------------------------------------------------------------
# BPE merge-pair statistics (tokenizer training, iteration-1 inner loop)
# ---------------------------------------------------------------------------

_BPE_EOW = "</w>"   # classic end-of-word marker (Sennrich et al.)


def q_bpe_pairs(spark, sf_dir):
    """The inner statistic of every BPE tokenizer-training iteration: count
    adjacent symbol pairs over the corpus word distribution (symbols =
    characters at iteration 1, plus the end-of-word marker), weighted by
    word frequency; the argmax pair is the next merge (Sennrich et al.
    2016).  Top-20 pairs by count, pair-string tiebreak.

    Scale shape: word frequencies aggregate map-side FIRST (the pair
    expansion runs over the DISTINCT-word table, ~10^7 rows after
    df-style collapse, not the 10^13 raw token stream — BPE trainers do
    exactly this collapse); pair generation is a narrow array transform
    + posexplode; the final count is a map-side-combinable hash agg on
    a bounded key space (|alphabet|^2 + |alphabet| marker pairs).
    """
    wf = (
        _tokens(spark, sf_dir)
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    pairs = F.concat(
        F.array(
            F.expr(
                "transform(sequence(1, length(term) - 1),"
                " i -> concat(substr(term, i, 1), substr(term, i + 1, 1)))"
            )
        ).getItem(0),
        F.array(
            F.concat(
                F.expr("substr(term, length(term), 1)"), F.lit(_BPE_EOW)
            )
        ),
    )
    return (
        wf.select("freq", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(20)
    )


SQL_BPE_PAIRS = f"""WITH {_TOKS_SQL},
wf AS (SELECT term, count(*) AS freq FROM toks GROUP BY term),
pairs AS (
  SELECT freq,
         unnest(list_concat(
           list_transform(range(1, length(term)),
                          i -> substr(term, i, 1) || substr(term, i + 1, 1)),
           [substr(term, length(term), 1) || '{_BPE_EOW}'])) AS pair
  FROM wf
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM pairs
GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 20"""


# ---------------------------------------------------------------------------
# character-entropy quality signal (Gopher-style repetition/garbage rule)
# ---------------------------------------------------------------------------

def q_entropy_quality(spark, sf_dir):
    """Per-doc character-level Shannon entropy of the lowercased [a-z0-9]
    stream, bucketed per language: low entropy flags repeated/garbage
    text (keyboard mashing, template spam), high entropy flags
    encrypted/binary junk — a standard companion to the token-level
    repetition rules.  Reports per-lang doc counts and mean entropy, plus
    how many docs fall under 2.5 bits (the curation cut line).

    Scale shape: the char histogram is one posexplode-free pass —
    36 count columns per doc via narrow length/replace arithmetic would
    be 36 expressions; instead chars explode but aggregate map-side to
    ≤36 rows per doc before the shuffle, then one per-doc entropy fold
    and a |langs|-row rollup.
    """
    chars = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.split(
                    F.regexp_replace(F.lower("text"), "[^a-z0-9]", ""), ""
                )
            ).alias("ch"),
        )
        .filter(F.col("ch") != "")
    )
    hist = chars.groupBy("doc_id", "lang", "ch").agg(
        F.count("*").alias("c")
    )
    # two-step: total per doc, then -Σ (c/n) log2(c/n)
    tot = hist.groupBy("doc_id").agg(F.sum("c").alias("n"))
    ent = (
        hist.join(tot, "doc_id")
        .groupBy("doc_id", "lang")
        .agg(
            (
                -F.sum(
                    (F.col("c") / F.col("n"))
                    * (F.log(F.col("c") / F.col("n")) / F.log(F.lit(2.0)))
                )
            ).alias("h")
        )
    )
    return (
        ent.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            _r4(F.avg("h")).alias("avg_entropy"),
            F.sum(F.when(F.col("h") < 2.5, 1).otherwise(0))
            .cast("long")
            .alias("n_low"),
        )
        .orderBy("lang")
    )


SQL_ENTROPY_QUALITY = """WITH chars AS (
  SELECT doc_id, lang,
         unnest(list_filter(regexp_split_to_array(
           regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), ''),
           x -> x <> '')) AS ch
  FROM documents
),
hist AS (SELECT doc_id, any_value(lang) AS lang, ch, count(*) AS c
         FROM chars GROUP BY doc_id, ch),
tot AS (SELECT doc_id, sum(c) AS n FROM hist GROUP BY doc_id),
ent AS (
  SELECT h.doc_id, any_value(h.lang) AS lang,
         -sum((h.c * 1.0 / t.n) * (ln(h.c * 1.0 / t.n) / ln(2.0))) AS h
  FROM hist h JOIN tot t ON h.doc_id = t.doc_id
  GROUP BY h.doc_id
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(h), 4) AS avg_entropy,
       CAST(sum(CASE WHEN h < 2.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low
FROM ent GROUP BY lang ORDER BY lang"""


# ---------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis-Spirakis one-pass)
# ---------------------------------------------------------------------------

_WSAMPLE_K = 50


def q_weighted_sample(spark, sf_dir):
    """Weight-proportional sampling without replacement, the
    Efraimidis-Spirakis one-pass construction: each doc gets key =
    ln(u)/w for a deterministic u in (0,1) (the catalog's int64-safe
    split hash) and weight w = n_chars; the k largest keys ARE a
    without-replacement sample proportional to w.  This is the data-
    mixing primitive stratified_sample can't express (per-item weights,
    not per-stratum rates).

    Keys are rounded to 6 decimals before the cut (they live in
    [-inf, 0)), ties broken by doc_id, so the sampled SET is identical
    across engines despite libm ulp differences.

    Scale shape: one narrow projection then a top-k
    (TakeOrderedAndProject) — no shuffle, no sort of the corpus; at
    10^12 docs each task keeps k candidates and the driver merges
    tasks' k-lists.
    """
    u = (
        (
            F.pmod(
                (F.col("doc_id") % _SPLIT_PRIME) * F.lit(2654435761),
                F.lit(1000000),
            )
            + 0.5
        )
        / 1000000.0
    )
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            w.cast("long").alias("w"),
            F.round(F.log(u) / w, 6).alias("key"),
        )
        .orderBy(F.col("key").desc(), F.col("doc_id").asc())
        .limit(_WSAMPLE_K)
    )


SQL_WEIGHTED_SAMPLE = f"""SELECT doc_id,
       CAST(greatest(n_chars, 1) AS BIGINT) AS w,
       round(ln((((doc_id % {_SPLIT_PRIME}) * 2654435761) % 1000000 + 0.5)
                / 1000000.0)
             / greatest(n_chars, 1), 6) AS key
FROM documents
ORDER BY key DESC, doc_id ASC LIMIT {_WSAMPLE_K}"""


def q_lang_consistency(spark, sf_dir):
    """Host-majority language outliers: per source, the majority language
    (ties break lexicographically) and every doc whose declared lang
    disagrees with it — the standard crawl-QA signal for mislabeled
    language tags and template pollution (a .de host serving 'zh' docs).

    Scale shape: the per-source language histogram is a map-side
    aggregation to at most |hosts| x |langs| rows; the majority pick is
    a window over that TINY aggregate (bounded by langs-per-host, never
    by docs); and flagging rejoins the histogram to docs on source — a
    plain hash join whose build side is the aggregate.  No per-doc
    window, no skew amplification."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select("doc_id", "source", "lang")
    counts = d.groupBy("source", "lang").agg(F.count("*").alias("c"))
    tot = d.groupBy("source").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("lang").asc()
    )
    maj = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("lang").alias("majority_lang"),
            F.col("c").alias("mc"),
        )
    )
    return (
        d.join(maj, "source")
        .join(tot, "source")
        .filter(F.col("lang") != F.col("majority_lang"))
        .select(
            "doc_id", "source", "lang", "majority_lang",
            _r4(F.col("mc") / F.col("n")).alias("maj_frac"),
        )
        .orderBy("source", "doc_id")
    )


SQL_LANG_CONSISTENCY = """WITH counts AS (
  SELECT source, lang, count(*) AS c FROM documents GROUP BY source, lang
),
tot AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
maj AS (
  SELECT source, lang AS majority_lang, c AS mc
  FROM (SELECT source, lang, c,
               row_number() OVER (PARTITION BY source
                                  ORDER BY c DESC, lang ASC) AS rn
        FROM counts)
  WHERE rn = 1
)
SELECT d.doc_id, d.source, d.lang, m.majority_lang,
       round(m.mc / t.n, 4) AS maj_frac
FROM documents d
JOIN maj m ON d.source = m.source
JOIN tot t ON d.source = t.source
WHERE d.lang <> m.majority_lang
ORDER BY d.source ASC, d.doc_id ASC"""


# ---------------------------------------------------------------------------
# Token-budget curriculum selection
# ---------------------------------------------------------------------------

_CURR_FRAC = 0.25   # token budget as a fraction of the corpus


def q_curriculum_select(spark, sf_dir):
    """Token-budget curriculum selection (easy-first ordering, Bengio et
    al. 2009, as LLM data pipelines apply it): rank documents by a
    difficulty proxy (mean token character length — short-word docs
    first), then take documents in that order until a token budget of
    _CURR_FRAC of the corpus is exhausted.  Emits the selected
    manifest: doc, token count, difficulty, and the running token total
    the loader resumes from.

    Scale shape: the running total over the difficulty ordering is a
    DISTRIBUTED PREFIX SUM, not a bare Window.orderBy — range-partition
    by (difficulty, doc_id), cumsum locally inside each range, add each
    range's base offset from a k-row broadcast side plan (the
    pack_sequences / docids.py two-level scan).  The budget itself is a
    1-row aggregate.  Nothing funnels 10^12 rows through one task.
    """
    from pyspark.sql import Window

    d = _tokens(spark, sf_dir).groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tok"),
        F.avg(F.length("term")).alias("diff"),
    )
    total = d.agg(F.sum("n_tok").alias("t"))
    ranged = d.repartitionByRange(8, "diff", "doc_id").withColumn(
        "_pid", F.spark_partition_id()
    )
    local = ranged.withColumn(
        "_cum",
        F.sum("n_tok").over(
            Window.partitionBy("_pid").orderBy("diff", "doc_id")
        ),
    )
    bases = (
        ranged.groupBy("_pid").agg(F.sum("n_tok").alias("_tot"))
        .withColumn(
            "_base",
            F.coalesce(
                F.sum("_tot").over(
                    Window.orderBy("_pid")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_base")
    )
    cum = (F.col("_base") + F.col("_cum")).cast("long")
    return (
        local.join(F.broadcast(bases), "_pid")
        .crossJoin(F.broadcast(total))
        .filter(cum <= F.floor(F.lit(_CURR_FRAC) * F.col("t")))
        .select(
            "doc_id",
            "n_tok",
            _r4("diff").alias("difficulty"),
            cum.alias("cum_tokens"),
        )
        .orderBy(F.col("cum_tokens").asc())
    )


SQL_CURRICULUM_SELECT = f"""WITH {_TOKS_SQL},
d AS (SELECT doc_id, count(*) AS n_tok, avg(len(term)) AS diff
      FROM toks GROUP BY doc_id),
tot AS (SELECT sum(n_tok) AS t FROM d),
cum AS (
  SELECT doc_id, n_tok, diff,
         sum(n_tok) OVER (ORDER BY diff, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM d
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       round(diff, 4) AS difficulty,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM cum CROSS JOIN tot
WHERE cum_tokens <= CAST(floor({_CURR_FRAC} * tot.t) AS BIGINT)
ORDER BY cum_tokens ASC"""


# ---------------------------------------------------------------------------
# language-model estimation: Kneser-Ney, Good-Turing, stopword induction
# ---------------------------------------------------------------------------

_KN_D = 0.75
_KN_PROBES = [
    ("order", "fast"), ("window", "join"), ("merge", "join"), ("fast", "data")
]


def q_kneser_ney(spark, sf_dir):
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney, ICASSP
    1995; Chen & Goodman 1998's benchmark winner) for a fixed probe set —
    the smoothing a production LM actually ships, vs the additive
    baseline bigram_logprob uses:
    P(w2|w1) = max(c(w1w2)-D, 0)/c(w1.)
               + D * N1+(w1,*)/c(w1.) * N1+(*,w2)/N1+(*,*)
    with discount D={_KN_D}; the continuation probability counts
    DISTINCT left-contexts, the insight that makes KN beat frequency
    backoff.  Unseen probes exercise the pure-backoff path.

    Scale shape: bigram counts and the three N1+ tables are map-side
    combinable aggregates; the probe join keeps everything after them
    at |probes| rows (the probe table is a literal); c(w1.) and
    N1+(w1,*) are derived FROM the bigram table so the model is
    internally consistent (no doc-boundary mismatch).
    """
    inst = _word_grams(spark, sf_dir, 2)
    sp = F.split("g", " ")
    bi = (
        inst.select(sp[0].alias("w1"), sp[1].alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )
    left = bi.groupBy("w1").agg(
        F.sum("c12").alias("c1"),
        F.count("*").alias("n1f"),      # N1+(w1, *)
    )
    right = bi.groupBy("w2").agg(F.count("*").alias("n1b"))  # N1+(*, w2)
    types = bi.agg(F.count("*").alias("_nt"))                # N1+(*, *)
    probes = spark.createDataFrame(_KN_PROBES, ["w1", "w2"])
    p_cont = F.col("n1b") / F.col("_nt")
    p_kn = (
        F.greatest(F.coalesce("c12", F.lit(0)) - _KN_D, F.lit(0.0))
        / F.col("c1")
        + _KN_D * F.col("n1f") / F.col("c1") * p_cont
    )
    return (
        probes.join(bi, ["w1", "w2"], "left")
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(types))
        .select(
            "w1", "w2",
            F.coalesce("c12", F.lit(0)).cast("long").alias("c12"),
            _r4(p_kn).alias("p_kn"),
        )
        .orderBy("w1", "w2")
    )


_KN_PROBE_VALUES = ", ".join(f"('{a}', '{b}')" for a, b in _KN_PROBES)

SQL_KNESER_NEY = f"""WITH {_TOKS_SQL},
bi AS (
  SELECT a.term AS w1, b.term AS w2, count(*) AS c12
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY a.term, b.term
),
lft AS (SELECT w1, sum(c12) AS c1, count(*) AS n1f FROM bi GROUP BY w1),
rgt AS (SELECT w2, count(*) AS n1b FROM bi GROUP BY w2),
types AS (SELECT count(*) AS nt FROM bi),
probes(w1, w2) AS (VALUES {_KN_PROBE_VALUES})
SELECT p.w1, p.w2,
       CAST(coalesce(bi.c12, 0) AS BIGINT) AS c12,
       round(greatest(coalesce(bi.c12, 0) - {_KN_D}, 0.0) / lft.c1
             + {_KN_D} * lft.n1f / lft.c1
               * (CAST(rgt.n1b AS DOUBLE) / types.nt), 4) AS p_kn
FROM probes p
LEFT JOIN bi ON p.w1 = bi.w1 AND p.w2 = bi.w2
JOIN lft ON p.w1 = lft.w1
JOIN rgt ON p.w2 = rgt.w2
CROSS JOIN types
ORDER BY p.w1, p.w2"""


# ---------------------------------------------------------------------------
# CCNet perplexity buckets (Wenzek et al., LREC 2020)
# ---------------------------------------------------------------------------


def q_perplexity_buckets(spark, sf_dir):
    """CCNet-style quality partition (Wenzek et al., "CCNet: Extracting
    high quality monolingual datasets from web crawl data", LREC 2020):
    split the corpus into head / middle / tail thirds by LM
    cross-entropy (unigram_logprob's per-doc score — CCNet uses a
    wikipedia-trained KenLM; the partition logic is identical), the
    standard first gate of a web-scale training-data pipeline.

    Determinism: bucketing compares the 4-decimal ROUNDED xent against
    exact-percentile thresholds computed FROM those rounded values —
    the same interpolation arithmetic in both engines (the
    length_filter pattern).  Scale shape: thresholds are a 1-ROW exact
    percentile side plan broadcast into a narrow CASE — never an
    ntile/percent_rank global-sort window; at 100 TB the same shape
    holds with approx_percentile.
    """
    tf = _tf(spark, sf_dir)
    ct = tf.groupBy("term").agg(F.sum("tf").alias("ct"))
    tot = ct.agg(F.sum("ct").alias("_t"))
    xent = (
        tf.join(ct, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            _r4(
                F.sum(F.col("tf") * -F.log(F.col("ct") / F.col("_t")))
                / F.sum("tf")
            ).alias("x4"),
        )
    )
    thr = xent.agg(
        F.expr(
            "percentile(x4, array(0.3333333333333333, 0.6666666666666666))"
        ).alias("q")
    ).select(F.col("q")[0].alias("t1"), F.col("q")[1].alias("t2"))
    bucketed = xent.crossJoin(F.broadcast(thr)).withColumn(
        "bucket",
        F.when(F.col("x4") <= F.col("t1"), F.lit("head"))
        .when(F.col("x4") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("x4").alias("min_xent"),
            F.max("x4").alias("max_xent"),
        )
        .orderBy("bucket")
    )


SQL_PERPLEXITY_BUCKETS = f"""WITH {_TOKS_SQL},
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id),
ct AS (SELECT term, sum(tf) AS ct FROM tf GROUP BY term),
tot AS (SELECT sum(ct) AS t FROM ct),
xent AS (
  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         round(sum(tf.tf * -ln(ct.ct / tot.t)) / sum(tf.tf), 4) AS x4
  FROM tf JOIN ct ON tf.term = ct.term CROSS JOIN tot
  GROUP BY tf.doc_id
),
thr AS (
  SELECT quantile_cont(x4, 0.3333333333333333) AS t1,
         quantile_cont(x4, 0.6666666666666666) AS t2
  FROM xent
)
SELECT CASE WHEN x4 <= t1 THEN 'head'
            WHEN x4 <= t2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(x4) AS min_xent, max(x4) AS max_xent
FROM xent CROSS JOIN thr
GROUP BY 1 ORDER BY bucket"""


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al., 2021, §A1.1.1)
# ---------------------------------------------------------------------------

_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 25, 100_000
_GOPHER_MIN_MWL, _GOPHER_MAX_MWL = 3.0, 10.0
_GOPHER_MIN_STOPS = 2


def q_gopher_quality(spark, sf_dir):
    """The Gopher document-quality rule set (Rae et al., "Scaling
    language models: ... Gopher", 2021, appendix A1.1.1) — the named
    filter battery most web-scale training corpora start from,
    complementary to text_quality's raw signals: (1) word count within
    [{min_w}, {max_w}] (the paper's 50 floor scaled to this corpus'
    synthetic doc lengths), (2) mean word length within [3, 10],
    (3) ≥ 80% of words contain an alphabetic character, (4) at least
    2 stopword occurrences.  Output: per-doc rule booleans + the
    overall keep flag, ordered by doc_id — the exact shape a pipeline
    materializes to audit WHY a document was dropped.

    Determinism: counts and integer-vs-constant comparisons only; the
    two ratio rules compare integer numerators against integer-scaled
    bounds (mwl·10·words, alpha·5·words) so no float division exists
    at all.  Scale shape: one narrow map-side aggregate per doc over
    the token stream; no joins, no windows.
    """.format(min_w=_GOPHER_MIN_WORDS, max_w=_GOPHER_MAX_WORDS)
    toks = _tokens(spark, sf_dir)
    stops = [s.strip("'") for s in _EN_STOPS.strip("()").split(",")]
    per = toks.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum(F.length("term")).cast("long").alias("_chars"),
        F.sum(F.when(F.col("term").rlike("[a-z]"), 1).otherwise(0))
        .cast("long").alias("_alpha"),
        F.sum(F.when(F.col("term").isin(stops), 1).otherwise(0))
        .cast("long").alias("_stops"),
    )
    n = F.col("n_words")
    rules = per.select(
        "doc_id", "n_words",
        ((n >= _GOPHER_MIN_WORDS) & (n <= _GOPHER_MAX_WORDS))
        .alias("ok_words"),
        (
            (F.col("_chars") * 10 >= F.lit(int(_GOPHER_MIN_MWL * 10)) * n)
            & (F.col("_chars") * 10 <= F.lit(int(_GOPHER_MAX_MWL * 10)) * n)
        ).alias("ok_mean_len"),
        (F.col("_alpha") * 5 >= n * 4).alias("ok_alpha"),
        (F.col("_stops") >= _GOPHER_MIN_STOPS).alias("ok_stops"),
    )
    return rules.withColumn(
        "keep",
        F.col("ok_words") & F.col("ok_mean_len")
        & F.col("ok_alpha") & F.col("ok_stops"),
    ).orderBy("doc_id")


SQL_GOPHER_QUALITY = f"""WITH {_TOKS_SQL},
per AS (
  SELECT doc_id, count(*) AS n_words,
         sum(length(term)) AS chars,
         sum(CASE WHEN regexp_matches(term, '[a-z]') THEN 1 ELSE 0 END)
           AS alpha,
         sum(CASE WHEN term IN {_EN_STOPS} THEN 1 ELSE 0 END) AS stops
  FROM toks GROUP BY doc_id
),
rules AS (
  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         (n_words >= {_GOPHER_MIN_WORDS}
          AND n_words <= {_GOPHER_MAX_WORDS}) AS ok_words,
         (chars * 10 >= {int(_GOPHER_MIN_MWL * 10)} * n_words
          AND chars * 10 <= {int(_GOPHER_MAX_MWL * 10)} * n_words)
           AS ok_mean_len,
         (alpha * 5 >= n_words * 4) AS ok_alpha,
         (stops >= {_GOPHER_MIN_STOPS}) AS ok_stops
  FROM per
)
SELECT doc_id, n_words, ok_words, ok_mean_len, ok_alpha, ok_stops,
       (ok_words AND ok_mean_len AND ok_alpha AND ok_stops) AS keep
FROM rules ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# UniMax language-budget allocation (Chung et al., NeurIPS 2023)
# ---------------------------------------------------------------------------

_UNIMAX_BUDGET_NUM, _UNIMAX_BUDGET_DEN = 4, 5   # budget = 4/5 of corpus
_UNIMAX_EPOCHS = 1                               # the paper's headline cap


def q_unimax_allocation(spark, sf_dir):
    """UniMax language sampling (Chung et al., "UniMax: Fairer and more
    effective language sampling for large-scale multilingual
    pretraining", 2023): spread a token budget B as uniformly as
    possible across languages subject to a per-language epoch cap
    (here {e} epoch — the paper's headline setting), i.e. water-filling
    alloc_l = min(cap_l, τ) with τ chosen so Σ alloc = B.  The greedy
    smallest-first loop in the paper has this closed form: sort
    languages by corpus size ascending; a language is capped iff
    N_l·(L−r+1) ≤ B − prefix_sum(smaller caps) (an INTEGER compare);
    uncapped languages share the integer remainder τ = ⌊(B −
    Σ_capped)/|uncapped|⌋.  Output per language: tokens, cap, the
    allocation, and realized epochs; leftover = B − Σ alloc (< L from
    the floor) is reported in every row for auditability.

    Determinism: every quantity is integer arithmetic; epochs is the
    only division, applied once at output.  Scale shape: one token
    count per language (map-side-combinable), then windows over the
    |languages|-row table — the corpus-scale work is exactly one
    aggregate, as a 10^12-token mixture planner must be.
    """.format(e=_UNIMAX_EPOCHS)
    from pyspark.sql import Window

    toks = _tokens(spark, sf_dir).join(
        _docs(spark, sf_dir).select("doc_id", "lang"), "doc_id"
    )
    per = toks.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_tokens")
    )
    tot = per.agg(
        F.sum("n_tokens").alias("_t"),
        F.count("*").cast("long").alias("_L"),
    ).select(
        (F.col("_t") * _UNIMAX_BUDGET_NUM / _UNIMAX_BUDGET_DEN)
        .cast("long").alias("b"),
        "_L",
    )
    w = Window.orderBy("n_tokens", "lang")
    ranked = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("r", F.row_number().over(w))
        .withColumn("cap", F.col("n_tokens") * _UNIMAX_EPOCHS)
        .withColumn(
            "pfx",
            F.coalesce(
                F.sum("cap").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "capped",
            F.col("cap") * (F.col("_L") - F.col("r") + 1)
            <= F.col("b") - F.col("pfx"),
        )
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("capped"), F.col("cap")).otherwise(0))
        .alias("_sc"),
        F.sum(F.when(F.col("capped"), 0).otherwise(1)).alias("_nu"),
        F.max("b").alias("_b"),
    ).select(
        F.floor(
            (F.col("_b") - F.col("_sc"))
            / F.greatest(F.col("_nu"), F.lit(1))
        ).cast("long").alias("tau"),
        "_sc", "_nu", "_b",
    )
    out = ranked.crossJoin(F.broadcast(agg)).withColumn(
        "alloc",
        F.when(F.col("capped"), F.col("cap")).otherwise(F.col("tau")),
    )
    return out.select(
        "lang", "n_tokens",
        F.col("cap").cast("long").alias("cap"),
        F.col("alloc").cast("long").alias("alloc"),
        _r4(F.col("alloc") / F.col("n_tokens")).alias("epochs"),
        (F.col("_b") - F.col("_sc") - F.col("tau") * F.col("_nu"))
        .cast("long").alias("leftover"),
    ).orderBy("lang")


SQL_UNIMAX_ALLOCATION = f"""WITH {_TOKS_SQL},
per AS (
  SELECT d.lang, count(*) AS n_tokens
  FROM toks t JOIN documents d USING (doc_id) GROUP BY d.lang
),
tot AS (
  SELECT CAST(sum(n_tokens) * {_UNIMAX_BUDGET_NUM}
              / {_UNIMAX_BUDGET_DEN} AS BIGINT) AS b,
         count(*) AS L FROM per
),
ranked AS (
  SELECT lang, n_tokens, tot.b, tot.L,
         row_number() OVER (ORDER BY n_tokens, lang) AS r,
         n_tokens * {_UNIMAX_EPOCHS} AS cap,
         coalesce(sum(n_tokens * {_UNIMAX_EPOCHS}) OVER (
           ORDER BY n_tokens, lang
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
  FROM per CROSS JOIN tot
),
flagged AS (
  SELECT *, (cap * (L - r + 1) <= b - pfx) AS capped FROM ranked
),
agg AS (
  SELECT CAST(floor((max(b) - sum(CASE WHEN capped THEN cap ELSE 0 END))
              / greatest(sum(CASE WHEN capped THEN 0 ELSE 1 END), 1))
         AS BIGINT) AS tau,
         sum(CASE WHEN capped THEN cap ELSE 0 END) AS sc,
         sum(CASE WHEN capped THEN 0 ELSE 1 END) AS nu,
         max(b) AS b2
  FROM flagged
)
SELECT f.lang, CAST(f.n_tokens AS BIGINT) AS n_tokens,
       CAST(f.cap AS BIGINT) AS cap,
       CAST(CASE WHEN f.capped THEN f.cap ELSE a.tau END AS BIGINT)
         AS alloc,
       round(CAST(CASE WHEN f.capped THEN f.cap ELSE a.tau END AS DOUBLE)
             / f.n_tokens, 4) AS epochs,
       CAST(a.b2 - a.sc - a.tau * a.nu AS BIGINT) AS leftover
FROM flagged f CROSS JOIN agg a ORDER BY f.lang"""


# ---------------------------------------------------------------------------
# Calibration curve + ECE (Naeini AAAI 2015 / Guo ICML 2017 framing)
# ---------------------------------------------------------------------------

_CAL_BINS = 10


def q_calibration_curve(spark, sf_dir):
    """Reliability diagram + expected calibration error of the
    quality_classifier's p_keep against the rule-based gopher_quality
    keep label — the standard check (Naeini et al. AAAI'15; Guo et al.
    ICML'17) before a pipeline uses a classifier's PROBABILITY as a
    threshold rather than just its argmax: per confidence bin, mean
    predicted p vs observed keep rate, plus the |gap| each bin
    contributes to ECE = Σ_b (n_b/N)·|acc_b − conf_b|.

    Determinism: bins cut on the 4-decimal ROUNDED p (bin = min(⌊p·10⌋,
    9), integer); observed rates are integer ratios; mean confidence
    sums rounded doubles (the wig/coec precedent).  Scale shape: both
    feature extractions are per-doc map-side aggregates over the same
    token scan; the join is co-keyed on doc_id; the rollup is ≤ 10
    rows.
    """
    toks = _tokens(spark, sf_dir)
    stops = [s.strip("'") for s in _EN_STOPS.strip("()").split(",")]
    per = toks.groupBy("doc_id").agg(
        F.avg(F.length("term")).alias("_len"),
        (F.sum(F.when(F.col("term").isin(stops), 1).otherwise(0))
         / F.count("*")).alias("_stop"),
        (F.count_distinct("term") / F.count("*")).alias("_ttr"),
        F.count("*").cast("long").alias("_n"),
        F.sum(F.length("term")).cast("long").alias("_chars"),
        F.sum(F.when(F.col("term").rlike("[a-z]"), 1).otherwise(0))
        .cast("long").alias("_alpha"),
        F.sum(F.when(F.col("term").isin(stops), 1).otherwise(0))
        .cast("long").alias("_stopn"),
    )
    z = (
        F.lit(_QC_W_LEN) * F.col("_len")
        + F.lit(_QC_W_STOP) * F.col("_stop")
        + F.lit(_QC_W_TTR) * F.col("_ttr")
        + F.lit(_QC_BIAS)
    )
    n = F.col("_n")
    keep = (
        (n >= _GOPHER_MIN_WORDS) & (n <= _GOPHER_MAX_WORDS)
        & (F.col("_chars") * 10 >= F.lit(int(_GOPHER_MIN_MWL * 10)) * n)
        & (F.col("_chars") * 10 <= F.lit(int(_GOPHER_MAX_MWL * 10)) * n)
        & (F.col("_alpha") * 5 >= n * 4)
        & (F.col("_stopn") >= _GOPHER_MIN_STOPS)
    )
    scored = per.select(
        _r4(F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("p"),
        keep.cast("int").alias("y"),
    ).withColumn(
        "bin",
        F.least(F.floor(F.col("p") * _CAL_BINS), F.lit(_CAL_BINS - 1))
        .cast("long"),
    )
    tot = scored.agg(F.count("*").alias("_N"))
    return (
        scored.groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("p").alias("_sp"),
            F.sum("y").cast("long").alias("_sy"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "bin", "n",
            _r4(F.col("_sp") / F.col("n")).alias("mean_conf"),
            _r4(F.col("_sy") / F.col("n")).alias("frac_pos"),
            _r4(
                F.abs(F.col("_sy") / F.col("n") - F.col("_sp") / F.col("n"))
                * F.col("n") / F.col("_N")
            ).alias("ece_part"),
        )
        .orderBy("bin")
    )


SQL_CALIBRATION_CURVE = f"""WITH {_TOKS_SQL},
per AS (
  SELECT doc_id, avg(length(term)) AS len,
         sum(CASE WHEN term IN {_EN_STOPS} THEN 1 ELSE 0 END) * 1.0
           / count(*) AS stop,
         count(DISTINCT term) * 1.0 / count(*) AS ttr,
         count(*) AS n, sum(length(term)) AS chars,
         sum(CASE WHEN regexp_matches(term, '[a-z]') THEN 1 ELSE 0 END)
           AS alpha,
         sum(CASE WHEN term IN {_EN_STOPS} THEN 1 ELSE 0 END) AS stopn
  FROM toks GROUP BY doc_id
),
scored AS (
  SELECT round(1.0 / (1.0 + exp(-({_QC_W_LEN} * len + {_QC_W_STOP} * stop
                                 + {_QC_W_TTR} * ttr + ({_QC_BIAS})))), 4)
           AS p,
         CASE WHEN n >= {_GOPHER_MIN_WORDS} AND n <= {_GOPHER_MAX_WORDS}
                   AND chars * 10 >= {int(_GOPHER_MIN_MWL * 10)} * n
                   AND chars * 10 <= {int(_GOPHER_MAX_MWL * 10)} * n
                   AND alpha * 5 >= n * 4
                   AND stopn >= {_GOPHER_MIN_STOPS}
              THEN 1 ELSE 0 END AS y
  FROM per
),
binned AS (
  SELECT least(CAST(floor(p * {_CAL_BINS}) AS BIGINT), {_CAL_BINS - 1})
           AS bin, p, y
  FROM scored
),
tot AS (SELECT count(*) AS N FROM binned)
SELECT bin, CAST(count(*) AS BIGINT) AS n,
       round(sum(p) / count(*), 4) AS mean_conf,
       round(sum(y) * 1.0 / count(*), 4) AS frac_pos,
       round(abs(sum(y) * 1.0 / count(*) - sum(p) / count(*))
             * count(*) / tot.N, 4) AS ece_part
FROM binned CROSS JOIN tot GROUP BY bin, tot.N ORDER BY bin"""


# ---------------------------------------------------------------------------
# Language-ID confusion matrix (the lang_id operator's own eval)
# ---------------------------------------------------------------------------


def q_lang_confusion(spark, sf_dir):
    """Confusion matrix of the lang_id heuristic against the declared
    lang column — the eval every classifier in a pipeline ships next
    to its predictions (precision per predicted class falls out of the
    same rows): one row per (true, predicted) pair with its count and
    the share of the true class it represents.  On this corpus the
    marker-word heuristic only knows en/de/fr while the synthetic
    corpus shares one vocabulary across langs, so non-en classes
    collapse into false 'en' hits or 'und' — exactly the failure mode
    a confusion matrix exists to expose (and lang_consistency's
    host-majority check complements at the source level).

    Determinism: integer counts, one ratio.  Scale shape: the per-doc
    marker aggregate is lang_id's own map-side shape; the matrix is a
    ≤ |langs|²-row rollup with a broadcast per-class total.
    """
    pred = q_lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    truth = _docs(spark, sf_dir).select("doc_id", F.col("lang").alias("true_lang"))
    j = truth.join(pred, "doc_id")
    per_true = j.groupBy("true_lang").agg(
        F.count("*").alias("_nt")
    )
    return (
        j.groupBy("true_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n"))
        .join(F.broadcast(per_true), "true_lang")
        .select(
            "true_lang", "pred_lang", "n",
            _r4(F.col("n") / F.col("_nt")).alias("frac_of_true"),
        )
        .orderBy("true_lang", "pred_lang")
    )


SQL_LANG_CONFUSION = f"""WITH {_TOKS_SQL},
per AS (
  SELECT doc_id, {_lang_sum_sql('en')} AS n_en, {_lang_sum_sql('de')} AS n_de,
         {_lang_sum_sql('fr')} AS n_fr
  FROM toks GROUP BY doc_id
),
pred AS (
  SELECT doc_id,
         CASE WHEN n_en >= n_de AND n_en >= n_fr AND n_en > 0 THEN 'en'
              WHEN n_de >= n_fr AND n_de > 0 THEN 'de'
              WHEN n_fr > 0 THEN 'fr'
              ELSE 'und' END AS pred_lang
  FROM per
),
j AS (
  SELECT d.lang AS true_lang, p.pred_lang
  FROM documents d JOIN pred p USING (doc_id)
),
pt AS (SELECT true_lang, count(*) AS nt FROM j GROUP BY true_lang)
SELECT j.true_lang, j.pred_lang, CAST(count(*) AS BIGINT) AS n,
       round(count(*) * 1.0 / pt.nt, 4) AS frac_of_true
FROM j JOIN pt ON j.true_lang = pt.true_lang
GROUP BY j.true_lang, j.pred_lang, pt.nt
ORDER BY j.true_lang, j.pred_lang"""


# ---------------------------------------------------------------------------
# Classifier precision-recall threshold sweep (vs the Gopher rule label)
# ---------------------------------------------------------------------------

_PRS_THRESHOLDS = (0.70, 0.75, 0.80, 0.85, 0.90, 0.95)


def q_classifier_pr_sweep(spark, sf_dir):
    """Operating-point selection for the quality classifier: precision /
    recall / F1 of thresholding p_keep at each candidate cutoff,
    against the gopher_quality rule label — the third leg of the
    classifier-QA triptych (calibration_curve asks "is the probability
    honest", otsu_threshold picks a cutoff without labels, this sweep
    picks one WITH labels).  One row per threshold with the four
    confusion counts and the three derived metrics.

    Determinism: the confusion cells are integer counts over the
    rounded score; P/R/F1 are single divisions (0-denominator guarded
    to 0.0).  Scale shape: the per-doc score+label frame computes once
    (the calibration_curve plan); the sweep joins it against a
    |thresholds|-row broadcast and collapses map-side.
    """
    toks = _tokens(spark, sf_dir)
    stops = [s.strip("'") for s in _EN_STOPS.strip("()").split(",")]
    per = toks.groupBy("doc_id").agg(
        F.avg(F.length("term")).alias("_len"),
        (F.sum(F.when(F.col("term").isin(stops), 1).otherwise(0))
         / F.count("*")).alias("_stop"),
        (F.count_distinct("term") / F.count("*")).alias("_ttr"),
        F.count("*").cast("long").alias("_n"),
        F.sum(F.length("term")).cast("long").alias("_chars"),
        F.sum(F.when(F.col("term").rlike("[a-z]"), 1).otherwise(0))
        .cast("long").alias("_alpha"),
        F.sum(F.when(F.col("term").isin(stops), 1).otherwise(0))
        .cast("long").alias("_stopn"),
    )
    z = (
        F.lit(_QC_W_LEN) * F.col("_len")
        + F.lit(_QC_W_STOP) * F.col("_stop")
        + F.lit(_QC_W_TTR) * F.col("_ttr")
        + F.lit(_QC_BIAS)
    )
    n = F.col("_n")
    keep = (
        (n >= _GOPHER_MIN_WORDS) & (n <= _GOPHER_MAX_WORDS)
        & (F.col("_chars") * 10 >= F.lit(int(_GOPHER_MIN_MWL * 10)) * n)
        & (F.col("_chars") * 10 <= F.lit(int(_GOPHER_MAX_MWL * 10)) * n)
        & (F.col("_alpha") * 5 >= n * 4)
        & (F.col("_stopn") >= _GOPHER_MIN_STOPS)
    )
    scored = per.select(
        _r4(F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("p"),
        keep.cast("int").alias("y"),
    )
    ths = spark.createDataFrame(
        [(t,) for t in _PRS_THRESHOLDS], "threshold double"
    )
    cells = (
        scored.crossJoin(F.broadcast(ths))
        .groupBy("threshold")
        .agg(
            F.sum(((F.col("p") >= F.col("threshold"))
                   & (F.col("y") == 1)).cast("int"))
            .cast("long").alias("tp"),
            F.sum(((F.col("p") >= F.col("threshold"))
                   & (F.col("y") == 0)).cast("int"))
            .cast("long").alias("fp"),
            F.sum(((F.col("p") < F.col("threshold"))
                   & (F.col("y") == 1)).cast("int"))
            .cast("long").alias("fn"),
        )
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp") / (F.col("tp") + F.col("fp")),
    ).otherwise(F.lit(0.0))
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.col("tp") / (F.col("tp") + F.col("fn")),
    ).otherwise(F.lit(0.0))
    return cells.select(
        "threshold", "tp", "fp", "fn",
        _r4(prec).alias("precision"),
        _r4(rec).alias("recall"),
        _r4(
            F.when(
                prec + rec > 0, 2 * prec * rec / (prec + rec)
            ).otherwise(F.lit(0.0))
        ).alias("f1"),
    ).orderBy("threshold")


SQL_CLASSIFIER_PR_SWEEP = f"""WITH {_TOKS_SQL},
per AS (
  SELECT doc_id, avg(length(term)) AS len,
         sum(CASE WHEN term IN {_EN_STOPS} THEN 1 ELSE 0 END) * 1.0
           / count(*) AS stop,
         count(DISTINCT term) * 1.0 / count(*) AS ttr,
         count(*) AS n, sum(length(term)) AS chars,
         sum(CASE WHEN regexp_matches(term, '[a-z]') THEN 1 ELSE 0 END)
           AS alpha,
         sum(CASE WHEN term IN {_EN_STOPS} THEN 1 ELSE 0 END) AS stopn
  FROM toks GROUP BY doc_id
),
scored AS (
  SELECT round(1.0 / (1.0 + exp(-({_QC_W_LEN} * len + {_QC_W_STOP} * stop
                                 + {_QC_W_TTR} * ttr + ({_QC_BIAS})))), 4)
           AS p,
         CASE WHEN n >= {_GOPHER_MIN_WORDS} AND n <= {_GOPHER_MAX_WORDS}
                   AND chars * 10 >= {int(_GOPHER_MIN_MWL * 10)} * n
                   AND chars * 10 <= {int(_GOPHER_MAX_MWL * 10)} * n
                   AND alpha * 5 >= n * 4
                   AND stopn >= {_GOPHER_MIN_STOPS}
              THEN 1 ELSE 0 END AS y
  FROM per
),
ths AS (SELECT * FROM (VALUES {", ".join(f"({t})" for t in _PRS_THRESHOLDS)}) AS t(threshold)),
cells AS (
  SELECT threshold,
         sum(CASE WHEN p >= threshold AND y = 1 THEN 1 ELSE 0 END) AS tp,
         sum(CASE WHEN p >= threshold AND y = 0 THEN 1 ELSE 0 END) AS fp,
         sum(CASE WHEN p < threshold AND y = 1 THEN 1 ELSE 0 END) AS fn
  FROM scored CROSS JOIN ths GROUP BY threshold
)
SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       round(CASE WHEN tp + fp > 0 THEN tp * 1.0 / (tp + fp)
                  ELSE 0.0 END, 4) AS precision,
       round(CASE WHEN tp + fn > 0 THEN tp * 1.0 / (tp + fn)
                  ELSE 0.0 END, 4) AS recall,
       round(CASE WHEN (CASE WHEN tp + fp > 0
                             THEN tp * 1.0 / (tp + fp) ELSE 0 END
                  + CASE WHEN tp + fn > 0
                         THEN tp * 1.0 / (tp + fn) ELSE 0 END) > 0
                  THEN 2 * (CASE WHEN tp + fp > 0
                                 THEN tp * 1.0 / (tp + fp) ELSE 0 END)
                         * (CASE WHEN tp + fn > 0
                                 THEN tp * 1.0 / (tp + fn) ELSE 0 END)
                       / ((CASE WHEN tp + fp > 0
                                THEN tp * 1.0 / (tp + fp) ELSE 0 END)
                          + (CASE WHEN tp + fn > 0
                                  THEN tp * 1.0 / (tp + fn) ELSE 0 END))
                  ELSE 0.0 END, 4) AS f1
FROM cells ORDER BY threshold"""


# ---------------------------------------------------------------------------
# Classifier gains chart (cumulative lift by score decile)
# ---------------------------------------------------------------------------


def q_classifier_gains(spark, sf_dir):
    """Decile gains/lift chart of the quality classifier against the
    Gopher label — the third leg of the classifier-QA triptych
    (calibration_curve answers "are the probabilities honest?",
    classifier_pr_sweep "where do I cut?", this chart "how much do I
    capture if I can only afford the top X%?" — the budgeted-curation
    question).  Docs rank by p_keep (ties → doc_id), split into 10
    deciles; per decile: size, positives, cumulative capture rate
    (gain) and cumulative lift over the base rate.

    Determinism: the ranking ties on the 4-decimal p_keep are broken by
    doc_id; ntile(10) has identical semantics in both engines; counts
    are integer with two rounded divisions.  Scale shape: the decile
    assignment is a global rank — stated plainly, like docid_remap, as
    the oracle-parity form; the production path assigns deciles from
    approx-quantile cutpoints of p_keep (one sketch pass + a narrow
    map), which changes no downstream arithmetic.  Label and score
    come from the same per-doc token aggregate, one pass."""
    from pyspark.sql import Window

    score = q_quality_classifier(spark, sf_dir).select("doc_id", "p_keep")
    label = q_gopher_quality(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("int").alias("y")
    )
    ranked = score.join(label, "doc_id").withColumn(
        "decile",
        F.ntile(10).over(
            Window.orderBy(F.col("p_keep").desc(), F.col("doc_id").asc())
        ),
    )
    per = ranked.groupBy("decile").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("_tn"),
        F.sum("n_pos").cast("long").alias("_tp"),
    )
    return (
        per.withColumn("cum_n", F.sum("n").over(w))
        .withColumn("cum_pos", F.sum("n_pos").over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile", "n", "n_pos",
            _r4(F.col("cum_pos") / F.col("_tp")).alias("gain"),
            _r4(
                (F.col("cum_pos") / F.col("cum_n"))
                / (F.col("_tp") / F.col("_tn"))
            ).alias("cum_lift"),
        )
        .orderBy("decile")
    )


def _gains_sql() -> str:
    qc = SQL_QUALITY_CLASSIFIER
    gq = SQL_GOPHER_QUALITY
    return f"""WITH score AS ({qc}),
label AS ({gq}),
ranked AS (
  SELECT s.doc_id, s.p_keep, CAST(l.keep AS INT) AS y,
         ntile(10) OVER (ORDER BY s.p_keep DESC, s.doc_id ASC) AS decile
  FROM score s JOIN label l ON s.doc_id = l.doc_id
),
per AS (
  SELECT decile, count(*) AS n, sum(y) AS n_pos
  FROM ranked GROUP BY decile
),
tot AS (SELECT sum(n) AS tn, sum(n_pos) AS tp FROM per),
cum AS (
  SELECT decile, n, n_pos,
         sum(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_n,
         sum(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
           AS cum_pos
  FROM per
)
SELECT CAST(decile AS INT) AS decile, CAST(n AS BIGINT) AS n,
       CAST(n_pos AS BIGINT) AS n_pos,
       round(cum_pos * 1.0 / tp, 4) AS gain,
       round((cum_pos * 1.0 / cum_n) / (tp * 1.0 / tn), 4) AS cum_lift
FROM cum CROSS JOIN tot ORDER BY decile"""


SQL_CLASSIFIER_GAINS = _gains_sql()


# ---------------------------------------------------------------------------
# Tokenizer fertility by language
# ---------------------------------------------------------------------------


def q_token_fertility(spark, sf_dir):
    """Tokenizer fertility by language: chars per whitespace token,
    chars per BPE-ish token, and the BPE/whitespace blow-up ratio, per
    lang — the per-language cost sheet multilingual budget planning
    reads (UniMax-style allocation counts TOKENS, so a language whose
    fertility runs 1.4× effectively pays 1.4× per character of
    content; complements token_count's per-doc raw counts and
    unimax_allocation's budget math).

    Determinism: all sums are integer (token counts, text lengths);
    the three ratios round at 4.  Scale shape: one narrow per-doc map
    (two regex token counts + length) into a per-lang aggregate —
    map-side combined, |langs| output rows, no joins."""
    txt = F.lower(F.col("text"))
    ws = F.size(F.filter(F.split(txt, r"\s+"), lambda x: x != ""))
    bpe = F.size(F.regexp_extract_all(txt, F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0))
    per = _docs(spark, sf_dir).select(
        "lang",
        ws.cast("long").alias("_ws"),
        bpe.cast("long").alias("_bpe"),
        F.length("text").cast("long").alias("_chars"),
    )
    g = per.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_ws").cast("long").alias("ws_tokens"),
        F.sum("_bpe").cast("long").alias("bpe_tokens"),
        F.sum("_chars").cast("long").alias("chars"),
    )
    return g.select(
        "lang", "n_docs", "ws_tokens", "bpe_tokens",
        _r4(F.col("chars") / F.col("ws_tokens")).alias("chars_per_ws"),
        _r4(F.col("chars") / F.col("bpe_tokens")).alias("chars_per_bpe"),
        _r4(F.col("bpe_tokens") / F.col("ws_tokens")).alias("fertility"),
    ).orderBy("lang")


SQL_TOKEN_FERTILITY = r"""WITH per AS (
  SELECT lang,
         len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x <> '')) AS ws,
         len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'))
           AS bpe,
         length(text) AS chars
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(ws) AS BIGINT) AS ws_tokens,
       CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
       round(sum(chars) * 1.0 / sum(ws), 4) AS chars_per_ws,
       round(sum(chars) * 1.0 / sum(bpe), 4) AS chars_per_bpe,
       round(sum(bpe) * 1.0 / sum(ws), 4) AS fertility
FROM per GROUP BY lang ORDER BY lang"""


# ---------------------------------------------------------------------------
# Brier score with the Murphy reliability/resolution/uncertainty split
# ---------------------------------------------------------------------------


def q_brier_decomposition(spark, sf_dir):
    """Brier score of the quality classifier against the Gopher label,
    split by Murphy's (1973) decomposition over the same 10 confidence
    bins calibration_curve uses: REL (how far bin confidence sits from
    bin outcome — lower is better-calibrated), RES (how much the bins
    separate outcomes — higher is a sharper classifier), UNC = ȳ(1−ȳ)
    (the label's intrinsic difficulty, a floor no model beats), and the
    residual the textbook identity hides: for continuous p,
    Brier − (REL − RES + UNC) = within-bin variance of p minus twice
    the within-bin p,y covariance (Stephenson et al. 2008's
    generalized decomposition; the twin test pins that exact
    identity).  One row —
    the single-number companion to calibration_curve's per-bin table
    and the proper-scoring complement to rfm_churn_auc's pure RANKING
    view (AUC can't see miscalibration; Brier charges for it).

    Determinism: p is the classifier's 4-decimal rounded output, bins
    are integer cuts of it, counts integer; the squared-error sums are
    O(1)-bounded means, rounded at 4.  Scale shape: score and label
    come from one shared token aggregate (co-keyed doc_id join), the
    bin rollup is ≤ 10 rows, the combine is a 1-row reduce."""
    score = q_quality_classifier(spark, sf_dir).select("doc_id", "p_keep")
    label = q_gopher_quality(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("int").alias("y")
    )
    j = score.join(label, "doc_id").select(
        "p_keep", "y",
        F.least(F.floor(F.col("p_keep") * 10), F.lit(9)).cast("int")
        .alias("bin"),
    )
    binned = j.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_b"),
        F.avg("p_keep").alias("pbar"),
        F.avg("y").alias("ybar"),
    )
    glob = j.agg(
        F.count("*").cast("long").alias("n"),
        F.avg("y").alias("ybar_all"),
        F.avg(
            (F.col("p_keep") - F.col("y")) * (F.col("p_keep") - F.col("y"))
        ).alias("brier"),
    )
    comb = binned.crossJoin(F.broadcast(glob))
    rel = F.sum(
        F.col("n_b") / F.col("n")
        * (F.col("pbar") - F.col("ybar")) * (F.col("pbar") - F.col("ybar"))
    )
    res = F.sum(
        F.col("n_b") / F.col("n")
        * (F.col("ybar") - F.col("ybar_all"))
        * (F.col("ybar") - F.col("ybar_all"))
    )
    return comb.groupBy().agg(
        F.first("n").alias("n_docs"),
        _r4(F.first("brier")).alias("brier"),
        _r4(rel).alias("reliability"),
        _r4(res).alias("resolution"),
        _r4(
            F.first("ybar_all") * (1.0 - F.first("ybar_all"))
        ).alias("uncertainty"),
        _r4(
            F.first("brier")
            - (
                rel - res
                + F.first("ybar_all") * (1.0 - F.first("ybar_all"))
            )
        ).alias("binning_residual"),
    ).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        "brier", "reliability", "resolution", "uncertainty",
        "binning_residual",
    )


SQL_BRIER_DECOMPOSITION = f"""WITH score AS ({SQL_QUALITY_CLASSIFIER}),
label AS ({SQL_GOPHER_QUALITY}),
j AS (
  SELECT s.p_keep, CAST(l.keep AS INT) AS y,
         CAST(least(floor(s.p_keep * 10), 9) AS INT) AS bin
  FROM score s JOIN label l ON s.doc_id = l.doc_id
),
binned AS (
  SELECT bin, count(*) AS n_b, avg(p_keep) AS pbar, avg(y) AS ybar
  FROM j GROUP BY bin
),
g AS (
  SELECT count(*) AS n, avg(y) AS ybar_all,
         avg((p_keep - y) * (p_keep - y)) AS brier
  FROM j
)
SELECT CAST(max(g.n) AS BIGINT) AS n_docs,
       round(max(g.brier), 4) AS brier,
       round(sum(n_b * 1.0 / g.n * (pbar - ybar) * (pbar - ybar)), 4)
         AS reliability,
       round(sum(n_b * 1.0 / g.n * (ybar - g.ybar_all)
                 * (ybar - g.ybar_all)), 4) AS resolution,
       round(max(g.ybar_all) * (1.0 - max(g.ybar_all)), 4)
         AS uncertainty,
       round(max(g.brier)
             - (sum(n_b * 1.0 / g.n * (pbar - ybar) * (pbar - ybar))
                - sum(n_b * 1.0 / g.n * (ybar - g.ybar_all)
                      * (ybar - g.ybar_all))
                + max(g.ybar_all) * (1.0 - max(g.ybar_all))), 4)
         AS binning_residual
FROM binned CROSS JOIN g
GROUP BY g.n"""
