"""Corpus and crawl statistics catalog entries: URL normalization, the
politeness-scheduled frontier, robots filtering, crawl makespan,
consistent-hash moves, posting-length histogram, head-term coverage,
stopword induction, Zipf and Heaps fits, burstiness, KL drift, Benford
digits, corpus-size and cardinality estimates, the OLAP cube and the
k-anonymity audit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from search_engine_spark.catalog.ir import (
    _dl, _docs, _r4, _SKIP_PAIRS, _tf, _tokens, _TOKS_SQL,
)


# ---------------------------------------------------------------------------
# URL canonicalization (crawler frontier dedup key)
# ---------------------------------------------------------------------------

_URL_RE = (
    r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/:?#]+)(?::([0-9]+))?"
    r"([^?#]*)(?:\?([^#]*))?(?:#(.*))?$"
)


def q_url_normalize(spark, sf_dir):
    """URL canonicalization — the normalization a crawl frontier applies
    before URL-dedup (SURVEY §2 S2; the reference dedups exact url
    strings, so equivalent-but-differently-written URLs crawl twice):
    lowercase scheme+host, strip a leading www., drop the default port
    for the scheme, drop the fragment, and sort query parameters.  Path
    case is preserved (paths are case-sensitive).

    The messy input URL is synthesized deterministically from doc_id in
    BOTH engines (mixed-case scheme/host, default and non-default ports,
    unsorted params, fragments), then parsed back with one RFC-3986-ish
    regex that means the same thing in Java regex and RE2.  Pure
    string/array built-ins per row — no UDF, no shuffle at all: at
    10^12 URLs this runs entirely inside the scan stage.
    """
    d = _docs(spark, sf_dir).select("doc_id")
    messy = d.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP")).otherwise(
                F.lit("https")
            ),
            F.lit("://WWW.Site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".Example.COM"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(":80"))
            .when(F.col("doc_id") % 3 == 1, F.lit(":443"))
            .otherwise(F.lit(":8080")),
            F.lit("/Path/"),
            F.col("doc_id").cast("string"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit("?z=1&a=2&m="), (F.col("doc_id") % 5).cast("string")
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit("#sec"), (F.col("doc_id") % 4).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("url"),
    )
    scheme = F.lower(F.regexp_extract("url", _URL_RE, 1))
    host0 = F.lower(F.regexp_extract("url", _URL_RE, 2))
    host = F.regexp_replace(host0, r"^www\.", "")
    port = F.regexp_extract("url", _URL_RE, 3)
    path = F.regexp_extract("url", _URL_RE, 4)
    q = F.regexp_extract("url", _URL_RE, 5)
    default_port = (
        (scheme == "http") & (port == "80")
    ) | ((scheme == "https") & (port == "443"))
    return messy.select(
        "doc_id",
        "url",
        F.concat(
            scheme,
            F.lit("://"),
            host,
            F.when(
                (port == "") | default_port, F.lit("")
            ).otherwise(F.concat(F.lit(":"), port)),
            path,
            F.when(q == "", F.lit("")).otherwise(
                F.concat(
                    F.lit("?"), F.array_join(F.sort_array(F.split(q, "&")), "&")
                )
            ),
        ).alias("norm"),
    )


SQL_URL_NORMALIZE = f"""WITH messy AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
         || '://WWW.Site' || (doc_id % 7) || '.Example.COM'
         || (CASE doc_id % 3 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
             ELSE ':8080' END)
         || '/Path/' || doc_id
         || (CASE WHEN doc_id % 3 = 0
             THEN '?z=1&a=2&m=' || (doc_id % 5) ELSE '' END)
         || (CASE WHEN doc_id % 2 = 0
             THEN '#sec' || (doc_id % 4) ELSE '' END) AS url
  FROM documents
),
parsed AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '{_URL_RE}', 1)) AS scheme,
         lower(regexp_extract(url, '{_URL_RE}', 2)) AS host0,
         regexp_extract(url, '{_URL_RE}', 3) AS port,
         regexp_extract(url, '{_URL_RE}', 4) AS path,
         regexp_extract(url, '{_URL_RE}', 5) AS q
  FROM messy
)
SELECT doc_id, url,
       scheme || '://'
       || (CASE WHEN host0 LIKE 'www.%' THEN substr(host0, 5) ELSE host0 END)
       || (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                 OR (scheme = 'https' AND port = '443')
           THEN '' ELSE ':' || port END)
       || path
       || (CASE WHEN q = '' THEN ''
           ELSE '?' || array_to_string(list_sort(str_split(q, '&')), '&')
           END) AS norm
FROM parsed ORDER BY doc_id"""


_FRONTIER_DELAY_S = 5
_FRONTIER_K = 100


def q_crawl_frontier(spark, sf_dir):
    """Politeness-scheduled crawl frontier: the reference's crawler
    rate-limits per host (one in-flight fetch per host, see SURVEY §2
    S1); modeled here as per-host serialization — within each `source`
    host, urls are ordered by priority (n_chars DESC, the 'longer page
    = richer hub' heuristic, id tie-break) and the i-th url of a host
    becomes fetchable at slot i*_FRONTIER_DELAY_S seconds.  Returns the
    next _FRONTIER_K fetches across all hosts, earliest slot first.

    Scale shape: the per-host ranking is a window partitioned BY HOST —
    hosts hash-distribute across executors and no host's url list is
    web-scale, so the sort is bounded per partition; the final next-K is
    a distributed TakeOrdered, never a global sort.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    sched = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        "n_chars",
        ((F.row_number().over(w) - F.lit(1)) * F.lit(_FRONTIER_DELAY_S))
        .cast("long")
        .alias("slot_s"),
    )
    return (
        sched.orderBy(
            F.col("slot_s").asc(), F.col("n_chars").desc(), F.col("doc_id").asc()
        )
        .limit(_FRONTIER_K)
        .select("doc_id", "source", "slot_s")
    )


SQL_CRAWL_FRONTIER = f"""WITH sched AS (
  SELECT doc_id, source, n_chars,
         CAST((row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id ASC) - 1)
              * {_FRONTIER_DELAY_S} AS BIGINT) AS slot_s
  FROM documents
)
SELECT doc_id, source, slot_s FROM sched
ORDER BY slot_s ASC, n_chars DESC, doc_id ASC LIMIT {_FRONTIER_K}"""


# ---------------------------------------------------------------------------
# robots.txt disallow filtering (crawl-frontier politeness, S1/S2 adjunct)
# ---------------------------------------------------------------------------

def q_robots_filter(spark, sf_dir):
    """robots.txt disallow-prefix filtering of the crawl frontier: each
    URL is allowed iff its path starts with none of its host's
    disallowed prefixes (the longest-used robots.txt rule form; REP
    RFC 9309 prefix semantics).  Hosts and paths are synthesized
    deterministically from doc_id like q_url_normalize; each host's
    rule set is derived from the host index (1-2 disallow prefixes).
    Output: per-host URL / blocked / allowed counts.

    Scale shape: the rules side is per-host tiny (robots files are KBs)
    and broadcast; the prefix test is a narrow starts_with after an
    equi-join on host, aggregated per URL then per host — at 10^12 URLs
    this is one broadcast-join stage over the frontier scan, no
    corpus-wide shuffle (the per-host rollup moves |hosts| rows).
    """
    d = _docs(spark, sf_dir).select("doc_id")
    urls = d.select(
        "doc_id",
        F.concat(F.lit("site"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".example.com")).alias("host"),
        F.concat(F.lit("/sec"), (F.col("doc_id") % 5).cast("string"),
                 F.lit("/page"), F.col("doc_id").cast("string")).alias("path"),
    )
    hosts = spark.range(7).select(
        F.concat(F.lit("site"), F.col("id").cast("string"),
                 F.lit(".example.com")).alias("host"),
        F.col("id").alias("h"),
    )
    rules = hosts.select(
        "host",
        F.explode(
            F.when(
                F.col("h") % 2 == 0,
                F.array(
                    F.concat(F.lit("/sec"), (F.col("h") % 5).cast("string"), F.lit("/")),
                    F.concat(F.lit("/sec"), ((F.col("h") + 2) % 5).cast("string"), F.lit("/")),
                ),
            ).otherwise(
                F.array(
                    F.concat(F.lit("/sec"), (F.col("h") % 5).cast("string"), F.lit("/"))
                )
            )
        ).alias("prefix"),
    )
    per_url = (
        urls.join(F.broadcast(rules), "host", "left")
        .groupBy("doc_id", "host")
        .agg(
            F.max(
                F.when(F.col("path").startswith(F.col("prefix")), 1).otherwise(0)
            ).alias("blocked")
        )
    )
    return (
        per_url.groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.sum("blocked").cast("long").alias("n_blocked"),
            F.sum(1 - F.col("blocked")).cast("long").alias("n_allowed"),
        )
    )


SQL_ROBOTS_FILTER = """WITH urls AS (
  SELECT doc_id,
         'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
         '/sec' || CAST(doc_id % 5 AS VARCHAR) || '/page'
           || CAST(doc_id AS VARCHAR) AS path
  FROM documents
),
hosts AS (
  SELECT 'site' || CAST(h AS VARCHAR) || '.example.com' AS host, h
  FROM (SELECT unnest(range(0, 7)) AS h)
),
rules AS (
  SELECT host,
         unnest(CASE WHEN h % 2 = 0
                THEN ['/sec' || CAST(h % 5 AS VARCHAR) || '/',
                      '/sec' || CAST((h + 2) % 5 AS VARCHAR) || '/']
                ELSE ['/sec' || CAST(h % 5 AS VARCHAR) || '/'] END) AS prefix
  FROM hosts
),
per_url AS (
  SELECT u.doc_id, u.host,
         max(CASE WHEN starts_with(u.path, r.prefix) THEN 1 ELSE 0 END)
           AS blocked
  FROM urls u LEFT JOIN rules r ON u.host = r.host
  GROUP BY u.doc_id, u.host
)
SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(sum(blocked) AS BIGINT) AS n_blocked,
       CAST(sum(1 - blocked) AS BIGINT) AS n_allowed
FROM per_url GROUP BY host"""


# ---------------------------------------------------------------------------
# per-source distribution drift (KL divergence of unigram LMs)
# ---------------------------------------------------------------------------

_KL_ALPHA = 1.0   # add-one smoothing over the corpus vocabulary


def q_kl_drift(spark, sf_dir):
    """Corpus-drift sheet: per source, the KL divergence of its smoothed
    unigram distribution from the whole-corpus distribution — the
    monitoring number that flags a crawl slice (or a new dump) whose
    language shifted before it contaminates a training mix.  Both
    distributions are add-α smoothed over the SAME corpus vocabulary so
    support matches and KL is finite.

    Scale shape: per-(source, term) counts aggregate map-side; the
    corpus LM joins by term (no broadcast hint — vocab cardinality is
    corpus-dependent, the dsir lesson); the vocab-size and per-source
    totals are small broadcast side plans.  Terms a source lacks
    contribute ONLY through the smoothing mass, folded in closed form
    (α-only terms share one log), so the plan never outer-joins
    source × vocab.
    """
    toks = _tokens(spark, sf_dir).select("doc_id", "term")
    src = _docs(spark, sf_dir).select("doc_id", "source")
    st = toks.join(src, "doc_id").select("source", "term")
    # per-source term counts and totals
    sc = st.groupBy("source", "term").agg(F.count("*").alias("c"))
    stot = sc.groupBy("source").agg(F.sum("c").alias("n"))
    # corpus counts, total, vocab size
    cc = st.groupBy("term").agg(F.count("*").alias("cc"))
    ctot = cc.agg(
        F.sum("cc").alias("t"), F.count("*").alias("v")
    )
    # p_s(w) = (c + α)/(n + αV), q(w) = (cc + α)/(t + αV)
    # KL = Σ_vocab p log(p/q); terms with c=0 have p = α/(n+αV) —
    # their Σ is  α/(n+αV) · Σ_{c=0} log(p/q), folded via
    # Σ_{c=0} log q  =  Σ_all log q − Σ_{c>0} log q  (all computed on
    # matched rows; Σ_all log q is one corpus-wide aggregate)
    j = sc.join(cc, "term").join(F.broadcast(stot), "source").crossJoin(
        F.broadcast(ctot)
    )
    a = F.lit(_KL_ALPHA)
    p = (F.col("c") + a) / (F.col("n") + a * F.col("v"))
    q = (F.col("cc") + a) / (F.col("t") + a * F.col("v"))
    matched = j.groupBy("source").agg(
        F.sum(p * F.log(p / q)).alias("_kl_pos"),
        F.sum(F.log(q)).alias("_logq_pos"),
        F.count("*").alias("_nterms"),
        F.first("n").alias("_n"),
        F.first("v").alias("_v"),
        F.first("t").alias("_t"),
    )
    logq_all = cc.crossJoin(F.broadcast(ctot)).agg(
        F.sum(
            F.log((F.col("cc") + a) / (F.col("t") + a * F.col("v")))
        ).alias("_logq_all")
    )
    p0 = a / (F.col("_n") + a * F.col("_v"))
    kl = (
        F.col("_kl_pos")
        + p0
        * (
            (F.col("_v") - F.col("_nterms")) * F.log(p0)
            - (F.col("_logq_all") - F.col("_logq_pos"))
        )
    )
    return (
        matched.crossJoin(F.broadcast(logq_all))
        .select(
            "source",
            F.col("_n").cast("long").alias("n_tokens"),
            _r4(kl).alias("kl"),
        )
        .orderBy(F.col("kl").desc(), F.col("source").asc())
    )


SQL_KL_DRIFT = f"""WITH {_TOKS_SQL},
st AS (
  SELECT d.source, t.term FROM toks t
  JOIN documents d ON t.doc_id = d.doc_id
),
sc AS (SELECT source, term, count(*) AS c FROM st GROUP BY source, term),
stot AS (SELECT source, sum(c) AS n FROM sc GROUP BY source),
cc AS (SELECT term, count(*) AS cc FROM st GROUP BY term),
ctot AS (SELECT sum(cc) AS t, count(*) AS v FROM cc),
logq_all AS (
  SELECT sum(ln((cc + {_KL_ALPHA}) / (t + {_KL_ALPHA} * v))) AS logq_all
  FROM cc CROSS JOIN ctot
),
matched AS (
  SELECT sc.source,
         sum(((sc.c + {_KL_ALPHA}) / (stot.n + {_KL_ALPHA} * ctot.v))
             * ln(((sc.c + {_KL_ALPHA}) / (stot.n + {_KL_ALPHA} * ctot.v))
                  / ((cc.cc + {_KL_ALPHA}) / (ctot.t + {_KL_ALPHA} * ctot.v))))
           AS kl_pos,
         sum(ln((cc.cc + {_KL_ALPHA}) / (ctot.t + {_KL_ALPHA} * ctot.v)))
           AS logq_pos,
         count(*) AS nterms,
         any_value(stot.n) AS n, any_value(ctot.v) AS v
  FROM sc JOIN cc ON sc.term = cc.term
  JOIN stot ON sc.source = stot.source
  CROSS JOIN ctot
  GROUP BY sc.source
)
SELECT m.source, CAST(m.n AS BIGINT) AS n_tokens,
       round(m.kl_pos
             + ({_KL_ALPHA} / (m.n + {_KL_ALPHA} * m.v))
               * ((m.v - m.nterms)
                    * ln({_KL_ALPHA} / (m.n + {_KL_ALPHA} * m.v))
                  - (l.logq_all - m.logq_pos)), 4) AS kl
FROM matched m CROSS JOIN logq_all l
ORDER BY kl DESC, m.source ASC"""


# ---------------------------------------------------------------------------
# posting-list length histogram (index sizing / codec selection surface)
# ---------------------------------------------------------------------------

def q_posting_histogram(spark, sf_dir):
    """Distribution of posting-list lengths (document frequency per term)
    in power-of-two buckets — the statistic that sizes skip blocks,
    picks codecs (varbyte vs bitpack vs bitmap), and predicts WAND
    effectiveness for an index build.  Bucket = bit_length(df) - 1,
    computed with integer string arithmetic on both sides so no
    floating log2 sits on a power-of-two boundary.

    Scale shape: tf dedup and the df count are the same two map-side
    combining aggregates the index build itself runs; the histogram is
    a <=64-row rollup.
    """
    df = (
        _tf(spark, sf_dir)
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    bucket = (F.length(F.bin(F.col("df"))) - 1).cast("long").alias("bucket")
    return (
        df.groupBy(bucket)
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("df").cast("long").alias("n_postings"),
            F.min("df").cast("long").alias("min_df"),
            F.max("df").cast("long").alias("max_df"),
        )
        .orderBy("bucket")
    )


SQL_POSTING_HISTOGRAM = f"""WITH {_TOKS_SQL},
tf AS (SELECT term, doc_id FROM toks GROUP BY term, doc_id),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(df) AS BIGINT) AS n_postings,
       CAST(min(df) AS BIGINT) AS min_df,
       CAST(max(df) AS BIGINT) AS max_df
FROM df GROUP BY 1 ORDER BY bucket"""


_HEAPS_POINTS = 8  # geometric doc-id checkpoints for the growth curve


def q_heaps_law(spark, sf_dir):
    """Heaps'-law fit of vocabulary growth, V(n) = k * n^beta over token
    count n — the index-sizing statistic that says how the term
    dictionary (and every vocab-keyed structure: df table, WAND bounds,
    dictionary shards) grows as the crawl scales from 10^9 to 10^12
    tokens.  Checkpoints are _HEAPS_POINTS integer-exact cuts of the
    doc_id VALUE range (never a global row_number — no total sort);
    vocab at a cut counts terms whose FIRST occurrence (min doc_id,
    one vocab-sized aggregate) falls at or below it, tokens at a cut
    sum doc lengths below it.  Both per-cut counts are broadcast theta
    joins against the tiny checkpoint table, map-side combinable to
    |checkpoints| rows.  The log-log least-squares fold is one 8-row
    aggregate; both engines run the identical formula on identical
    integer pairs.

    Returns one row: beta (the Heaps exponent, ~0.5 for natural text),
    k (the coefficient), and the checkpoint count."""
    toks = _tokens(spark, sf_dir)
    bounds = _docs(spark, sf_dir).agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    cps = (
        spark.range(1, _HEAPS_POINTS + 1)
        .withColumnRenamed("id", "i")
        .crossJoin(F.broadcast(bounds))
        .select(
            (
                F.col("lo")
                + F.floor(
                    (F.col("i") * (F.col("hi") - F.col("lo"))
                     + F.lit(_HEAPS_POINTS - 1))
                    / F.lit(_HEAPS_POINTS)
                )
            ).cast("long").alias("cp")
        )
    )
    first = toks.groupBy("term").agg(F.min("doc_id").alias("fd"))
    vocab = (
        first.join(F.broadcast(cps), F.col("fd") <= F.col("cp"))
        .groupBy("cp").agg(F.count("*").alias("vocab"))
    )
    tokens = (
        _dl(spark, sf_dir)
        .join(F.broadcast(cps), F.col("doc_id") <= F.col("cp"))
        .groupBy("cp").agg(F.sum("dl").alias("tokens"))
    )
    pts = vocab.join(tokens, "cp").select(
        F.log(F.col("tokens").cast("double")).alias("x"),
        F.log(F.col("vocab").cast("double")).alias("y"),
    )
    fit = pts.agg(
        F.count("*").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    beta = (F.col("sxy") - F.col("n") * F.col("mx") * F.col("my")) / (
        F.col("sxx") - F.col("n") * F.col("mx") * F.col("mx")
    )
    return fit.select(
        _r4(beta).alias("beta"),
        _r4(F.exp(F.col("my") - beta * F.col("mx"))).alias("k"),
        F.col("n").cast("long").alias("n_points"),
    )


SQL_HEAPS_LAW = f"""WITH {_TOKS_SQL},
bounds AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
cps AS (
  SELECT lo + (i * (hi - lo) + {_HEAPS_POINTS - 1}) // {_HEAPS_POINTS} AS cp
  FROM bounds, range(1, {_HEAPS_POINTS + 1}) r(i)
),
first AS (SELECT term, min(doc_id) AS fd FROM toks GROUP BY term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
vocab AS (SELECT cp, count(*) AS vocab FROM first JOIN cps ON fd <= cp
          GROUP BY cp),
tokens AS (SELECT cp, sum(dl) AS tokens FROM dl JOIN cps ON doc_id <= cp
           GROUP BY cp),
pts AS (SELECT ln(CAST(tokens AS DOUBLE)) AS x, ln(CAST(vocab AS DOUBLE)) AS y
        FROM vocab JOIN tokens USING (cp)),
fit AS (SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
               sum(x * y) AS sxy, sum(x * x) AS sxx FROM pts)
SELECT round((sxy - n * mx * my) / (sxx - n * mx * mx), 4) AS beta,
       round(exp(my - (sxy - n * mx * my) / (sxx - n * mx * mx) * mx), 4)
         AS k,
       CAST(n AS BIGINT) AS n_points
FROM fit"""


_ZIPF_K = 1000  # head terms used for the rank-frequency fit


def q_zipf_fit(spark, sf_dir):
    """Zipf's-law fit of the term rank-frequency curve: slope and
    intercept of ln(freq) over ln(rank) for the _ZIPF_K most frequent
    terms — the skew statistic that sizes posting-list caching, WAND
    block budgets, and hot-shard salting (slope ~ -1 means the head
    term's list is ~K× the rank-K list).

    Scale shape: the head cut is a distributed TakeOrdered over the
    term-frequency aggregate (count desc, term asc — deterministic at
    the boundary); the rank window and the regression fold then touch
    only those _ZIPF_K rows.  No global sort of the vocabulary."""
    from pyspark.sql import Window

    head = (
        _tokens(spark, sf_dir)
        .groupBy("term").agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("term").asc())
        .limit(_ZIPF_K)
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    pts = head.withColumn("rank", F.row_number().over(w)).select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    fit = pts.agg(
        F.count("*").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("sxy") - F.col("n") * F.col("mx") * F.col("my")) / (
        F.col("sxx") - F.col("n") * F.col("mx") * F.col("mx")
    )
    return fit.select(
        _r4(slope).alias("slope"),
        _r4(F.col("my") - slope * F.col("mx")).alias("intercept"),
        F.col("n").cast("long").alias("n_terms"),
    )


SQL_ZIPF_FIT = f"""WITH {_TOKS_SQL},
head AS (SELECT term, count(*) AS freq FROM toks GROUP BY term
         ORDER BY freq DESC, term ASC LIMIT {_ZIPF_K}),
pts AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, term ASC)
                 AS DOUBLE)) AS x,
         ln(CAST(freq AS DOUBLE)) AS y
  FROM head
),
fit AS (SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
               sum(x * y) AS sxy, sum(x * x) AS sxx FROM pts)
SELECT round((sxy - n * mx * my) / (sxx - n * mx * mx), 4) AS slope,
       round(my - (sxy - n * mx * my) / (sxx - n * mx * mx) * mx, 4)
         AS intercept,
       CAST(n AS BIGINT) AS n_terms
FROM fit"""


# ---------------------------------------------------------------------------
# Term burstiness (keyword-stuffing / spam lexical signal)
# ---------------------------------------------------------------------------

_BURST_MIN_DF = 5


def q_term_burstiness(spark, sf_dir):
    """Term burstiness (Church & Gale; Katz's K-mixture observation that
    content words repeat within a document far more than Poisson
    predicts): per term with df ≥ _BURST_MIN_DF, the within-document
    repeat rate b = ctf/df, and the Poisson check df_poisson =
    N·(1−e^(−ctf/N)) — a term whose observed df falls well below
    df_poisson concentrates its mass in few docs (df_ratio < 1 =
    bursty).  Extreme b with low df is the keyword-stuffing /
    spam-page lexical signature the static ranker demotes.  Top-20 by
    b, term tiebreak.

    Scale shape: one map-side-combinable groupBy over the tf table (the
    same aggregate the dictionary build runs), a 1-row doc-count
    broadcast, and a top-k cut — no joins against the vocabulary, no
    window over it.
    """
    agg = _tf(spark, sf_dir).groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("ctf"),
        F.max("tf").cast("long").alias("max_tf"),
    ).filter(F.col("df") >= _BURST_MIN_DF)
    n = _dl(spark, sf_dir).agg(F.count("*").alias("n_docs"))
    lam = F.col("ctf") / F.col("n_docs")
    df_pois = F.col("n_docs") * (F.lit(1.0) - F.exp(-lam))
    return (
        agg.crossJoin(F.broadcast(n))
        .select(
            "term", "df", "ctf", "max_tf",
            _r4(F.col("ctf") / F.col("df")).alias("b"),
            _r4(F.col("df") / df_pois).alias("df_ratio"),
        )
        .orderBy(F.col("b").desc(), F.col("term").asc())
        .limit(20)
    )


SQL_TERM_BURSTINESS = f"""WITH {_TOKS_SQL},
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id),
agg AS (
  SELECT term, count(*) AS df, sum(tf) AS ctf, max(tf) AS max_tf
  FROM tf GROUP BY term HAVING count(*) >= {_BURST_MIN_DF}
),
n AS (SELECT count(*) AS n_docs FROM (SELECT DISTINCT doc_id FROM toks))
SELECT term, CAST(df AS BIGINT) AS df, CAST(ctf AS BIGINT) AS ctf,
       CAST(max_tf AS BIGINT) AS max_tf,
       round(CAST(ctf AS DOUBLE) / df, 4) AS b,
       round(df / (n_docs * (1.0 - exp(-(CAST(ctf AS DOUBLE) / n_docs)))),
             4) AS df_ratio
FROM agg CROSS JOIN n
ORDER BY b DESC, term ASC LIMIT 20"""
_STOP_TOPN = 10


def q_stopword_induction(spark, sf_dir):
    """Corpus-driven stopword induction — rank terms by document-ratio
    df/N (Luhn's high-frequency cut; the list Lucene ships per language
    is exactly this computed offline): the top {_STOP_TOPN} terms by how
    universally they appear, with their (vanishing) BM25 idf attached —
    the evidence for dropping them from the index or flagging them
    stop-eligible at query time.

    Scale shape: df is one map-side distinct-count aggregate over the
    token scan; N is a 1-row broadcast; the cut is a distributed
    TakeOrdered over |vocabulary| rows — never a global window.
    """
    df = (
        _tokens(spark, sf_dir)
        .groupBy("term")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    n = _docs(spark, sf_dir).agg(F.count("*").alias("_n"))
    return (
        df.crossJoin(F.broadcast(n))
        .select(
            "term",
            F.col("df").cast("long").alias("df"),
            _r4(F.col("df") / F.col("_n")).alias("df_ratio"),
            _r4(
                F.log(
                    (F.col("_n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1.0
                )
            ).alias("idf"),
        )
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(_STOP_TOPN)
    )


SQL_STOPWORD_INDUCTION = f"""WITH {_TOKS_SQL},
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
n AS (SELECT count(*) AS n FROM documents)
SELECT term, CAST(df AS BIGINT) AS df,
       round(CAST(df AS DOUBLE) / n.n, 4) AS df_ratio,
       round(ln((n.n - df + 0.5) / (df + 0.5) + 1.0), 4) AS idf
FROM df CROSS JOIN n
ORDER BY df DESC, term ASC LIMIT {_STOP_TOPN}"""


# ---------------------------------------------------------------------------
# Consistent-hashing reshard movement (Karger STOC'97; HRW: Thaler-Ravishankar)
# ---------------------------------------------------------------------------

_CH_N = 8          # current shard count; the comparison adds one


def q_consistent_hash_moves(spark, sf_dir):
    """Reshard movement: what fraction of doc keys MOVE when the shard
    count grows {n} → {n1}, under (a) mod-hashing and (b) rendezvous /
    highest-random-weight hashing (Thaler & Ravishankar 1998 — the
    stateless equivalent of Karger's consistent hashing ring).  The
    classic result this verifies on real keys: mod moves ≈ {n}/{n1} of
    all keys (nearly everything reshuffles), rendezvous moves exactly
    the keys the NEW shard wins ≈ 1/{n1} — the argument for HRW-sharded
    posting stores whose chunks must not churn on scale-out.

    Determinism: both schemes hash with the engine-portable md5-prefix
    integer (shard_balance's idiom); winners pick by (weight, shard)
    max — pure integer compares.  Scale shape: mod is a narrow
    expression; rendezvous joins each key against a BROADCAST
    ≤{n1}-row shard table and reduces with max_by — one
    map-side-combinable pass, output 2 rows.
    """.format(n=_CH_N, n1=_CH_N + 1)
    keys = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("k")
    )
    h = F.conv(F.substring(F.md5("k"), 1, 8), 16, 10).cast("long")
    mod = keys.select(
        (F.pmod(h, F.lit(_CH_N)) != F.pmod(h, F.lit(_CH_N + 1)))
        .cast("int").alias("moved")
    ).agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("moved").cast("long").alias("n_moved"),
    ).select(F.lit("mod").alias("scheme"), "n_keys", "n_moved")

    shards = spark.createDataFrame(
        [(s,) for s in range(_CH_N + 1)], "s long"
    )
    ww = F.conv(
        F.substring(F.md5(F.concat_ws(":", "k", "s")), 1, 8), 16, 10
    ).cast("long")
    pairs = keys.crossJoin(F.broadcast(shards)).select(
        "k", "s", ww.alias("w")
    )
    ordk = F.col("w") * 16 + F.col("s")   # strictly monotone in (w, s)
    new_s = pairs.groupBy("k").agg(
        F.max_by("s", ordk).alias("new_s")
    )
    old_s = (
        pairs.filter(F.col("s") < _CH_N)
        .groupBy("k")
        .agg(F.max_by("s", ordk).alias("old_s"))
    )
    hrw = (
        new_s.join(old_s, "k")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum(
                (F.col("new_s") != F.col("old_s")).cast("int")
            ).cast("long").alias("n_moved"),
        )
        .select(F.lit("rendezvous").alias("scheme"), "n_keys", "n_moved")
    )
    return (
        mod.unionByName(hrw)
        .select(
            "scheme", "n_keys", "n_moved",
            _r4(F.col("n_moved") / F.col("n_keys")).alias("frac_moved"),
        )
        .orderBy("scheme")
    )


SQL_CONSISTENT_HASH_MOVES = f"""WITH keys AS (
  SELECT CAST(doc_id AS VARCHAR) AS k FROM documents
),
modm AS (
  SELECT 'mod' AS scheme, count(*) AS n_keys,
         sum(CASE WHEN h % {_CH_N} <> h % {_CH_N + 1} THEN 1 ELSE 0 END)
           AS n_moved
  FROM (SELECT CAST(concat('0x', substr(md5(k), 1, 8)) AS BIGINT) AS h
        FROM keys)
),
shards AS (SELECT * FROM range({_CH_N + 1}) AS t(s)),
pairs AS (
  SELECT k, s,
         CAST(concat('0x', substr(md5(concat(k, ':', CAST(s AS VARCHAR))),
                                  1, 8)) AS BIGINT) AS w
  FROM keys CROSS JOIN shards
),
new_s AS (
  SELECT k, max_by(s, w * 16 + s) AS new_s FROM pairs GROUP BY k
),
old_s AS (
  SELECT k, max_by(s, w * 16 + s) AS old_s FROM pairs
  WHERE s < {_CH_N} GROUP BY k
),
hrwm AS (
  SELECT 'rendezvous' AS scheme, count(*) AS n_keys,
         sum(CASE WHEN n.new_s <> o.old_s THEN 1 ELSE 0 END) AS n_moved
  FROM new_s n JOIN old_s o USING (k)
)
SELECT scheme, CAST(n_keys AS BIGINT) AS n_keys,
       CAST(n_moved AS BIGINT) AS n_moved,
       round(n_moved * 1.0 / n_keys, 4) AS frac_moved
FROM (SELECT * FROM modm UNION ALL SELECT * FROM hrwm)
ORDER BY scheme"""


# ---------------------------------------------------------------------------
# Politeness-bound crawl makespan (Cho & Garcia-Molina's scheduling bound)
# ---------------------------------------------------------------------------

_CRAWL_DELAY_S = 2        # per-host politeness delay between fetches
_CRAWL_WORKERS = 16


def q_crawl_makespan(spark, sf_dir):
    """The politeness long-pole analysis every crawler capacity plan
    starts from (Cho & Garcia-Molina's crawl-ordering work assumes it;
    robots crawl-delay makes it binding): with a {d}s per-host delay, a
    host with n pages takes n·{d}s REGARDLESS of worker count — so the
    crawl's lower bound is max(host serial time, total work / workers).
    Per host: page count, serial seconds, and its share of the bound;
    every row also carries the fleet bound for {w} workers and whether
    THIS host is the long pole (the host you shard by ip-range or
    negotiate a higher rate for).

    Determinism: integer page counts × integer delay; the bound is a
    greatest() of two integers (total work is integer-divided, ceil).
    Scale shape: one map-side host aggregate; the bound is a 1-row
    broadcast back — the planner never shuffles more than |hosts| rows.
    """.format(d=_CRAWL_DELAY_S, w=_CRAWL_WORKERS)
    per = _docs(spark, sf_dir).groupBy(
        F.col("source").alias("host")
    ).agg(F.count("*").cast("long").alias("n_pages"))
    per = per.withColumn(
        "serial_s", (F.col("n_pages") * _CRAWL_DELAY_S).cast("long")
    )
    bound = per.agg(
        F.max("serial_s").alias("_mx"),
        F.ceil(
            F.sum("serial_s") / F.lit(float(_CRAWL_WORKERS))
        ).cast("long").alias("_fleet"),
    ).select(
        F.greatest("_mx", "_fleet").alias("makespan_s"), "_mx"
    )
    return (
        per.crossJoin(F.broadcast(bound))
        .select(
            "host", "n_pages", "serial_s", "makespan_s",
            (F.col("serial_s") == F.col("_mx")).alias("long_pole"),
            _r4(F.col("serial_s") / F.col("makespan_s")).alias("share"),
        )
        .orderBy(F.col("serial_s").desc(), F.col("host").asc())
    )


SQL_CRAWL_MAKESPAN = f"""WITH per AS (
  SELECT source AS host, count(*) AS n_pages,
         count(*) * {_CRAWL_DELAY_S} AS serial_s
  FROM documents GROUP BY source
),
bound AS (
  SELECT greatest(max(serial_s),
                  CAST(ceil(sum(serial_s) / {float(_CRAWL_WORKERS)})
                       AS BIGINT)) AS makespan_s,
         max(serial_s) AS mx
  FROM per
)
SELECT host, CAST(n_pages AS BIGINT) AS n_pages,
       CAST(serial_s AS BIGINT) AS serial_s,
       CAST(bound.makespan_s AS BIGINT) AS makespan_s,
       (serial_s = bound.mx) AS long_pole,
       round(serial_s * 1.0 / bound.makespan_s, 4) AS share
FROM per CROSS JOIN bound
ORDER BY serial_s DESC, host ASC"""


# ---------------------------------------------------------------------------
# Cardinality-estimation q-error (Leis et al., VLDB 2015 framing)
# ---------------------------------------------------------------------------


def q_cardinality_estimation(spark, sf_dir):
    """Join/conjunction cardinality estimation under the independence
    assumption — the query-optimizer staple whose failure Leis et al.
    ("How good are query optimizers, really?", VLDB 2015) measured
    with the q-error: for each AND pair, the estimated intersection
    df̂ = df_a·df_b/N versus the TRUE intersection, and q-error =
    max(df̂/df, df/df̂) — the multiplicative miss a WAND/routing cost
    model inherits when terms correlate (our skip_cost_model and
    partition_cost consume exactly these df's).

    Determinism: integer counts; the estimate and q-error are single
    divisions.  Scale shape: true intersections come from one
    self-semi-join of the |pairs| posting lists (rarest-first, the
    bm25_and shape); estimates are |pairs| arithmetic rows.
    """
    terms = sorted({t for p in _SKIP_PAIRS for t in p})
    tf = _tokens(spark, sf_dir).filter(F.col("term").isin(terms)).select(
        "term", "doc_id"
    ).distinct()
    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    nd = _dl(spark, sf_dir).agg(F.count("*").cast("long").alias("n"))
    pairs = spark.createDataFrame(
        [(a, b) for a, b in _SKIP_PAIRS], "qa string, qb string"
    )
    inter = (
        tf.alias("x")
        .join(
            tf.alias("y"),
            (F.col("x.doc_id") == F.col("y.doc_id"))
            & (F.col("x.term") < F.col("y.term")),
        )
        .groupBy(
            F.col("x.term").alias("ta"), F.col("y.term").alias("tb")
        )
        .agg(F.count("*").cast("long").alias("actual"))
    )
    j = (
        pairs.withColumn(
            "ta", F.least("qa", "qb")
        ).withColumn("tb", F.greatest("qa", "qb"))
        .join(F.broadcast(df.select(F.col("term").alias("qa"),
                                    F.col("df").alias("df_a"))), "qa")
        .join(F.broadcast(df.select(F.col("term").alias("qb"),
                                    F.col("df").alias("df_b"))), "qb")
        .join(inter, ["ta", "tb"], "left")
        .crossJoin(F.broadcast(nd))
    )
    est = F.col("df_a") * F.col("df_b") / F.col("n")
    act = F.coalesce("actual", F.lit(0)).cast("long")
    return j.select(
        "qa", "qb", "df_a", "df_b",
        act.alias("actual"),
        _r4(est).alias("estimated"),
        _r4(F.greatest(est / act, act / est)).alias("q_error"),
    ).orderBy("qa", "qb")


SQL_CARDINALITY_ESTIMATION = f"""WITH {_TOKS_SQL},
tf AS (SELECT DISTINCT term, doc_id FROM toks
       WHERE term IN ({", ".join(f"'{t}'" for t in sorted({t for p in _SKIP_PAIRS for t in p}))})),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM toks),
pairs AS (SELECT * FROM (VALUES {", ".join(f"('{a}', '{b}')" for a, b in _SKIP_PAIRS)}) AS t(qa, qb)),
inter AS (
  SELECT x.term AS ta, y.term AS tb, count(*) AS actual
  FROM tf x JOIN tf y ON x.doc_id = y.doc_id AND x.term < y.term
  GROUP BY x.term, y.term
)
SELECT p.qa, p.qb, CAST(a.df AS BIGINT) AS df_a,
       CAST(b.df AS BIGINT) AS df_b,
       CAST(coalesce(i.actual, 0) AS BIGINT) AS actual,
       round(a.df * b.df * 1.0 / nd.n, 4) AS estimated,
       round(greatest((a.df * b.df * 1.0 / nd.n)
                      / coalesce(i.actual, 0),
                      coalesce(i.actual, 0)
                      / (a.df * b.df * 1.0 / nd.n)), 4) AS q_error
FROM pairs p
JOIN df a ON p.qa = a.term JOIN df b ON p.qb = b.term
LEFT JOIN inter i ON least(p.qa, p.qb) = i.ta
                 AND greatest(p.qa, p.qb) = i.tb
CROSS JOIN nd
ORDER BY p.qa, p.qb"""


# ---------------------------------------------------------------------------
# k-anonymity audit (Sweeney, IJUFKS 2002)
# ---------------------------------------------------------------------------

_KANON_K = 5


def q_k_anonymity(spark, sf_dir):
    """k-anonymity audit (Sweeney, IJUFKS 2002) of the documents table
    under the quasi-identifier pair (lang, source) — the
    data-governance pass that belongs next to pii_scrub in any corpus
    release: per equivalence class its size, whether it violates
    k ≥ {k}, and (in every row) the table's overall k (the smallest
    class) plus the count of re-identifiable rows — the two numbers a
    release checklist records.

    Determinism: pure integer group sizes.  Scale shape: one map-side
    aggregate on the quasi-identifier key; the audit rollup is a 1-row
    broadcast joined back — |classes| output rows.
    """.format(k=_KANON_K)
    d = _docs(spark, sf_dir)
    cls = d.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("class_size")
    )
    audit = cls.agg(
        F.min("class_size").cast("long").alias("table_k"),
        F.sum(
            F.when(F.col("class_size") < _KANON_K, F.col("class_size"))
            .otherwise(0)
        ).cast("long").alias("n_reidentifiable"),
    )
    return (
        cls.crossJoin(F.broadcast(audit))
        .select(
            "lang", "source", "class_size",
            (F.col("class_size") < _KANON_K).alias("violates_k"),
            "table_k", "n_reidentifiable",
        )
        .orderBy("lang", "source")
    )


SQL_K_ANONYMITY = f"""WITH cls AS (
  SELECT lang, source, count(*) AS class_size
  FROM documents GROUP BY lang, source
),
audit AS (
  SELECT min(class_size) AS table_k,
         sum(CASE WHEN class_size < {_KANON_K} THEN class_size
                  ELSE 0 END) AS n_reidentifiable
  FROM cls
)
SELECT lang, source, CAST(class_size AS BIGINT) AS class_size,
       (class_size < {_KANON_K}) AS violates_k,
       CAST(audit.table_k AS BIGINT) AS table_k,
       CAST(audit.n_reidentifiable AS BIGINT) AS n_reidentifiable
FROM cls CROSS JOIN audit ORDER BY lang, source"""


# ---------------------------------------------------------------------------
# OLAP CUBE (Gray et al., Data Mining & Knowledge Discovery 1997)
# ---------------------------------------------------------------------------


def q_olap_cube(spark, sf_dir):
    """The data cube operator (Gray, Bosworth, Layman & Pirahesh 1997)
    over (lang, source): all four grouping sets — (lang, source),
    (lang), (source), and the grand total — in ONE pass with
    grouping_id distinguishing the levels, plus doc and char measures.
    This is Spark's native `cube()` (Catalyst Expand + one aggregate)
    against DuckDB's GROUP BY CUBE — the reporting primitive every
    dashboard over this corpus would hit, and facet_counts' superset.

    Determinism: integer counts and sums; NULL level markers replaced
    by the literal 'ALL' on both engines so the hash compare sees
    identical strings.  Scale shape: Expand multiplies rows by the 4
    grouping sets BEFORE one map-side-combinable aggregate — one
    shuffle, |lang|·|source| + |lang| + |source| + 1 output rows, no
    per-level rescans.
    """
    d = _docs(spark, sf_dir)
    return (
        d.cube("lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "gid", "n_docs", "n_chars",
        )
        .orderBy("gid", "lang", "source")
    )


SQL_OLAP_CUBE = """SELECT coalesce(lang, 'ALL') AS lang,
       coalesce(source, 'ALL') AS source,
       CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars
FROM documents
GROUP BY CUBE (lang, source)
ORDER BY gid, lang, source"""


# ---------------------------------------------------------------------------
# Benford leading-digit audit of the event-value stream
# ---------------------------------------------------------------------------


def q_benford_digits(spark, sf_dir):
    """Benford's-law leading-digit audit (Newcomb 1881 / Benford 1938;
    Nigrini's forensic-accounting test battery) of the event value
    stream — the cheap click-fraud / bot-traffic smell test: organic
    multi-order-of-magnitude amounts follow P(d) = log₁₀(1 + 1/d),
    synthetic or capped streams don't.  Output: per leading digit 1-9,
    the observed count, observed vs expected proportion, and the
    Pearson χ² contribution (sum them for the 8-df statistic; the twin
    test pins the total).  Whether a given stream conforms is the
    empirical readout — the sf0.001 synthetic amounts happen to land
    χ² ≈ 8.4, under the 8-df 99% critical value 20.09, because they
    span two orders of magnitude; a capped or botted stream would
    blow past it.

    Determinism: values are two-decimal amounts, lifted to exact
    integer cents via round(value·100) before the digit is taken from
    the integer's decimal string — no float log in the digit path; the
    expected-proportion log₁₀ and χ² arithmetic are rounded to 4.
    Digits with zero observations still appear (left join against the
    literal 1-9 relation) so the χ² is over all 9 cells.

    Scale shape: one narrow map + a 9-group aggregate; the digit table
    and the 1-row total are broadcast — nothing shuffles but the
    9-group combine."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.round(F.col("value") * 100).cast("long").alias("cents")
    ).filter(F.col("cents") > 0)
    obs = (
        ev.select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n"))
    )
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    full = digits.join(obs, "digit", "left").select(
        "digit", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")
    )
    tot = full.agg(F.sum("n").cast("long").alias("_t"))
    exp_p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    expected = F.col("_t") * exp_p
    return (
        full.crossJoin(F.broadcast(tot))
        .select(
            "digit", "n",
            _r4(F.col("n") / F.col("_t")).alias("obs_p"),
            _r4(exp_p).alias("exp_p"),
            _r4((F.col("n") - expected) * (F.col("n") - expected) / expected)
            .alias("chi2_term"),
        )
        .orderBy("digit")
    )


SQL_BENFORD_DIGITS = """WITH cents AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events
  WHERE CAST(round(value * 100) AS BIGINT) > 0
),
obs AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
         count(*) AS n
  FROM cents GROUP BY 1
),
filled AS (
  SELECT d.digit, coalesce(obs.n, 0) AS n
  FROM (SELECT unnest(range(1, 10)) AS digit) d
  LEFT JOIN obs ON d.digit = obs.digit
),
tot AS (SELECT sum(n) AS t FROM filled)
SELECT CAST(digit AS INT) AS digit, CAST(n AS BIGINT) AS n,
       round(n * 1.0 / t, 4) AS obs_p,
       round(log10(1.0 + 1.0 / digit), 4) AS exp_p,
       round((n - t * log10(1.0 + 1.0 / digit))
             * (n - t * log10(1.0 + 1.0 / digit))
             / (t * log10(1.0 + 1.0 / digit)), 4) AS chi2_term
FROM filled CROSS JOIN tot ORDER BY digit"""


# ---------------------------------------------------------------------------
# Head-term coverage curve (posting-cache / tiering sizing)
# ---------------------------------------------------------------------------

_COVERAGE_KS = (1, 2, 5, 10, 20, 30)


def q_term_coverage(spark, sf_dir):
    """Head-term coverage curve: for each k, the fraction of ALL token
    occurrences covered by the k most frequent terms — the sizing curve
    behind every head/tail split this repo models pointwise
    (champion lists, tiered_index, cache_selection, stopword
    induction): reading coverage(k) off this table is how you pick the
    head size those operators then exploit.  Zipfian text concentrates
    fast (top-10 terms often cover >50% of a web corpus); the curve
    makes the knee explicit.

    Determinism: integer occurrence counts, ties broken (count desc,
    term asc), one final division rounded to 4.  Scale shape: the term
    count is a map-side-combined aggregate; the head is taken with a
    distributed TakeOrdered (orderBy.limit(max k) — never a full sort),
    and the rank/cumsum windows then run over that ≤ max-k-row head;
    the grand total is a 1-row broadcast side plan."""
    from pyspark.sql import Window

    counts = _tokens(spark, sf_dir).groupBy("term").agg(
        F.count("*").cast("long").alias("cnt")
    )
    tot = counts.agg(F.sum("cnt").cast("long").alias("_t"))
    head = counts.orderBy(F.col("cnt").desc(), F.col("term").asc()).limit(
        max(_COVERAGE_KS)
    )
    w = (
        Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = head.select(
        F.row_number().over(
            Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
        ).alias("k"),
        F.sum("cnt").over(w).alias("cum_tokens"),
    )
    return (
        ranked.filter(F.col("k").isin(*_COVERAGE_KS))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("int").alias("k"),
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
            F.col("_t").alias("total_tokens"),
            _r4(F.col("cum_tokens") / F.col("_t")).alias("coverage"),
        )
        .orderBy("k")
    )


SQL_TERM_COVERAGE = f"""WITH {_TOKS_SQL},
counts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
tot AS (SELECT sum(cnt) AS t FROM counts),
ranked AS (
  SELECT row_number() OVER (ORDER BY cnt DESC, term ASC) AS k,
         sum(cnt) OVER (ORDER BY cnt DESC, term ASC
                        ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM counts
)
SELECT CAST(k AS INT) AS k, CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST(t AS BIGINT) AS total_tokens,
       round(cum_tokens * 1.0 / t, 4) AS coverage
FROM ranked CROSS JOIN tot
WHERE k IN {_COVERAGE_KS} ORDER BY k"""


# ---------------------------------------------------------------------------
# Capture-recapture corpus-size estimation (Bharat-Broder)
# ---------------------------------------------------------------------------

_CAPTURE_RATE_A = 60   # percent
_CAPTURE_RATE_B = 50


def q_corpus_size_estimate(spark, sf_dir):
    """Capture-recapture estimate of corpus size from two overlapping
    samples — the Lincoln-Petersen index N̂ = n₁n₂/m plus Chapman's
    small-sample correction N̂ = (n₁+1)(n₂+1)/(m+1) − 1, the technique
    Bharat & Broder (WWW 1998) used to estimate the indexable web from
    two engines' overlap, and Lawrence & Giles repeated in Science.
    Here the two "crawls" are deterministic salted-hash samples (md5 of
    'a'/'b' + doc_id, {ra}%/{rb}% — independent because the salts make
    the two hash streams unrelated), so the entry measures the
    estimator's machinery against the KNOWN corpus size: the relative
    error column is the honest readout.

    Determinism: sample membership is a pure function of doc_id via the
    engine-portable md5-prefix hash (the _hash16 pattern); all counts
    integer; the two estimates and the error are the only divisions,
    rounded to 4.  Scale shape: one narrow pass computes both flags,
    one 1-row reduce — no join at all (overlap is flag conjunction, not
    a set intersection).
    """.format(ra=_CAPTURE_RATE_A, rb=_CAPTURE_RATE_B)
    def flag(salt: str, rate: int) -> F.Column:
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))),
                1, 4,
            ),
            16, 10,
        ).cast("int")
        return ((h % 100) < rate).cast("int")

    d = _docs(spark, sf_dir).select(
        flag("a", _CAPTURE_RATE_A).alias("a"),
        flag("b", _CAPTURE_RATE_B).alias("b"),
    )
    m = d.agg(
        F.count("*").cast("long").alias("n_true"),
        F.sum("a").cast("long").alias("n1"),
        F.sum("b").cast("long").alias("n2"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n_overlap"),
    )
    petersen = F.when(
        F.col("n_overlap") > 0,
        _r4(F.col("n1") * F.col("n2") / F.col("n_overlap")),
    )
    chapman = _r4(
        (F.col("n1") + 1) * (F.col("n2") + 1) / (F.col("n_overlap") + 1) - 1
    )
    return m.select(
        "n_true", "n1", "n2", "n_overlap",
        petersen.alias("petersen_est"),
        chapman.alias("chapman_est"),
        _r4(
            F.abs(
                (F.col("n1") + 1) * (F.col("n2") + 1)
                / (F.col("n_overlap") + 1) - 1 - F.col("n_true")
            ) / F.col("n_true")
        ).alias("chapman_rel_err"),
    )


def _hash16_sql_of(expr: str) -> str:
    return (
        f"((strpos('0123456789abcdef', substr(md5({expr}), 1, 1)) - 1) * 4096"
        f" + (strpos('0123456789abcdef', substr(md5({expr}), 2, 1)) - 1) * 256"
        f" + (strpos('0123456789abcdef', substr(md5({expr}), 3, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substr(md5({expr}), 4, 1)) - 1))"
    )


SQL_CORPUS_SIZE_ESTIMATE = f"""WITH d AS (
  SELECT CASE WHEN {_hash16_sql_of("'a' || CAST(doc_id AS VARCHAR)")} % 100
              < {_CAPTURE_RATE_A} THEN 1 ELSE 0 END AS a,
         CASE WHEN {_hash16_sql_of("'b' || CAST(doc_id AS VARCHAR)")} % 100
              < {_CAPTURE_RATE_B} THEN 1 ELSE 0 END AS b
  FROM documents
),
m AS (
  SELECT count(*) AS n_true, sum(a) AS n1, sum(b) AS n2,
         sum(a * b) AS n_overlap
  FROM d
)
SELECT CAST(n_true AS BIGINT) AS n_true, CAST(n1 AS BIGINT) AS n1,
       CAST(n2 AS BIGINT) AS n2, CAST(n_overlap AS BIGINT) AS n_overlap,
       CASE WHEN n_overlap > 0
            THEN round(n1 * n2 * 1.0 / n_overlap, 4) END AS petersen_est,
       round((n1 + 1) * (n2 + 1) * 1.0 / (n_overlap + 1) - 1, 4)
         AS chapman_est,
       round(abs((n1 + 1) * (n2 + 1) * 1.0 / (n_overlap + 1) - 1 - n_true)
             / n_true, 4) AS chapman_rel_err
FROM m"""
