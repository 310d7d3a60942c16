"""Table schemas for the engine (SURVEY.md §1.4 mapping).

Logical data model (all columns snake_case):

* ``pages``      — input corpus (BASELINE.json input_hint):
                   (url string, warc_ts timestamp, html binary, text string,
                    lang string).  On a real cluster this is an Iceberg
                    table; locally it is parquet behind sources.catalog.
* ``docs``       — parsed documents (one extraction UDF pass over html).
* ``docmeta``    — per-doc attributes replacing the reference's URLBlob +
                   docEnd list (HashBlob.h:454-615, Posts.hpp:77-96):
                   doc_id, url, title, word_count, title_len, url_len,
                   english, tld, dl (BM25 doc length = surviving terms).
* ``postings``   — logical exploded postings: term, doc_id, tf,
                   positions array<int>, flags.  Title terms are decorated
                   with '@' (Indexer.hpp:355-357).
* ``postings_packed`` — physical term-sharded index: term, shard, df,
                   n_docs, blocks (block-max headers), payload binary
                   (varbyte docID deltas + tfs [+ positions]).
* ``index_stats`` — N docs, avgdl, n_terms, total_postings.
* ``lineage`` / ``metrics`` — per-phase, per-partition build bookkeeping
                   (north-rule requirement).
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("html", T.BinaryType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("lang", T.StringType(), False),
])

# Per-doc pre-aggregated posting entries, computed inside the extraction
# pass (a (term, doc_id) group never crosses a document, so no shuffle is
# needed to build them).  Stored as FLAT parallel primitive arrays —
# p_terms[i] has tf p_tfs[i], max style flag p_flags[i], and positions
# p_poss[p_offs[i] : p_offs[i]+p_tfs[i]] — because nested array<struct>
# columns cost ~3× through Arrow/parquet/shuffle.  Positions index the
# per-doc sequence of surviving (post-stem, non-stopword) terms — title
# terms first as '@'-decorated, then body — mirroring the reference's
# per-doc location interval (Indexer.hpp:403-445).
DOCS = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("title", T.StringType(), False),
    T.StructField("dl", T.IntegerType(), False),  # surviving-term count
    T.StructField("p_terms", T.ArrayType(T.StringType(), False), False),
    T.StructField("p_tfs", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("p_flags", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("p_offs", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("p_poss", T.ArrayType(T.IntegerType(), False), False),
    # per-OCCURRENCE style flags, flat-parallel to p_poss (the dynamic
    # span ranker needs bold/heading per post, Posts.hpp:33)
    T.StructField("p_fposs", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("n_title_terms", T.IntegerType(), False),
    T.StructField("word_count", T.IntegerType(), False),   # pre-stem, title+body
    T.StructField("title_len", T.IntegerType(), False),    # title word count
    T.StructField("english", T.BooleanType(), False),
    T.StructField("links", T.ArrayType(T.StringType(), False), False),
])

DOCMETA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("title", T.StringType(), False),
    T.StructField("word_count", T.IntegerType(), False),
    T.StructField("title_len", T.IntegerType(), False),
    T.StructField("url_len", T.IntegerType(), False),
    T.StructField("english", T.BooleanType(), False),
    T.StructField("tld", T.IntegerType(), False),
    T.StructField("dl", T.IntegerType(), False),
])

# bucket-aligned dense doc-length rows (the query kernel's forward index)
DOCLENS = T.StructType([
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("start", T.LongType(), False),
    T.StructField("dls", T.ArrayType(T.IntegerType(), False), False),
])

INDEX_STATS = T.StructType([
    T.StructField("n_docs", T.LongType(), False),
    T.StructField("avgdl", T.DoubleType(), False),
    T.StructField("n_terms", T.LongType(), False),
    T.StructField("total_postings", T.LongType(), False),
])

LINEAGE = T.StructType([
    T.StructField("phase", T.StringType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("input_rows", T.LongType(), False),
    T.StructField("output_rows", T.LongType(), False),
    T.StructField("ts", T.TimestampType(), False),
])

# reference 13-way TLD enum (HashBlob.h:30): codes are the enum order —
# UNKNOWN=0, GOV, EDU, ORG, COM, NET, IO, INFO, BIZ, XYZ, TOP, US, DEV
TLD_CLASSES = [
    "unknown", "gov", "edu", "org", "com", "net", "io",
    "info", "biz", "xyz", "top", "us", "dev",
]
TLD_CODE = {t: i for i, t in enumerate(TLD_CLASSES)}
