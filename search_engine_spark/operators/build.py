"""Per-doc index build: docs → docmeta rows and posting rows, plus the
index_stats aggregate.

All heavy lifting is declarative DataFrame ops; the per-term physical
packing (varbyte payloads, block headers) lives in operators/codec.py +
operators/merge.py, which packs these posting rows straight into the
partial postings — the posting rows themselves are never written.

Operator mapping (SURVEY.md §2.4):
* A1 doc insert   → narrow explode of the per-doc posting entries the
                    extraction UDF already aggregated.
* A5 URL table    → docmeta table.
* A7 corpus stats → index_stats aggregate.
Head-term skew: a posting row is one (term, doc), bounded by per-doc tf,
so this phase needs no salting; salting appears where keys collapse to
bare ``term`` (see merge.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, StructField, StructType

from search_engine_spark.operators import codec
from search_engine_spark.schemas import TLD_CODE


def tld_code_col(url_col: str = "url"):
    """Reference ParseTLD (HashBlob.h:31-56): host's last dot-suffix into a
    13-way code, 'unknown' otherwise — pure column expressions."""
    host = F.regexp_extract(F.col(url_col), r"^[a-z][a-z0-9+.-]*://([^/]+)", 1)
    suffix = F.regexp_extract(host, r"\.([a-z0-9]+)$", 1)
    expr = F.lit(0)  # UNKNOWN = 0 in the reference enum
    for t, i in TLD_CODE.items():
        if t != "unknown":
            expr = F.when(suffix == t, F.lit(i)).otherwise(expr)
    return expr.cast("int")


def build_docmeta(docs_with_ids: DataFrame) -> DataFrame:
    """docs (+doc_id) → docmeta (schemas.DOCMETA).

    dl (BM25 doc length) = number of surviving terms (title+body), i.e. the
    size of the per-doc position space — the engine's defined semantics,
    mirrored exactly by the pure-Python oracle.
    """
    return docs_with_ids.select(
        "doc_id",
        "url",
        "title",
        F.col("word_count"),
        F.col("title_len"),
        F.length("url").cast("int").alias("url_len"),
        "english",
        tld_code_col().alias("tld"),
        F.col("dl").cast("int").alias("dl"),
    )


# NB: a DataType object, not a DDL string — string types are parsed via the
# JVM at decoration (import) time, before any SparkSession exists
_OCC_T = StructType([StructField("pos", BinaryType()),
                     StructField("flags", BinaryType())])


@pandas_udf(_OCC_T)
def _enc_occurrences(positions: pd.Series, flags: pd.Series) -> pd.DataFrame:
    """One posting's occurrences as its two per-doc streams: varbyte(delta
    positions) and one style-flag byte per occurrence, aligned.  Encoded
    in one vectorized pass per Arrow batch, BEFORE the pack shuffle, so
    the (term, doc_bucket) groupBy moves ~2 bytes per occurrence instead
    of two 4-byte ints."""
    return pd.DataFrame({
        "pos": codec.encode_position_lists(list(positions)),
        "flags": codec.encode_flag_lists(list(flags)),
    })


def build_postings(docs_with_ids: DataFrame) -> DataFrame:
    """docs (+doc_id) → posting rows (term, doc_id, dl, tf, pos, flags) — a
    NARROW explode plus the per-posting stream encoder, no shuffle.

    Per-doc posting entries (tf, sorted positions, per-occurrence flags)
    were already aggregated inside the extraction UDF (a (term, doc_id)
    group never spans documents), so the explode runs over the flat
    parallel arrays + a positions slice.  ``pos``/``flags`` are the
    posting's own position and flag streams (codec.encode_position_lists,
    codec.encode_flag_lists); the pack pass concatenates them without
    decoding.  ``dl`` rides along inline (the Lucene-norms pattern) so
    neither the pack phase nor the query path ever joins docmeta for
    lengths.
    """
    z = F.arrays_zip("p_terms", "p_tfs", "p_offs")
    exploded = docs_with_ids.select(
        "doc_id",
        F.col("dl").cast("int").alias("dl"),
        "p_poss",
        "p_fposs",
        F.explode(z).alias("e"),
    )
    occ = _enc_occurrences(
        F.slice("p_poss", F.col("e.p_offs") + 1, F.col("e.p_tfs")),
        F.slice("p_fposs", F.col("e.p_offs") + 1, F.col("e.p_tfs")),
    )
    return exploded.select(
        F.col("e.p_terms").alias("term"),
        "doc_id",
        "dl",
        F.col("e.p_tfs").cast("int").alias("tf"),
        occ.alias("o"),
    ).select("term", "doc_id", "dl", "tf", "o.pos", "o.flags")


def link_graph(docs: DataFrame) -> DataFrame:
    """S6 link emitter (Parser.cpp:466-488): the parser's resolved outlinks
    as a (src_url, dst_url) edge table — the crawler-frontier side output.
    The reference round-robins links to frontier sockets; the Spark shape
    is an explode + optional dedup, written to a frontier table.  Link
    URLs were already lowercased + base-resolved by the extraction parser
    (HtmlParser.cpp:23-30, sendLinksList)."""
    return (
        docs.select(F.col("url").alias("src_url"), F.explode("links").alias("dst_url"))
        .distinct()
    )


def build_index_stats(docmeta: DataFrame, postings: DataFrame) -> DataFrame:
    """Corpus stats for BM25 (N, avgdl) + audit counters.

    ``postings`` rows carry ``term`` and ``n_docs``, the postings the row
    stands for: partial rows (operators/merge.py) or single decoded
    postings with ``n_docs`` 1.  n_terms uses approx_count_distinct — at
    10^12 docs an exact distinct over terms is an avoidable full shuffle
    and the value is informational only (BM25 needs just n_docs and
    avgdl, which are exact).
    """
    meta = docmeta.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    post = postings.agg(
        F.approx_count_distinct("term").alias("n_terms"),
        F.sum("n_docs").cast("long").alias("total_postings"),
    )
    return meta.crossJoin(post)
