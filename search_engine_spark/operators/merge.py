"""Salted pack + multi-pass shuffle-merge into the physical postings layout
(SURVEY.md §2.4 A2/A3/A6, §7.1 M3).

Physical layout ``postings_packed`` (hive-partitioned by ``shard`` =
pmod(xxhash64(term), num_shards) — a query touches only its terms' shard
directories, the Spark analogue of the reference's dictionary lookup):

  term        string   — stem ('@'-prefixed for title postings)
  shard       int      — partition column (term-sharding axis)
  bucket      int      — doc-space bucket (doc_id // bucket_width // merge_factor)
  df          long     — GLOBAL document frequency of the term
  n_docs      long     — postings in this row
  doc_ids     binary   — varbyte(delta(sorted doc ids)), first gap absolute
  tfs         binary   — varbyte(tf − 1), aligned with doc_ids
  pos         binary   — per doc, varbyte(delta in-doc positions)
  flags       binary   — per occurrence, one style-flag byte (aligned with pos)
  block_last  array<long>   — per 128-doc block: last doc id
  block_maxw  array<double> — per block: max idf-free BM25 weight

Why doc-space bucketing (the explicit skew handling the north rule asks
for): grouping by bare ``term`` puts a head term's entire posting list in
one task and one row.  Salting the build key to (term, doc_bucket) bounds
every group by bucket_width regardless of term frequency — the classic
two-level/salted aggregation — and because the salt is a doc-*range* (not
a hash), partial lists concatenate in sorted order in the merge pass by
rewriting a single varbyte group (codec.rebase_first_gap), never decoding
payloads.  The bucket axis is also what distributes query-time WAND: each
bucket is an independent top-k task (the reference got the same effect
from its per-chunk ISR trees, csolver.cpp:135-149 — doc-sharded there,
doc-bucketed-within-term-shard here).

Pass structure (each pass a checkpointed catalog table):
  p4 ``postings_partial`` (write_partials): the docs' posting rows
      (operators/build.py build_postings, never written themselves) →
      groupBy(term, doc_bucket) collect_list/sort_array → vectorized
      pandas-UDF encoders → partial rows.  The partials are the one
      postings table every later pass reads and writes: appends add
      partial rows, deletes and compaction decode them (unpack_partials).
  p6 ``postings_packed`` (pack_and_merge): global df agg + shuffle-merge of
      each term's partials into merge_factor-coarser buckets via stream
      concatenation.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, LongType, StructField, StructType,
)

from search_engine_spark.operators import codec
from search_engine_spark.plans import bm25

PACKED_SCHEMA = (
    "term string, shard int, bucket int, df long, n_docs long, "
    "doc_ids binary, tfs binary, pos binary, flags binary, "
    "block_last array<long>, block_maxw array<double>"
)
# ``pos``/``flags``: concatenated per-doc streams, doc order aligned with
# doc_ids; per-doc run lengths = decoded tfs (tf == n positions by
# construction, operators/build.py build_postings).  Parquet is columnar,
# so "positions in separate storage" (SURVEY §7.2) is column pruning: BM25
# scans select every column EXCEPT pos/flags and never read these bytes —
# only phrase/NOT/synonym plans project pos, and only the dynamic parity
# mode projects flags (plans/packed_exec.py).
# Partial rows (postings_partial) carry the same streams plus ``dlb``
# (per-posting doc lengths), ``df_local`` and first_docid/last_docid, the
# merge's concatenation keys.
LAYOUT_PROPS = ("p6a_num_shards", "p6a_salt_buckets", "p6a_bucket_width",
                "p6a_merge_factor")


def shard_col(term_col="term", num_shards: int = 32):
    return F.pmod(F.xxhash64(F.col(term_col)), F.lit(num_shards)).cast("int")


# --- vectorized encoders (Arrow batch in, struct out) ----------------------
# NB: return types are DataType objects, not DDL strings — string types are
# parsed via the JVM at decoration (import) time, which would make this
# module unimportable before a SparkSession exists.  One struct-returning
# UDF per pass (not one scalar UDF per output column) so each posting array
# crosses the Arrow boundary exactly once; and scalar pandas UDFs (not
# applyInPandas) so thousands of small per-term groups batch into a few
# Arrow transfers instead of one pandas round-trip per group.

_ENC_T = StructType([
    StructField("doc_ids", BinaryType()),
    StructField("tfs", BinaryType()),
    StructField("dlb", BinaryType()),
    StructField("pos", BinaryType()),
    StructField("flags", BinaryType()),
])


@pandas_udf(_ENC_T)
def _enc_posting(ids: pd.Series, tfs: pd.Series, dls: pd.Series,
                 posbs: pd.Series, flagbs: pd.Series) -> pd.DataFrame:
    """Partials carry NO block headers: WAND bounds depend on avgdl, which
    is only final at merge time (an incremental append changes it), so the
    merge pass computes them — exact for whatever corpus the merge sees.
    Instead each partial carries ``dlb`` (varbyte per-posting doc lengths,
    ~1 byte each), which is what the merge needs to weight postings without
    a doclens join (a second corpus-wide shuffle of the payloads)."""
    rows = []
    for i, t, dl, pb, fb in zip(ids, tfs, dls, posbs, flagbs):
        rows.append({
            "doc_ids": codec.encode_docids(np.asarray(i, dtype=np.int64)),
            "tfs": codec.encode_tfs(np.asarray(t, dtype=np.int64)),
            "dlb": codec.varbyte_encode(np.asarray(dl, dtype=np.int64)),
            # per-doc streams are self-contained and doc-ordered
            # (sort_array upstream) — plain concatenation
            "pos": b"".join(bytes(x) for x in pb),
            "flags": b"".join(bytes(x) for x in fb),
        })
    return pd.DataFrame(rows)


_MERGED_T = StructType([
    StructField("n_docs", LongType()),
    StructField("doc_ids", BinaryType()),
    StructField("tfs", BinaryType()),
    StructField("pos", BinaryType()),
    StructField("flags", BinaryType()),
    StructField("block_last", ArrayType(LongType())),
    StructField("block_maxw", ArrayType(DoubleType())),
])


def _make_merge_udf(avgdl: float, k1: float = bm25.K1, b: float = bm25.B):
    """Merge UDF with the FINAL corpus avgdl bound in: concatenate one
    term's bucket-ordered partial streams (only the first varbyte group of
    each appended stream is rewritten — first-gap rebase; position payloads
    are never decoded), then compute the block-max WAND headers EXACTLY
    over the merged stream.  Computing headers here (not at pack time) is
    what makes incremental appends converge bit-identically to a
    from-scratch build: an append changes avgdl, which would invalidate
    any header a partial had baked in."""

    @pandas_udf(_MERGED_T)
    def _merge_parts(parts: pd.Series) -> pd.DataFrame:
        rows = []
        for plist in parts:
            ids_buf = bytearray()
            tfs_buf = bytearray()
            dlb_buf = bytearray()
            pos_buf = bytearray()
            flags_buf = bytearray()
            prev_last = None
            n = 0
            for p in plist:
                chunk = bytes(p["doc_ids"])
                if prev_last is not None:
                    chunk = codec.rebase_first_gap(chunk, prev_last)
                ids_buf += chunk
                tfs_buf += bytes(p["tfs"])
                dlb_buf += bytes(p["dlb"])
                pos_buf += bytes(p["pos"])  # per-doc streams restart absolute
                flags_buf += bytes(p["flags"])
                prev_last = int(p["last_docid"])
                n += int(p["n_docs"])
            ids = codec.decode_docids(bytes(ids_buf))
            tfs = codec.decode_tfs(bytes(tfs_buf)).astype(np.float64)
            dls = codec.varbyte_decode(bytes(dlb_buf)).astype(np.float64)
            w = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
            last, maxw = codec.block_headers(ids, w)
            rows.append({
                "n_docs": n,
                "doc_ids": bytes(ids_buf),
                "tfs": bytes(tfs_buf),
                "pos": bytes(pos_buf),
                "flags": bytes(flags_buf),
                "block_last": last,
                "block_maxw": maxw,
            })
        return pd.DataFrame(rows)

    return _merge_parts


def pack_partials(
    postings: DataFrame,
    num_shards: int,
    bucket_width: int,
) -> DataFrame:
    """Posting rows (build_postings shape: term, doc_id, dl, tf, pos,
    flags) → per-(term, doc_bucket) encoded partial rows.

    No join: postings carry ``dl`` inline, so the per-posting doc length
    rides into the partial's ``dlb`` stream as a pure column expression.
    Headers are merge-time (see _enc_posting)."""
    plist = (
        postings.select("term", "doc_id", "tf", "dl", "pos", "flags")
        .withColumn("bucket", (F.col("doc_id") / F.lit(bucket_width)).cast("int"))
        .groupBy("term", "bucket")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "tf", "dl", "pos", "flags"))
            ).alias("plist"),
            F.count("*").alias("n_docs"),
        )
    )
    return plist.select(
        "term",
        shard_col(num_shards=num_shards).alias("shard"),
        "bucket",
        F.col("n_docs").alias("df_local"),
        "n_docs",
        _enc_posting("plist.doc_id", "plist.tf", "plist.dl", "plist.pos",
                     "plist.flags").alias("p"),
        F.element_at("plist.doc_id", 1).alias("first_docid"),
        F.element_at("plist.doc_id", -1).alias("last_docid"),
    ).select(
        "term", "shard", "bucket", "df_local", "n_docs",
        "p.doc_ids", "p.tfs", "p.dlb", "p.pos", "p.flags",
        "first_docid", "last_docid",
    )


def unpack_partials(partials: DataFrame) -> DataFrame:
    """Partial rows → posting rows (term, doc_id, dl, tf, pos, flags): the
    inverse of pack_partials.  Doc ids, tfs and doc lengths are decoded;
    each doc's position and flag streams are cut out of the row's streams
    undecoded, so re-packing the rows reproduces the partials byte for
    byte."""

    def unpack(batches):
        for pdf in batches:
            out = {c: [] for c in ("term", "doc_id", "dl", "tf", "pos",
                                   "flags")}
            for r in pdf.itertuples(index=False):
                ids = codec.decode_docids(bytes(r.doc_ids))
                tfs = codec.decode_tfs(bytes(r.tfs))
                fends = np.cumsum(tfs)
                flags = bytes(r.flags)
                out["term"] += [r.term] * ids.size
                out["doc_id"] += ids.tolist()
                out["dl"] += codec.varbyte_decode(bytes(r.dlb)).tolist()
                out["tf"] += tfs.tolist()
                out["pos"] += codec.split_position_stream(bytes(r.pos), tfs)
                out["flags"] += [flags[a - n:a] for a, n in zip(fends, tfs)]
            yield pd.DataFrame(out)

    return partials.select("term", "doc_ids", "tfs", "dlb", "pos",
                           "flags").mapInPandas(
        unpack, "term string, doc_id long, dl int, tf int, pos binary, "
                "flags binary")


def pack_layout(n_docs: int, num_shards: int = 32, salt_buckets: int = 16,
                merge_factor: int | None = None,
                bucket_width: int | None = None) -> dict[str, int]:
    """The doc-bucket grid of the partials, keyed by the catalog
    properties that persist it (LAYOUT_PROPS).  ``bucket_width`` overrides
    the n_docs-derived salt width — a build that must land on another
    build's grid passes that build's width."""
    if bucket_width is None:
        bucket_width = max(1, math.ceil(n_docs / salt_buckets))
    if merge_factor is None:
        merge_factor = max(1, salt_buckets // 4)
    return dict(zip(LAYOUT_PROPS,
                    (num_shards, salt_buckets, bucket_width, merge_factor)))


def write_partials(cat, postings: DataFrame, layout: dict[str, int],
                   table: str = "postings_partial") -> None:
    """pack_partials → ``table``, and persist ``layout`` as the catalog's
    layout properties."""
    num_shards = layout["p6a_num_shards"]
    # align rows to their shard before the partitioned write: otherwise
    # every write task opens a file in every shard dir (tasks×shards
    # small files — the classic dynamic-partition write explosion)
    cat.write(
        table,
        pack_partials(postings, num_shards, layout["p6a_bucket_width"])
        .repartition(num_shards, "shard"),
        partition_by=["shard"],
    )
    for k, v in layout.items():
        cat.set_prop(k, v)


def merge_partials(partials: DataFrame, merge_factor: int,
                   avgdl: float, bucket_min: int | None = None) -> DataFrame:
    """p6b: shuffle-merge each term's doc-ordered partial streams into
    merge_factor-coarser buckets; attach global df.

    The concatenation never decodes position payloads: the appended
    stream's first varbyte gap is rebased against the previous stream's
    last doc id.  Block-max headers are computed HERE, exactly, over the
    merged stream with the final corpus ``avgdl`` (see _make_merge_udf) —
    so partials written by earlier builds stay valid inputs after an
    incremental append shifts the corpus stats.

    ``bucket_min`` (tiered append compaction): only fine buckets >=
    bucket_min are merged — but ``df`` is still aggregated over ALL
    partials first, so the emitted rows carry the true GLOBAL document
    frequency.  The filter sits between the (vocab-sized) df aggregate
    and the payload shuffle, so untouched buckets' bytes never enter
    the exchange.
    """
    df_global = partials.groupBy("term").agg(F.sum("df_local").alias("df"))

    if bucket_min is not None:
        partials = partials.filter(F.col("bucket") >= bucket_min)
    with_key = partials.join(df_global, "term").withColumn(
        "mbucket", (F.col("bucket") / F.lit(merge_factor)).cast("int")
    )
    # sort_array on array<struct> orders by leading field(s) → (bucket,
    # first_docid) order; first_docid is the within-bucket tiebreak so an
    # APPENDED partial sharing its first fine bucket with the base build's
    # last partial still concatenates in doc order
    grouped = with_key.groupBy("term", "shard", "mbucket", "df").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "bucket", "first_docid", "n_docs", "doc_ids", "tfs",
                    "dlb", "pos", "flags", "last_docid",
                )
            )
        ).alias("parts")
    )
    merge_udf = _make_merge_udf(avgdl)
    return grouped.select(
        "term",
        "shard",
        F.col("mbucket").alias("bucket"),
        "df",
        merge_udf("parts").alias("m"),
    ).select(
        "term", "shard", "bucket", "df",
        "m.n_docs", "m.doc_ids", "m.tfs", "m.pos", "m.flags",
        "m.block_last", "m.block_maxw",
    )


def build_doclens(docmeta: DataFrame, bucket_width: int) -> DataFrame:
    """Bucket-aligned dense doc-length rows: the query kernel's forward
    index (Lucene-norms analogue).  doc ids are dense (docids.py assigns a
    dense rank), so ``dls[doc_id - start]`` is a direct lookup."""
    return (
        docmeta.select("doc_id", "dl")
        .withColumn("bucket", (F.col("doc_id") / F.lit(bucket_width)).cast("int"))
        .groupBy("bucket")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "dl"))).alias("p"))
        .select(
            "bucket",
            F.element_at(F.col("p.doc_id"), 1).alias("start"),
            F.col("p.dl").alias("dls"),
        )
    )


def pack_and_merge(cat, num_shards: int = 32, salt_buckets: int = 16,
                   merge_factor: int | None = None,
                   bucket_width: int | None = None) -> None:
    """p6: doclens plus the merge of ``postings_partial`` into
    ``postings_packed`` (index_stats first, when missing).

    Resume safety: the packed buckets and the doclens buckets must agree
    on (bucket_width × merge_factor) and rows must land in the same shard
    dirs, so resuming an interrupted merge with different --salt-buckets /
    --merge-factor / --shards would silently misalign them.  The layout
    the partials were written with (write_partials persists it) is
    asserted against this run's — fail loudly, never misindex."""
    if not cat.exists("index_stats"):
        from search_engine_spark.operators import build as B

        cat.write(
            "index_stats",
            B.build_index_stats(cat.read("docmeta"),
                                cat.read("postings_partial")),
        )
    stats = cat.read("index_stats").collect()[0]
    n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"])
    layout = pack_layout(n_docs, num_shards, salt_buckets, merge_factor,
                         bucket_width)
    for k, want in layout.items():
        have = cat.get_prop(k)
        if have is not None and int(have) != int(want):
            raise ValueError(
                f"resume layout mismatch: postings_partial was built with "
                f"{k}={have} but this run asks for {want}; re-run with the "
                f"original parameters or --force a full re-merge"
            )
    merge_factor = layout["p6a_merge_factor"]

    mwidth = layout["p6a_bucket_width"] * merge_factor
    if not cat.exists("doclens"):
        cat.write("doclens", build_doclens(cat.read("docmeta"), mwidth))
        cat.log_phase("p6b_doclens", cat.read("doclens"), {"bucket_width": mwidth})

    merged = merge_partials(cat.read("postings_partial"), merge_factor, avgdl)
    cat.write(
        "postings_packed",
        merged.repartition(num_shards, "shard"),
        partition_by=["shard"],
    )
    cat.set_prop("num_shards", num_shards)
    cat.set_prop("bucket_width", mwidth)
    # the avgdl every stored block-max header is valid for — a later
    # TIERED append scales copied headers by max(1, new_avgdl / this)
    cat.set_prop("packed_avgdl", repr(avgdl))
