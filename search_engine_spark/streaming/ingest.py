"""Structured-streaming ingest: incremental pages → docs → stream postings.

The reference's "streaming" is TCP frames into bounded queues
(Parser.cpp:255-332, 203-246); the Spark-native equivalent is a file/table
stream with checkpointed exactly-once micro-batches:

* ``stream_docs``          — readStream over a pages directory → the same
                             extraction UDF as the batch path (operator
                             reuse: one extract_docs for both modes).
* ``incremental_index``    — foreachBatch sink appending per-batch posting
                             rows + docmeta to the warehouse's stream
                             tables; ``consolidate_stream`` then packs them
                             into partials and runs the multi-pass
                             shuffle-merge (SURVEY.md A6).
                             Trigger availableNow => drain-and-stop, which
                             with the checkpoint dir gives resumable,
                             exactly-once incremental builds.
* ``ingest_metrics``       — event-time windowed ingest counts with a
                             watermark (late pages beyond 1 hour dropped),
                             the streaming metrics sidecar.

doc_id note: batch builds assign dense url-rank ids (operators/docids.py);
streaming appends cannot renumber, so incremental partials use a stable
per-fetch 64-bit id xxhash64(url, warc_ts).  ``consolidate_stream`` then
dedups first-wins across ALL batches, re-keys to dense url-rank ids
(identical to what the batch pipeline would assign for the same corpus),
packs the rows straight into partials and runs the standard merge — so a streamed-then-consolidated
warehouse answers queries identically to a batch-built one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark import schemas
from search_engine_spark.operators import extract
from search_engine_spark.sources.catalog import IndexCatalog


def stream_docs(spark: SparkSession, pages_dir: str,
                max_files_per_trigger: int | None = None) -> DataFrame:
    reader = (
        spark.readStream.schema(schemas.PAGES)
        .option("pathGlobFilter", "*.parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    pages = reader.parquet(pages_dir)
    return extract.extract_docs(pages)


def write_stream_batch(cat: IndexCatalog, batch_df: DataFrame,
                       batch_id: int) -> None:
    """IDEMPOTENT per-micro-batch sink: both stream tables are
    hive-partitioned by batch_id and each micro-batch dynamically
    OVERWRITES exactly its own partition.  A batch retried after a partial
    append therefore replaces its previous rows instead of duplicating
    them — this is what makes foreachBatch + checkpoint genuinely
    exactly-once (batch_id is stable across retries because it comes from
    the checkpointed offset log)."""
    _dynamic = {"partitionOverwriteMode": "dynamic"}
    batch = extract.drop_overlong_titles(batch_df)
    batch = extract.dedup_first_wins(batch)
    # per-FETCH stable id (url+ts+content): cross-batch refetches of a url
    # stay distinct so the consolidation pass can pick the first-wins
    # keeper; hashing the text too keeps two same-timestamp fetches with
    # different content distinct (content tie-breaker).
    batch = batch.withColumn("doc_id", F.xxhash64("url", "warc_ts", "text"))
    from search_engine_spark.operators import build as B

    # ``warc_ts`` and ``text`` ride along ONLY so consolidate_stream can run
    # the batch pipeline's dedup_first_wins (keeper = earliest (warc_ts,
    # text)) — keeping streamed-then-consolidated warehouses bit-identical
    # to batch builds even when two fetches of a url share a warc_ts.
    meta = B.build_docmeta(batch).join(
        batch.select("doc_id", "warc_ts", "text"), "doc_id"
    ).withColumn("batch_id", F.lit(batch_id))
    cat.write("docmeta_stream", meta, partition_by=["batch_id"],
              mode="overwrite", options=_dynamic)
    posts = B.build_postings(batch).withColumn("batch_id", F.lit(batch_id))
    cat.write("postings_stream", posts, partition_by=["batch_id"],
              mode="overwrite", options=_dynamic)


def incremental_index(spark: SparkSession, pages_dir: str, warehouse: str,
                      checkpoint: str, max_files_per_trigger: int | None = None):
    """Drain all currently-available page files into per-batch partial
    tables; returns the finished StreamingQuery (awaitTermination'd)."""
    cat = IndexCatalog(spark, warehouse)
    docs = stream_docs(spark, pages_dir, max_files_per_trigger)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_stream_batch(cat, batch_df, batch_id)
        cat.log_phase(
            f"stream_batch_{batch_id}", cat.read("postings_stream"),
            {"batch_id": batch_id},
        )

    q = (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def consolidate_stream(cat: IndexCatalog, num_shards: int = 32,
                       salt_buckets: int = 16,
                       merge_factor: int | None = None) -> None:
    """Turn the appended stream partials into the standard queryable
    warehouse: first-wins dedup across all micro-batches, dense url-rank
    re-key (bit-identical to the batch pipeline's ids for the same
    corpus), then the regular checkpointed pack+merge."""
    # keeper fetch per url: the batch pipeline's own first-wins rule, so
    # the consolidated warehouse is bit-identical to a batch build even
    # when two fetches of a url tie on warc_ts with different content
    keepers = extract.dedup_first_wins(cat.read("docmeta_stream")).drop(
        "warc_ts", "text", "batch_id")
    # dense ids by url rank — same axis the batch pipeline uses
    from search_engine_spark.operators.docids import dense_ids_by_key

    mapping = dense_ids_by_key(keepers.select("url", "doc_id"), key="url")
    remap = keepers.withColumnRenamed("doc_id", "_old").join(
        mapping.withColumnRenamed("doc_id", "_old"), ["url", "_old"]
    )
    cat.write("docmeta", remap.drop("_old").withColumnRenamed("new_id", "doc_id")
              .select("doc_id", "url", "title", "word_count", "title_len",
                      "url_len", "english", "tld", "dl"))
    post = cat.read("postings_stream").withColumnRenamed("doc_id", "_old").join(
        mapping.withColumnRenamed("doc_id", "_old").select("_old", "new_id"),
        "_old",  # inner join: loser fetches' postings drop out here
    ).drop("_old").withColumnRenamed("new_id", "doc_id")
    from search_engine_spark.operators import merge

    for t in ("index_stats", "doclens", "postings_packed"):
        cat.drop(t)
    merge.write_partials(cat, post, merge.pack_layout(
        cat.read("docmeta").count(), num_shards, salt_buckets, merge_factor))
    merge.pack_and_merge(cat, num_shards=num_shards,
                         salt_buckets=salt_buckets, merge_factor=merge_factor)


def consolidate_stream_incremental(
    cat: IndexCatalog,
    num_shards: int = 32,
    salt_buckets: int = 16,
    merge_factor: int | None = None,
    compaction: str = "full",
) -> str | None:
    """Consolidate ONLY the stream micro-batches that arrived since the
    last consolidation, through the incremental-append path — so a
    long-running crawl pays O(delta) per refresh instead of the full
    re-key + repack ``consolidate_stream`` does over the whole corpus
    every time.

    First call (no packed warehouse yet, or no watermark property):
    delegates to the full ``consolidate_stream`` — the initial build must
    re-key everything once.  Subsequent calls: new batches are first-wins
    deduped among themselves, urls already in the consolidated corpus
    lose against it (append semantics, the same rule as
    ``run_append``), the survivors get dense url-rank ids continuing
    after the base max, and ``operators.pipeline.apply_delta`` runs the
    shared marker-guarded append + merge (``compaction`` may be
    ``"tiered"`` for the metadata-only manifest commit).

    Convergence contract (inherited from run_append): the consolidated
    warehouse answers queries RANK-identically to a batch build of the
    same corpus, and BIT-identically whenever each new batch's urls sort
    after the already-consolidated corpus's.

    Returns the applied append label, ``"full"`` for a first/full
    consolidation, or ``None`` when no new batches exist."""
    from search_engine_spark.operators.docids import dense_ids_by_key
    from search_engine_spark.operators.pipeline import apply_delta

    wm_key = "stream_consolidated_through"
    last = cat.get_prop(wm_key)
    if last is None or not cat.exists("postings_packed"):
        consolidate_stream(cat, num_shards=num_shards,
                           salt_buckets=salt_buckets,
                           merge_factor=merge_factor)
        max_b = cat.read("docmeta_stream").agg(
            F.max("batch_id")).collect()[0][0]
        cat.set_prop(wm_key, int(max_b))
        return "full"

    meta = cat.read("docmeta_stream").filter(F.col("batch_id") > int(last))
    if meta.isEmpty():
        return None
    max_b = int(meta.agg(F.max("batch_id")).collect()[0][0])
    label = f"stream_b{max_b}"

    # first-wins among the NEW fetches (the batch pipeline's rule), then
    # the existing corpus wins
    keepers = (
        extract.dedup_first_wins(meta)
        .drop("warc_ts", "text", "batch_id")
        .join(cat.read("docmeta").select("url"), "url", "left_anti")
    )
    base = cat.read("docmeta").agg(F.max("doc_id")).collect()[0][0] + 1
    mapping = dense_ids_by_key(keepers.select("url", "doc_id"), key="url")
    delta_meta = (
        keepers.withColumnRenamed("doc_id", "_old")
        .join(mapping.withColumnRenamed("doc_id", "_old"), ["url", "_old"])
        .withColumn("doc_id", F.col("new_id") + F.lit(int(base)))
        .select("doc_id", "url", "title", "word_count", "title_len",
                "url_len", "english", "tld", "dl")
    )
    delta_posts = (
        cat.read("postings_stream")
        .filter(F.col("batch_id") > int(last))
        .withColumnRenamed("doc_id", "_old")
        # inner join: loser fetches' and already-indexed urls' postings
        # drop out here
        .join(mapping.withColumnRenamed("doc_id", "_old")
              .select("_old", "new_id"), "_old")
        .withColumn("doc_id", F.col("new_id") + F.lit(int(base)))
        .select("term", "doc_id", "dl", "tf", "pos", "flags")
    )
    # MATERIALIZE the delta before applying: both plans anti-join against
    # the live docmeta, so once apply_delta appends to it a lazy
    # re-evaluation would see its own rows as already indexed and read
    # empty.  The stage tables double as the checkpoint (crash-resume
    # symmetry with run_append's staged docs table) and are reclaimed
    # after the apply commits.
    stage_meta, stage_posts = f"docmeta_delta_{label}", f"postings_delta_{label}"
    if not cat.exists(stage_meta):
        cat.write(stage_meta, delta_meta)
    if not cat.exists(stage_posts):
        cat.write(stage_posts, delta_posts)
    apply_delta(cat.spark, cat, cat.read(stage_meta), cat.read(stage_posts),
                label=label, compaction=compaction)
    cat.set_prop(wm_key, max_b)
    cat.drop(stage_meta)
    cat.drop(stage_posts)
    return label


def ingest_metrics(docs: DataFrame, window: str = "1 hour",
                   watermark: str = "1 hour") -> DataFrame:
    """Event-time ingest rates over fetch timestamps, late data dropped
    past the watermark (works on both stream and batch frames)."""
    return (
        docs.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).getField("start").alias("win"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("bytes_text"),
        )
    )
