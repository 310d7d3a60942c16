"""Structured-streaming ingest: incremental pages → extracted doc rows →
the batch pipeline's own id, postings and merge phases.

The reference's "streaming" is TCP frames into bounded queues
(Parser.cpp:255-332, 203-246); the Spark-native equivalent is a file/table
stream with checkpointed exactly-once micro-batches:

* ``stream_docs``          — readStream over a pages directory → the same
                             extraction UDF as the batch path.
* ``incremental_index``    — foreachBatch sink writing each micro-batch's
                             extracted doc rows (what p1 writes to
                             ``docs_raw``) to ``docs_stream``, one
                             ``batch_id`` partition per micro-batch.
                             Trigger availableNow => drain-and-stop, which
                             with the checkpoint dir gives resumable,
                             exactly-once incremental ingest.
* ``consolidate_stream``   — the batch build's phases p2a–p6 over all of
                             ``docs_stream``.
* ``consolidate_stream_incremental`` — ``run_append``'s phases over the
                             batches that arrived since the last
                             consolidation.
* ``ingest_metrics``       — event-time windowed ingest counts with a
                             watermark (late pages beyond 1 hour dropped),
                             the streaming metrics sidecar.

The stream keeps no ids of its own: the consolidators run the one
first-wins dedup and dense url-rank id assigner (operators/docids.py) of
the batch pipeline, so a streamed-then-consolidated warehouse is the
warehouse ``run_build`` (then ``run_append``) writes for the same pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark import schemas
from search_engine_spark.operators import extract, pipeline
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
    """IDEMPOTENT per-micro-batch sink: ``docs_stream`` is hive-partitioned
    by batch_id and each micro-batch dynamically OVERWRITES exactly its
    own partition.  A batch retried after a partial write therefore
    replaces its previous rows instead of duplicating them — this is what
    makes foreachBatch + checkpoint genuinely exactly-once (batch_id is
    stable across retries because it comes from the checkpointed offset
    log)."""
    cat.write("docs_stream",
              extract.drop_overlong_titles(batch_df)
              .withColumn("batch_id", F.lit(batch_id)),
              partition_by=["batch_id"], mode="overwrite",
              options={"partitionOverwriteMode": "dynamic"})


def incremental_index(spark: SparkSession, pages_dir: str, warehouse: str,
                      checkpoint: str, max_files_per_trigger: int | None = None):
    """Drain all currently-available page files into ``docs_stream``;
    returns the finished StreamingQuery (awaitTermination'd)."""
    cat = IndexCatalog(spark, warehouse)
    docs = stream_docs(spark, pages_dir, max_files_per_trigger)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_stream_batch(cat, batch_df, batch_id)
        cat.log_phase(
            f"stream_batch_{batch_id}", cat.read("docs_stream"),
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
    """(Re)build the queryable warehouse from every streamed micro-batch:
    the tables and properties of any earlier build are dropped, then the
    batch build's phases p2a–p6 run over ``docs_stream``."""
    pipeline._drop_build(cat)
    pipeline._index_docs(cat, cat.read("docs_stream").drop("batch_id"),
                         num_shards, salt_buckets, merge_factor, None)


def consolidate_stream_incremental(
    cat: IndexCatalog,
    num_shards: int = 32,
    salt_buckets: int = 16,
    merge_factor: int | None = None,
    compaction: str = "full",
) -> str | None:
    """Consolidate ONLY the stream micro-batches that arrived since the
    last consolidation — so a long-running crawl pays O(delta) per
    refresh instead of the full rebuild ``consolidate_stream`` does over
    the whole corpus every time.

    First call (no packed warehouse yet, or no watermark property): the
    full ``consolidate_stream``.  Subsequent calls run ``run_append``'s
    phases over the new batches as one append labelled
    ``stream_b<last batch id>``: the new fetches are first-wins deduped
    among themselves, urls ALIVE in the consolidated corpus win against
    them (a deleted url is re-indexable), the survivors get dense
    url-rank ids continuing after the base max, and
    ``operators.pipeline.apply_delta`` runs the marker-guarded append +
    merge (``compaction`` may be ``"tiered"`` for the metadata-only
    manifest commit).

    Convergence contract (run_append's): the consolidated warehouse
    answers queries RANK-identically to a batch build of the same
    corpus, and BIT-identically whenever each new batch's urls sort
    after the already-consolidated corpus's.

    Returns the applied append label, ``"full"`` for a first/full
    consolidation, or ``None`` when no new batches exist."""
    wm_key = "stream_consolidated_through"
    last = cat.get_prop(wm_key)
    full = last is None or not cat.exists("postings_packed")
    new = cat.read("docs_stream")
    if not full:
        new = new.filter(F.col("batch_id") > int(last))
    max_b = new.agg(F.max("batch_id")).collect()[0][0]
    if full:
        consolidate_stream(cat, num_shards=num_shards,
                           salt_buckets=salt_buckets,
                           merge_factor=merge_factor)
        cat.set_prop(wm_key, int(max_b))
        return "full"
    if max_b is None:
        return None
    label = f"stream_b{max_b}"
    pipeline._append_docs(cat, new.drop("batch_id"), label,
                          compaction=compaction)
    cat.set_prop(wm_key, int(max_b))
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
