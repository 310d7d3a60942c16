"""Deterministic dense 64-bit doc_id assignment + first-wins dedup,
distributed and cache-free — the one id assigner of every ingest path
(``run_build``, ``run_append`` and both stream consolidators run these
two passes over their extracted doc rows).

The reference's docIDs are arrival-order uint32 per chunk
(Indexer.hpp:418).  We need a *deterministic* global id (rank-identity
across runs and cluster sizes), assigned without driver-side data
collects and without caching the shuffled corpus:

  pass A (``sorted_dedup``): ONE range shuffle on url, partitions sorted
    by (url, warc_ts, text); the first row of each url-run is the dedup
    keeper (first-wins, HashBlob.h:105-116).  Keepers are written with
    their partition id and row-rank-within-partition as columns — the
    only state the id needs.
  pass B (``stamp_doc_ids``): per-partition row counts come from the
    written parquet FOOTERS (``partition_offsets_from_footers``: file
    part-N ↔ shuffle partition N, a driver-side metadata read);
    doc_id = offset[_pid] + _row_in_part is then a pure column
    expression — a narrow map, no second shuffle, no persist().

doc_id is therefore the rank of ``url`` in lexicographic order — stable
for a fixed corpus at any parallelism (an append offsets its delta's
ranks past the base corpus's max id).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SORT_COLS = ("url", "warc_ts", "text")


def sorted_dedup(docs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Range-shuffle + in-partition sort + first-wins dedup; adds
    ``_pid`` and ``_row_in_part`` bookkeeping columns.

    ``text`` exists solely to order ties inside this sort (the dedup
    keeper rule) — once the keeper is chosen it is DROPPED, so the
    build's largest string column is written/read by no later phase
    (docs_raw keeps it for the byte-identity invariant checks)."""
    spark = docs.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    parted = (
        docs.repartitionByRange(num_partitions, "url")
        .sortWithinPartitions(*SORT_COLS)
        .withColumn("_pid", F.spark_partition_id())
    )

    out_schema = T.StructType(
        [f for f in parted.schema.fields if f.name != "text"]
        + [T.StructField("_row_in_part", T.LongType(), False)]
    )

    def dedup(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = 0
        prev_url = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            is_first = pdf["url"].ne(pdf["url"].shift())
            if prev_url is not None:
                is_first.iloc[0] = pdf["url"].iloc[0] != prev_url
            prev_url = pdf["url"].iloc[-1]
            keep = pdf[is_first].drop(columns=["text"])
            keep["_row_in_part"] = range(seen, seen + len(keep))
            seen += len(keep)
            yield keep

    return parted.mapInPandas(dedup, schema=out_schema)


def partition_offsets_from_footers(table_dir, spark=None) -> dict[int, int]:
    """pid → starting doc_id, from parquet footers (no Spark job).
    Spark names one output file per write task: part-<pid>-<uuid>…

    With a SparkSession, listing + footer reads go through the Hadoop
    FileSystem API, so the path may live on ANY Hadoop-compatible store
    (hdfs://, s3a://, gs://, file:) — a driver-side metadata read of
    O(files) footers either way.  The pyarrow path remains as the
    no-session local fallback."""
    counts: dict[int, int] = {}
    if spark is not None:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        jpath = jvm.org.apache.hadoop.fs.Path(str(table_dir))
        fs = jpath.getFileSystem(conf)
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if not (name.startswith("part-") and name.endswith(".parquet")):
                continue
            pid = int(name.split("-")[1])
            footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
                conf, st.getPath()
            )
            rows = sum(b.getRowCount() for b in footer.getBlocks())
            counts[pid] = counts.get(pid, 0) + rows
    else:
        import pyarrow.parquet as pq
        from pathlib import Path

        for p in Path(table_dir).glob("part-*.parquet"):
            pid = int(p.name.split("-")[1])
            counts[pid] = counts.get(pid, 0) + pq.ParquetFile(p).metadata.num_rows
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    return offsets


def stamp_doc_ids(sorted_docs: DataFrame, offsets: dict[int, int]) -> DataFrame:
    """Narrow map: doc_id = offset[_pid] + _row_in_part.

    The pid → offset lookup is a BROADCAST JOIN against a tiny offsets
    DataFrame, not a literal ``create_map`` — a 100-TB build has ~10⁵
    shuffle partitions and a 2·10⁵-element literal expression would blow
    up codegen; a broadcast of 10⁵ two-int rows is a few MB and keeps the
    stamp a narrow map (no shuffle on the docs side)."""
    spark = sorted_docs.sparkSession
    odf = spark.createDataFrame(
        [(int(pid), int(off)) for pid, off in sorted(offsets.items())],
        "_pid int, _offset long",
    )
    data_cols = [c for c in sorted_docs.columns if c not in ("_pid", "_row_in_part")]
    return (
        sorted_docs.join(F.broadcast(odf), "_pid")
        .select(
            (F.col("_offset") + F.col("_row_in_part")).cast("long").alias("doc_id"),
            *data_cols,
        )
    )
