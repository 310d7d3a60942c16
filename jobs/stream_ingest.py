#!/usr/bin/env python
"""Streaming ingest job: drain all currently-available page files into the
warehouse's ``docs_stream`` table (checkpointed, exactly-once), then
optionally consolidate: the first consolidation builds the index, later
ones append only the batches streamed since.

  spark-submit --master 'local[32]' jobs/stream_ingest.py \
      --pages-dir /data/pages_incoming --warehouse /tmp/se_wh \
      --checkpoint /tmp/se_ckpt [--consolidate]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages-dir", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--consolidate", action="store_true",
                    help="index the batches streamed since the last "
                         "consolidation")
    args = ap.parse_args()

    from search_engine_spark.session import get_spark, ship_package
    from search_engine_spark.sources.catalog import IndexCatalog
    from search_engine_spark.streaming.ingest import (
        consolidate_stream_incremental, incremental_index,
    )

    spark = get_spark("stream-ingest")
    ship_package(spark)
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.perf_counter()
    incremental_index(
        spark, args.pages_dir, args.warehouse, args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    drained = time.perf_counter() - t0

    cat = IndexCatalog(spark, args.warehouse)
    # per-batch dynamic overwrites leave no table-level _SUCCESS marker,
    # so cat.exists() never holds for docs_stream
    n_docs = (cat.read("docs_stream").count()
              if cat.path("docs_stream").exists() else 0)

    consolidated = None
    if args.consolidate:
        t1 = time.perf_counter()
        consolidate_stream_incremental(cat)
        consolidated = round(time.perf_counter() - t1, 3)

    print(json.dumps({
        "job": "stream_ingest",
        "drain_seconds": round(drained, 3),
        "stream_docs_total": n_docs,
        "consolidate_seconds": consolidated,
    }))


if __name__ == "__main__":
    main()
