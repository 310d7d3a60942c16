"""Helpers shared by the workloads: the Spark session, index builds,
engine opens, warehouse sizes and summary statistics."""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

# Warehouse layout for every workload, sized to the host: one term shard
# per core and one salt bucket per two cores.  The engine defaults (32 and
# 16) are sized for a cluster; on four cores they more than double the
# build's fixed cost, which every run pays in set-up.
def layout(cores: int) -> dict:
    return {"num_shards": cores, "salt_buckets": max(1, cores // 2)}


ENGINE_OPENS = 3  # setup_s is the median of this many engine opens

# The driver JVM's heap: fixed and touched in full at start.  A heap left
# to grow does so at times the collector picks, which swung the JVM's share
# of peak_rss_mb by a quarter between runs of the same build; with the heap
# fixed, peak_rss_mb moves with off-heap and Python-worker memory, and heap
# pressure shows as collection time (spark.build.gc_s) and in throughput.
DRIVER_HEAP = "2g"


@dataclass
class Ctx:
    """One run: where it writes, its seed and length, and what it found."""

    root: Path
    work: Path
    seed: int
    seconds: float
    trace: bool
    scale: str
    cores: int
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


def start_spark(ctx: Ctx):
    from search_engine_spark.session import get_spark

    tmp = ctx.work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                 f" -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch")
    spark = get_spark(
        "perfbench", master=f"local[{ctx.cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_HEAP,
            "spark.sql.warehouse.dir": str(ctx.work / "spark-warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            # keep every job of a run in the status store for the probe
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit: the gateway JVM ends when its stdin
    closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def read_pages(spark, path: Path):
    """The pages DataFrame the way ``jobs/build_index.py`` reads it: the
    split size is clamped so a one-file corpus still yields about three
    input splits per core for the extraction map."""
    target = spark.sparkContext.defaultParallelism * 3
    split = max(1 << 20, min(128 << 20, path.stat().st_size // target))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    return spark.read.parquet(str(path))


def build(spark, ctx: Ctx, pages_path: Path, wh: Path):
    from search_engine_spark.operators.pipeline import run_build

    return run_build(spark, read_pages(spark, pages_path), str(wh),
                     force=True, **layout(ctx.cores))


def open_engine(spark, wh: Path):
    from search_engine_spark.plans.wand import PackedQueryEngine
    from search_engine_spark.sources.catalog import IndexCatalog

    return PackedQueryEngine.from_catalog(IndexCatalog(spark, str(wh)))


def timed_opens(spark, wh: Path, extra=None) -> tuple[float, object]:
    """Median seconds of ENGINE_OPENS opens (catalog + engine + ``extra``
    on the engine, e.g. binding the HTTP server); returns the last
    engine."""
    times, eng = [], None
    for _ in range(ENGINE_OPENS):
        t0 = time.perf_counter()
        eng = open_engine(spark, wh)
        if extra is not None:
            extra(eng)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), eng


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def query_path_bytes(wh: Path) -> int:
    """Bytes of the tables a query reads: the packed postings, doclens,
    docmeta and index stats."""
    return sum(dir_bytes(wh / t) for t in
               ("postings_packed", "doclens", "docmeta", "index_stats"))


def docmeta_urls(wh: Path) -> dict[int, str]:
    import pyarrow.dataset as ds

    t = ds.dataset(str(wh / "docmeta"), format="parquet").to_table(
        columns=["doc_id", "url"])
    return dict(zip(t.column("doc_id").to_pylist(), t.column("url").to_pylist()))


def lineage(wh: Path) -> list[dict]:
    import json

    p = wh / "lineage.jsonl"
    return [json.loads(x) for x in p.read_text().splitlines() if x]


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def nproc() -> int:
    return len(os.sched_getaffinity(0))
