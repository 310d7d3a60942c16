"""SparkSession construction with the engine's standard tuning.

Local defaults mirror what the cluster config would be per-executor:
AQE on (runtime skew-join + partition coalescing), Arrow on (every custom
kernel is a vectorized pandas UDF), shuffle partitions sized to cores.
On a real cluster the same builder is used by the spark-submit jobs in
jobs/ with --master from the environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> None:
    """Make search_engine_spark importable on executors of an
    already-running session: zip the package and addPyFile it — the runtime
    equivalent of spark-submit --py-files (works on any cluster manager)."""
    import zipfile
    from pathlib import Path

    pkg = Path(__file__).resolve().parent
    zip_path = Path("/tmp") / "search_engine_spark_pkg.zip"
    sources = sorted(pkg.rglob("*.py"))
    newest = max(f.stat().st_mtime for f in sources)
    if not zip_path.exists() or zip_path.stat().st_mtime < newest:
        tmp = zip_path.with_suffix(".tmp")
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for f in sources:
                z.write(f, f"search_engine_spark/{f.relative_to(pkg)}")
        tmp.rename(zip_path)  # atomic: concurrent sessions see old or new
    spark.sparkContext.addPyFile(str(zip_path))


def get_spark(
    app_name: str = "search-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Make the package importable on executors regardless of driver cwd.
    # On a real cluster, jobs/ ship an engine zip via spark-submit --py-files;
    # in local mode the worker processes inherit PYTHONPATH.
    from pathlib import Path

    pkg_root = str(Path(__file__).resolve().parents[1])
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(":"):
        os.environ["PYTHONPATH"] = f"{pkg_root}:{pp}" if pp else pkg_root

    # SPARK_GRAFT_EXECUTORS=N → local-cluster[N, cores, mem]: N separate
    # executor JVMs on this box.  This is the faithful "N executors vs 4N
    # executors" shape for scaling runs — a single local[K] JVM stops
    # scaling past ~16 threads on allocator/GC contention regardless of
    # cores.  Cluster deployments pass --master explicitly instead.
    execs = os.environ.get("SPARK_GRAFT_EXECUTORS")
    if master is None and execs:
        ec = int(os.environ.get("SPARK_GRAFT_EXEC_CORES", "4"))
        em = int(os.environ.get("SPARK_GRAFT_EXEC_MEM_MB", "6144"))
        import pyspark

        os.environ.setdefault("SPARK_HOME", pyspark.__path__[0])
        master = f"local-cluster[{execs},{ec},{em}]"
        cpus = int(execs) * ec
    else:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # 3 waves per stage: single-wave (partitions == cores) makes every
        # stage straggler-bound; AQE coalesces the small ones back down
        shuffle_partitions = max(8, cpus * 3)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        # workers import pyspark from the interpreter instead of Spark's
        # archives, which every task would otherwise re-read (see the module)
        .config("spark.python.daemon.module",
                "search_engine_spark.worker_daemon")
        # no Python call-site capture per DataFrame/Column call: it costs
        # ~5 py4j round trips each, about 60 ms of driver time per query
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
