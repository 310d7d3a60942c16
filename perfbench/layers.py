"""Per-layer metrics, computed from outside the engine: lineage records
the build already writes, parquet footers of the tables it wrote, Spark
job-group counters (sparkprobe) and the kernel replay (replay)."""

from __future__ import annotations

import json
import statistics
from pathlib import Path

from perfbench.common import lineage
from perfbench.inputs import CLASSES
from perfbench.sparkprobe import GroupStats

MB = 2**20

# lineage phase name -> per-layer metric
BUILD_PHASES = {
    "p1_docs_raw": "extract.p1_s",
    "p2a_docs_sorted": "docids.p2a_s",
    "p2b_docs": "docids.p2b_s",
    "p3_docmeta": "build.p3_s",
    "p4_postings": "build.p4_s",
    "p5_stats": "build.p5_s",
    "p6_packed": "merge.p6_s",
}
APPEND_PHASES = {"a1_": "pipeline.a1_s", "a2a_": "pipeline.a2a_s",
                 "a2b_": "pipeline.a2b_s", "a6_merge_": "pipeline.a6_merge_s"}


def _rows(table_dir: Path) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in table_dir.rglob("*.parquet"))


def packed_column_bytes(wh: Path) -> dict[str, float]:
    """Compressed bytes per packed column group, from the parquet footers
    of the from-scratch packed table."""
    import pyarrow.parquet as pq

    groups = {"doc_ids": ("doc_ids",), "tfs": ("tfs",), "pos": ("pos",),
              "block_headers": ("block_last", "block_maxw")}
    out = dict.fromkeys(groups, 0)
    for f in (wh / "postings_packed").rglob("*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(rg).column(c)
                top = col.path_in_schema.split(".")[0]
                for name, cols in groups.items():
                    if top in cols:
                        out[name] += col.total_compressed_size
    return {f"merge.bytes.{k}": float(v) for k, v in out.items()}


def spark_totals(prefix: str, stats: list[GroupStats], walls_s: list[float],
                 cores: int) -> dict[str, float]:
    """Mean Spark counters per operation, plus core utilisation: task
    seconds over wall seconds times cores."""
    n = len(stats)
    task_s = sum(s.task_s for s in stats)
    return {
        f"{prefix}.jobs": sum(s.jobs for s in stats) / n,
        f"{prefix}.tasks": sum(s.tasks for s in stats) / n,
        f"{prefix}.task_s": task_s / n,
        f"{prefix}.core_util": task_s / (sum(walls_s) * cores),
        f"{prefix}.shuffle_write_mb": sum(s.shuffle_write_bytes
                                          for s in stats) / n / MB,
        f"{prefix}.spill_mb": sum(s.spill_bytes for s in stats) / n / MB,
        f"{prefix}.gc_s": sum(s.gc_s for s in stats) / n,
    }


def build_layers(wh: Path, wall_s: float, written_bytes: int,
                 text_bytes: int, stats: GroupStats, cores: int) -> dict:
    """Layers of one from-scratch build: lineage phase seconds, the wall
    time no phase accounts for, p6 output skew, bytes written and the
    packed table's column sizes, and the build's Spark counters."""
    recs = {r["phase"]: r for r in lineage(wh)}
    out = {m: float(recs[p]["seconds"]) for p, m in BUILD_PHASES.items()}
    out["pipeline.unphased_s"] = wall_s - sum(out.values())
    rows = sorted(p["rows"] for p in recs["p6_packed"]["partitions"])
    out["merge.p6_skew"] = rows[-1] / max(1, statistics.median(rows))
    out["build.bytes_written_per_text_byte"] = written_bytes / text_bytes
    out.update(packed_column_bytes(wh))
    out.update(spark_totals("spark.build", [stats], [wall_s], cores))
    return out


def serve_layers(records: list[dict], calls: list[dict]) -> dict:
    """Per-class latency of traced HTTP requests (client side) and the
    per-query Spark counters of the engine calls behind them: each call
    carries its class, server-side window (t0_ms, t1_ms) and GroupStats."""
    out = {}
    for c in CLASSES:
        lat = [r["latency_s"] for r in records if r["cls"] == c]
        out[f"serve.{c}_p50_ms"] = statistics.median(lat) * 1e3
        out[f"spark.serve.{c}_jobs"] = statistics.mean(
            x["stats"].jobs for x in calls if x["cls"] == c)
    job_ms, driver_ms = [], []
    for x in calls:
        busy = x["stats"].busy_ms(x["t0_ms"], x["t1_ms"])
        job_ms.append(busy)
        driver_ms.append(max(0.0, x["t1_ms"] - x["t0_ms"] - busy))
    n = len(calls)
    out.update({
        "spark.serve.jobs_per_query": sum(x["stats"].jobs for x in calls) / n,
        "spark.serve.stages_per_query":
            sum(x["stats"].stages for x in calls) / n,
        "spark.serve.tasks_per_query":
            sum(x["stats"].tasks for x in calls) / n,
        "spark.serve.job_ms": statistics.median(job_ms),
        "spark.serve.driver_ms": statistics.median(driver_ms),
        "spark.serve.task_ms": statistics.median(
            x["stats"].task_s * 1e3 for x in calls),
    })
    return out


def batch_layers(stats: list[GroupStats], walls_s: list[float], cores: int,
                 replayed: dict) -> dict:
    sp = spark_totals("spark.batch", stats, walls_s, cores)
    out = {k: sp[k] for k in ("spark.batch.jobs", "spark.batch.tasks",
                              "spark.batch.task_s", "spark.batch.core_util",
                              "spark.batch.shuffle_write_mb")}
    out.update(replayed)
    kernel_ms = replayed["codec.decode_ms"] + replayed["wand.dense_ms"]
    out["wand.kernel_share"] = kernel_ms / (statistics.median(walls_s) * 1e3)
    return out


def refresh_layers(wh: Path, label: str, append_s: float, delete_s: float,
                   delta_docs: int, delta_text_bytes: int,
                   append_written: int) -> dict:
    out = {}
    for r in lineage(wh):
        for pre, m in APPEND_PHASES.items():
            if r["phase"].startswith(pre) and r["phase"].endswith(label):
                out[m] = float(r["seconds"])
    man = wh / "postings_packed.manifest.json"
    out.update({
        "pipeline.append_s": append_s,
        "pipeline.append_docs_per_s": delta_docs / append_s,
        "pipeline.delete_s": delete_s,
        "pipeline.append_bytes_written_per_delta_byte":
            append_written / delta_text_bytes,
        "pipeline.tombstones": float(_rows(wh / "tombstones")),
        "pipeline.df_patch_rows": float(_rows(wh / "df_patch_deletes")),
        "catalog.generations": float(
            len(json.loads(man.read_text())["generations"])
            if man.exists() else 1),
    })
    return out
