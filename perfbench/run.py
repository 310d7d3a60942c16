#!/usr/bin/env python3
"""Benchmark entry point.

  python3 perfbench/run.py --workload build|serve --seed N \
      --seconds S --trace 0|1 [--scale full|tiny]

Run from the repository root.  Builds everything it needs from the seed
inside ``.bench_work/`` (removed afterwards), checks every answer against
the BM25 oracle, and prints as its last stdout line one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.  The
line before it carries the host record and run details.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("build", "serve")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    if not (ROOT / "search_engine_spark").is_dir():
        print("perfbench: engine source (search_engine_spark/) not found "
              f"under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # every temporary file of Python, the JVM and Spark stays in the run dir
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))

    from perfbench import common, gate, host, workloads

    host.adopt_orphans()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cores = common.nproc()
    ctx = common.Ctx(root=ROOT, work=work, seed=args.seed,
                     seconds=args.seconds, trace=bool(args.trace),
                     scale=args.scale, cores=cores)
    record = host.host_record(ROOT, cores)
    try:
        run = workloads.Run(ctx, args.workload)
        run.prepare_corpus()
        with host.RssSampler() as sampler:
            run.execute(sampler)
    finally:
        # no helper process may outlive the run, on any path out of it
        gate.stop_resource_tracker()
        host.reap_descendants()
        shutil.rmtree(work, ignore_errors=True)

    tally = run.tally
    if ctx.trace:
        values = dict(ctx.layers)
        values["failed_frac"] = tally.failed_frac
        values["host.cpu_loop_s"] = record["calibration_s"]["cpu_loop"]
        values["host.membw_loop_s"] = record["calibration_s"]["membw_loop"]
        names = spec["per_layer"]
    else:
        values = dict(ctx.e2e)
        values["peak_rss_mb"] = sampler.peak_mb
        names = spec["end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    print(json.dumps({"host": record, "workload": args.workload,
                      "seed": args.seed, "detail": ctx.detail,
                      "failures": tally.examples}))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                "unit": m["unit"]} for m in names},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
