"""The benchmark's own tests: the BENCHMARK.json contract, a smoke run of
every workload at tiny scale (untraced and traced) whose output must name
every metric with its unit and which must leave no process behind, the
oracle gate's failure path, and the refusal to run without the engine
source.

  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _run(args: list[str], cwd: Path = ROOT, timeout: int = 900):
    """Run the benchmark in a session of its own; returns the completed
    process and the processes of that session (their /proc stat lines)
    still present once it exited."""
    with subprocess.Popen(
            [sys.executable, "perfbench/run.py", *args], cwd=cwd,
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            start_new_session=True) as proc:
        out, err = proc.communicate(timeout=timeout)
    return (subprocess.CompletedProcess(proc.args, proc.returncode, out, err),
            _session_procs(proc.pid))


def _session_procs(sid: int) -> list[str]:
    procs = []
    for d in Path("/proc").iterdir():
        try:
            stat = (d / "stat").read_text()
        except (OSError, ValueError):
            continue
        if int(stat[stat.rfind(")") + 2:].split()[3]) == sid:
            procs.append(stat.strip())
    return procs


def test_benchmark_json_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]
    assert 1 <= SPEC["run_seconds"] <= 60
    assert 2 <= len(SPEC["workloads"]) <= 8
    names = [w["name"] for w in SPEC["workloads"]]
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    metrics = SPEC["end_to_end"] + SPEC["per_layer"]
    names += [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for m in metrics:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert len(json.dumps(SPEC)) <= 64 * 1024


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_tiny(workload, trace):
    r, left = _run(["--workload", workload, "--seed", "7", "--seconds", "2",
                    "--trace", str(trace), "--scale", "tiny"])
    assert r.returncode == 0, r.stderr[-3000:]
    assert not left, f"processes outlived the run: {left}"
    lines = r.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    for v in out["metrics"].values():
        assert isinstance(v["value"], float)
    record = json.loads(lines[-2])["host"]
    assert record["nproc"] >= 1 and record["spark_cores"] >= 1
    assert set(record["calibration_s"]) == {"cpu_loop", "membw_loop"}
    if trace:
        assert out["metrics"]["failed_frac"]["value"] == 0.0
    else:
        for m in want:
            assert out["metrics"][m["name"]]["value"] > 0, m["name"]
    assert not any((ROOT / ".bench_work").glob("*")), "run dir left behind"


def test_gate_counts_a_wrong_answer(tmp_path):
    """A deliberately wrong answer must show up in failed_frac."""
    from perfbench import gate, inputs
    from perfbench.workloads import check_served, expect_queries

    corpus = inputs.write_corpus(tmp_path / "pages.parquet", 60, seed=3)
    og = gate.OracleGate(ROOT, {"all": ([str(corpus)], [])})
    try:
        og.wait_ready()
        q = inputs.Query("word", "search")
        right = expect_queries(og, "all", [q])()[q]
        assert right, "query must match something for the test to bite"
        tally = gate.Tally()
        check_served(tally, {q: right}, [
            {"q": q, "status": 200, "results": right}])
        assert tally.failed_frac == 0
        wrong = [(u, s * 1.01) for u, s in right]
        check_served(tally, {q: right}, [
            {"q": q, "status": 200, "results": wrong},
            {"q": q, "status": 200, "results": right[::-1][:1]},
            {"q": q, "status": 500, "results": None},
        ])
        assert tally.failed == 3 and tally.failed_frac > 0
    finally:
        og.close()


def test_ties_compare_by_url_set():
    from perfbench.gate import same_ranking

    a = [("u1", 2.0), ("u2", 1.0), ("u3", 1.0), ("u4", 0.5)]
    assert same_ranking(a, [a[0], a[2], a[1], a[3]])
    assert not same_ranking(a, [a[0], ("u9", 1.0), a[2], a[3]])
    # the last tie group may be cut by k at different urls
    assert same_ranking([("u1", 2.0), ("u2", 1.0)], [("u1", 2.0), ("u7", 1.0)])


def test_fails_without_engine_source(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r, _ = _run(["--workload", "build", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=tmp_path, timeout=180)
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout
