"""Host record and process-tree memory sampling.

Every result carries the host it was measured on: core counts, library
versions, a digest of the engine source, and a short calibration (a fixed
interpreter-bound loop and a fixed memory-bandwidth numpy loop, the two
workload classes ``tools/scaling_bench.hardware_ceiling`` calibrates).  A
degraded or shared host shows up as slow calibration seconds next to the
numbers it produced.
"""

from __future__ import annotations

import hashlib
import os
import platform
import signal
import subprocess
import threading
import time
from pathlib import Path


def _cpu_loop() -> float:
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return time.perf_counter() - t0


def _membw_loop() -> float:
    import numpy as np

    a = np.random.default_rng(0).integers(0, 1000, 3_000_000)
    t0 = time.perf_counter()
    for _ in range(5):
        a = a + (np.cumsum(np.sort(a)) % 255)[: len(a)]
    return time.perf_counter() - t0


def _version(cmd: list[str]) -> str:
    try:
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = (r.stderr or r.stdout).strip().splitlines()
    return lines[0] if lines else "unknown"


def source_digest(root: Path,
                  dirs: tuple[str, ...] = ("search_engine_spark", "jobs")
                  ) -> str:
    """sha256 over the source files under ``dirs`` (by default the
    engine's) — the commit stand-in for checkouts that are not git
    repositories."""
    h = hashlib.sha256()
    for sub in dirs:
        for f in sorted((root / sub).rglob("*")):
            if f.suffix in (".py", ".c") and f.is_file():
                h.update(str(f.relative_to(root)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()[:16]


def commit(root: Path) -> str:
    try:
        r = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def host_record(root: Path, spark_cores: int) -> dict:
    import pyarrow
    import pyspark

    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    return {
        "nproc": os.cpu_count(),
        "spark_cores": spark_cores,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": _version([java if os.path.exists(java) else "java",
                          "-version"]),
        "python": platform.python_version(),
        "commit": commit(root),
        "source_digest": source_digest(root),
        "calibration_s": {
            "cpu_loop": round(_cpu_loop(), 4),
            "membw_loop": round(_membw_loop(), 4),
        },
    }


def _children(pid: int, table: dict[int, list[int]]) -> list[int]:
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(table.get(p, []))
    return out


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts: an
    orphaned descendant (the shell the Spark launcher leaves behind once
    the JVM exits, a Python worker outliving its daemon) is re-parented
    here rather than to init, so ``reap_descendants`` can wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_descendants(timeout_s: float = 30.0) -> None:
    """Wait until no child process is left; after ``timeout_s`` kill the
    remaining ones.  Needs ``adopt_orphans`` to cover grandchildren."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            me = str(os.getpid())
            for d in filter(str.isdigit, os.listdir("/proc")):
                try:
                    stat = Path(f"/proc/{d}/stat").read_text()
                    if stat[stat.rfind(")") + 2:].split()[1] == me:
                        os.kill(int(d), signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def tree_rss_mb(root_pid: int, exclude: set[int]) -> float:
    """Resident memory of ``root_pid`` and every descendant (the Spark JVM
    and its Python workers), read from /proc, minus ``exclude`` subtrees."""
    table: dict[int, list[int]] = {}
    rss_pages: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path(f"/proc/{d}/stat").read_text()
            statm = Path(f"/proc/{d}/statm").read_text()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        table.setdefault(int(fields[1]), []).append(int(d))
        rss_pages[int(d)] = int(statm.split()[1])
    skip: set[int] = set()
    for p in exclude:
        skip.update(_children(p, table))
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(rss_pages.get(p, 0) for p in _children(root_pid, table)
               if p not in skip) * page / 2**20


class RssSampler:
    """Samples the process tree's resident memory on a background thread
    and keeps the peak; ``exclude`` names benchmark-only helper processes
    (the oracle worker), whose memory is not the engine's."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.exclude: set[int] = set()
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb,
                               tree_rss_mb(os.getpid(), self.exclude))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
