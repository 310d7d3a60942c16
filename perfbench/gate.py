"""Oracle gate: every measured answer is checked against the frozen
pure-Python BM25 oracle (``oracle.bm25_oracle.OracleIndex``) built from the
same generated rows.

The oracle lives in one spawned worker process, so building it overlaps
the Spark session start instead of adding to the run.  Rankings are
compared by url plus score, tie group by tie group, the way
``tools/append_bench.py`` compares warehouses whose doc ids permute:
every tie group must hold the same urls, and the last group (which k may
cut) must match in score and size.
"""

from __future__ import annotations

import itertools
import multiprocessing as mp
import sys
from concurrent.futures import Future, ProcessPoolExecutor
from pathlib import Path

_ORACLES: dict = {}


def canon(rows: list[tuple[str, float]]) -> list:
    """Tie-group canonical form of a ranked (url, score) list."""
    keyed = [(u, round(s, 6)) for u, s in rows]
    groups = [(s, sorted(u for u, _ in g))
              for s, g in itertools.groupby(keyed, key=lambda r: r[1])]
    if groups:
        s, urls = groups[-1]
        groups[-1] = (s, len(urls))
    return groups


def same_ranking(got: list[tuple[str, float]],
                 want: list[tuple[str, float]]) -> bool:
    return canon(got) == canon(want)


def expand_prefixes(ast, oracle, cap: int):
    """The engine's documented prefix rewrite, evaluated on the oracle's
    dictionary: each ``p*`` leaf becomes an OR over the ``cap`` non-title
    terms starting with ``p`` with the highest df, ties broken by term
    ascending; a prefix matching nothing is a dead leaf, collapsed the way
    query optimisation collapses dead leaves."""
    from search_engine_spark.plans.query_ast import (
        And, Not, Or, Prefix, Word,
    )

    if ast is None:
        return None
    if isinstance(ast, Prefix):
        terms = sorted(
            (t for t in oracle.postings
             if not t.startswith("@") and t.startswith(ast.prefix)),
            key=lambda t: (-len(oracle.postings[t]), t),
        )[:cap]
        if not terms:
            return None
        node = Word(terms[0], terms[0])
        for t in terms[1:]:
            node = Or(node, Word(t, t))
        return node
    if isinstance(ast, (And, Or)):
        left = expand_prefixes(ast.left, oracle, cap)
        right = expand_prefixes(ast.right, oracle, cap)
        if left is not None and right is not None:
            return type(ast)(left, right)
        return left if left is not None else right
    if isinstance(ast, Not):
        child = expand_prefixes(ast.child, oracle, cap)
        return Not(child) if child is not None else None
    return ast


def oracle_topk(oracle, q: str, k: int = 10, synonyms: bool = False,
                site: str | None = None) -> list[tuple[str, float]]:
    """Expected top-k (url, score) for one request.  Site-scoped requests
    take the oracle's full ranking post-filtered by url."""
    from search_engine_spark.plans.query_ast import compile_query
    from search_engine_spark.plans.wand import PackedQueryEngine

    ast = expand_prefixes(compile_query(q, synonyms=synonyms), oracle,
                          PackedQueryEngine.MAX_PREFIX_EXPANSIONS)
    if ast is None:
        return []
    ranked = sorted(oracle._eval(ast).items(), key=lambda kv: (-kv[1], kv[0]))
    if site:
        ranked = [(d, s) for d, s in ranked
                  if site in oracle.docs[d]["url"]]
    return [(oracle.docs[d]["url"], s) for d, s in ranked[:k]]


# -- worker-side functions (module level: sent to the worker by name) -------

def _init(root: str, specs: dict[str, tuple[list[str], list[str]]],
          synonyms: bool) -> None:
    """Build one OracleIndex per named corpus: (parquet paths, urls to
    leave out); load the synonym table now if queries will need it."""
    sys.path.insert(0, root)
    import pyarrow.parquet as pq

    from search_engine_spark.oracle.bm25_oracle import OracleIndex
    from search_engine_spark.plans.query_ast import load_synsets

    for name, (paths, drop) in specs.items():
        dropped = set(drop)
        rows = [r for p in paths for r in pq.read_table(p).to_pylist()
                if r["url"] not in dropped]
        _ORACLES[name] = OracleIndex(rows)
    if synonyms:
        load_synsets()


def _stats(name: str) -> tuple[int, float]:
    o = _ORACLES[name]
    return o.n_docs, o.avgdl


def _expected(name: str, requests: list[tuple]) -> list:
    o = _ORACLES[name]
    return [oracle_topk(o, *req) for req in requests]


def _pid() -> int:
    import os

    return os.getpid()


class OracleGate:
    """Handle on the oracle worker.  ``specs`` maps a corpus name to
    (parquet paths, urls to leave out); ``synonyms`` says whether queries
    will be checked, which needs the synonym table."""

    def __init__(self, root: Path,
                 specs: dict[str, tuple[list[str], list[str]]],
                 synonyms: bool = True):
        self._pool = ProcessPoolExecutor(
            max_workers=1, mp_context=mp.get_context("spawn"),
            initializer=_init, initargs=(str(root), specs, synonyms),
        )
        # the worker starts now and builds the oracles in the background
        self._ready = self._pool.submit(_pid)
        self.pids = {p.pid for p in mp.active_children()}

    def wait_ready(self) -> None:
        self._ready.result()

    def stats(self, name: str) -> tuple[int, float]:
        return self._pool.submit(_stats, name).result()

    def expected(self, name: str, requests: list[tuple]) -> list:
        """Oracle top-k per (q, k, synonyms, site) request."""
        return self.expected_later(name, requests).result()

    def expected_later(self, name: str, requests: list[tuple]) -> Future:
        """``expected`` computed in the background; a Future of the list."""
        return self._pool.submit(_expected, name, requests)

    def close(self) -> None:
        if self._pool is not None:
            self._pool.shutdown(wait=True, cancel_futures=True)
            self._pool = self._ready = None
        stop_resource_tracker()


def stop_resource_tracker() -> None:
    """Stop multiprocessing's resource tracker and wait for it to exit.

    The spawn context starts that helper process for the oracle worker's
    queues, and left alone it outlives the benchmark: it only exits once
    the benchmark's own process has.  The queues' semaphores are released
    first (collected), so the tracker has nothing left to clean up."""
    import gc
    from multiprocessing import resource_tracker

    gc.collect()
    resource_tracker._resource_tracker._stop()


class Tally:
    """Attempted/failed operation counts; a failure is an exception, a
    non-200 response, or an answer that differs from the oracle."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.examples: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.examples) < 5:
                self.examples.append(what)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
