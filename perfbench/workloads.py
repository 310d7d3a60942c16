"""The two workloads and the passes a traced run adds.

Every run generates a corpus and splits it by url hash into a base
(~90%), a refresh delta (~10%) and a delete sample (~1%).  The workloads
differ in the operation they measure:

* build — one cold from-scratch ``run_build`` of the base of a seeded
  corpus, the way a build job runs it in a fresh process;
* serve — a closed loop of HTTP clients, sending seeded queries, against
  ``jobs/serve.py``'s request handler over the base warehouse of the
  fixed serve corpus (kept across runs, see ``Run.cached_warehouse``).

Untraced runs report the end-to-end metrics.  A traced run measures its
own operation under Spark job groups, then runs a short pass over
every other path — serve requests, two ``search_batch`` calls with a
kernel replay, and a refresh (tiered ``run_append`` of the delta,
``run_delete`` of the sample, queries on the masked multi-generation
index) — so each traced result carries the whole per-layer table.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import importlib.util
import json
import os
import statistics
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from http.server import ThreadingHTTPServer
from pathlib import Path

from perfbench import common, gate, host, inputs, layers, replay
from perfbench.common import Ctx, pct
from perfbench.sparkprobe import SparkProbe

K = inputs.K
# Serve clients.  Throughput is flat from one client up (the driver
# dispatches each query's jobs serially), so the smallest closed loop
# that still overlaps requests keeps queueing out of the latency.
CLIENTS = 2
BATCH_CALLS = 2
# The serve tail percentile.  A run measures 36-63 requests (four to seven
# rounds of the mix in --seconds 20, after the warm-up), which leaves 9-16
# beyond p75.
TAIL_PCT = 75
# Mix rounds a traced serve run sends, each both under job groups and
# untraced (for the tracing overhead): short enough that a traced run
# stays well inside its time limit.
TRACED_ROUNDS = 2
ROUND = len(inputs.CLASSES) + 1  # one query per class plus a frozen one
# The serve corpus is the same in every run, so that an untraced serve run
# can reuse the warehouse an earlier run in the same checkout built (see
# Run.cached_warehouse); the seed draws the queries.  The build workload's
# corpus comes from the seed.
SERVE_CORPUS_SEED = 0

# Corpus sizes (documents before the split) and operation sizes.  "tiny"
# is the smoke-test scale.
SIZES = {
    "full": {"docs": {"build": 3000, "serve": 1000}, "per_class": 12,
             "warm_s": 15, "batch": 200, "pool": 60, "refresh_batch": 60},
    "tiny": {"docs": {"build": 300, "serve": 300}, "per_class": 1,
             "warm_s": 1, "batch": 20, "pool": 12, "refresh_batch": 10},
}


# -- HTTP serving -----------------------------------------------------------

def load_serve_job(root: Path):
    spec = importlib.util.spec_from_file_location(
        "serve_job", root / "jobs" / "serve.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Server:
    """``jobs/serve.py``'s request handler over ``engine``, on an
    ephemeral localhost port, served from a background thread."""

    def __init__(self, serve_job, engine):
        self.httpd = ThreadingHTTPServer(
            ("127.0.0.1", 0), serve_job.make_handler(engine, engine.n_docs))
        self.port = self.httpd.server_address[1]
        self.thread: threading.Thread | None = None

    def start(self) -> "Server":
        self.thread = threading.Thread(target=self.httpd.serve_forever,
                                       daemon=True)
        self.thread.start()
        return self

    def close(self) -> None:
        if self.thread is not None:
            self.httpd.shutdown()
            self.thread.join(timeout=60)
        self.httpd.server_close()

    def get(self, q: inputs.Query) -> dict:
        url = (f"http://127.0.0.1:{self.port}/search?"
               + urllib.parse.urlencode(q.params()))
        t0 = time.perf_counter()
        results = None
        try:
            with urllib.request.urlopen(url, timeout=120) as r:
                status = r.status
                results = [(x["url"], x["score"])
                           for x in json.loads(r.read())["results"]]
        except urllib.error.HTTPError as e:
            status = e.code
        except OSError:
            status = 0
        return {"q": q, "cls": q.cls, "status": status, "results": results,
                "latency_s": time.perf_counter() - t0, "t_send": t0}


def closed_loop(server: Server, queries: list[inputs.Query], clients: int,
                n_requests: int, seconds: float | None = None
                ) -> tuple[list[dict], float]:
    """``clients`` threads sending ``n_requests`` requests in turn from
    ``queries``, each sending its next request only when the previous one
    answered; with ``seconds``, no new round of ROUND requests starts once
    that many seconds have passed.  Returns the records and the wall
    seconds until the last answer."""
    lock = threading.Lock()
    nxt = [0]
    records: list[dict] = []
    t_begin = time.perf_counter()

    def client() -> None:
        while True:
            with lock:
                i = nxt[0]
                if i >= n_requests or (
                        seconds is not None and i % ROUND == 0
                        and time.perf_counter() - t_begin >= seconds):
                    return
                nxt[0] += 1
            rec = server.get(queries[i % len(queries)])
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        if t.is_alive():
            raise RuntimeError("serve client did not finish")
    end = max(r["t_send"] + r["latency_s"] for r in records)
    return records, end - t_begin


class GroupedEngine:
    """Wraps a PackedQueryEngine so that each ``search`` call, and the
    ``collect`` the HTTP handler makes on its result, run under a job
    group of their own; used only by traced runs."""

    def __init__(self, engine, probe: SparkProbe):
        self.engine, self.probe = engine, probe
        self.n_docs = engine.n_docs
        self.calls: list[dict] = []
        self._lock = threading.Lock()

    def search(self, query: str, **kw):
        with self._lock:
            rec = {"group": f"serve-{len(self.calls)}", "query": query,
                   "kw": kw, "t0_ms": time.time() * 1e3}
            self.calls.append(rec)
        sc = self.probe.sc
        sc.setJobGroup(rec["group"], rec["group"])
        return _GroupedFrame(self.engine.search(query, **kw), rec, sc)


class _GroupedFrame:
    def __init__(self, df, rec: dict, sc):
        self.df, self.rec, self.sc = df, rec, sc

    def collect(self):
        try:
            return self.df.collect()
        finally:
            self.rec["t1_ms"] = time.time() * 1e3
            self.sc.setLocalProperty("spark.jobGroup.id", None)


# -- checks ------------------------------------------------------------------

def expect_queries(og: gate.OracleGate, oracle: str,
                   queries: list[inputs.Query]):
    """Start the oracle on ``queries`` in the background; returns a
    function that waits for and returns {query: oracle ranking}."""
    keys = list(dict.fromkeys(queries))
    fut = og.expected_later(oracle, [(q.q, K, q.synonyms, q.site)
                                     for q in keys])
    return lambda: dict(zip(keys, fut.result()))


def check_served(tally: gate.Tally, want: dict, records: list[dict]) -> None:
    """Every HTTP answer must be a 200 carrying the oracle's ranking."""
    for r in records:
        ok = (r["status"] == 200
              and gate.same_ranking(r["results"], want[r["q"]]))
        tally.record(ok, f"serve {r['q']}: status {r['status']}")


def batch_rankings(rows, urls: dict[int, str]) -> dict[str, list]:
    out: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["query"], r["rank"])):
        out.setdefault(r["query"], []).append((urls[r["doc_id"]], r["score"]))
    return out


def check_batch(tally: gate.Tally, og: gate.OracleGate, oracle: str,
                queries: list[str], got: dict[str, list]) -> None:
    want = og.expected(oracle, [(q, K, False, None) for q in queries])
    for q, w in zip(queries, want):
        tally.record(gate.same_ranking(got.get(q, []), w), f"batch {q!r}")


def check_stats(tally: gate.Tally, og: gate.OracleGate, oracle: str,
                wh: Path) -> None:
    import pyarrow.dataset as ds

    st = ds.dataset(str(wh / "index_stats"), format="parquet").to_table()
    n_docs, avgdl = og.stats(oracle)
    got_n, got_avg = st.column("n_docs")[0].as_py(), st.column("avgdl")[0].as_py()
    tally.record(got_n == n_docs and abs(got_avg - avgdl) <= 1e-9 * avgdl,
                 f"{oracle} index stats {got_n}/{got_avg} vs {n_docs}/{avgdl}")


# -- the run -----------------------------------------------------------------

class Run:
    """One workload run; fills ctx.e2e (untraced) or ctx.layers
    (traced)."""

    def __init__(self, ctx: Ctx, workload: str):
        self.ctx, self.workload = ctx, workload
        self.size = SIZES[ctx.scale]
        self.n_docs = self.size["docs"][workload]
        self.corpus_seed = (ctx.seed if workload == "build"
                            else SERVE_CORPUS_SEED)
        self.tally = gate.Tally()
        self.wh = ctx.work / "wh"
        self.serve_job = load_serve_job(ctx.root)

    # inputs and oracle ----------------------------------------------------
    def prepare_corpus(self) -> None:
        """Generate and split the corpus.  Runs before any other thread
        exists, because the generator forks a process pool."""
        ctx = self.ctx
        corpus = inputs.write_corpus(ctx.work / "pages.parquet", self.n_docs,
                                     self.corpus_seed)
        self.base, self.delta, self.deleted = inputs.split_corpus(
            corpus, ctx.work, self.corpus_seed)
        self.base_text = inputs.text_bytes(self.base)

    def make_queries(self) -> None:
        ctx = self.ctx
        self.mix = inputs.serve_mix(self.base, self.n_docs, self.corpus_seed,
                                    ctx.seed, self.size["per_class"])
        self.warm_mix = inputs.serve_mix(self.base, self.n_docs,
                                         self.corpus_seed, ctx.seed,
                                         self.size["per_class"], "warm")
        self.one_per_class = [next(q for q in self.mix if q.cls == c)
                              for c in inputs.CLASSES]
        self.batch = inputs.batch_mix(self.base, self.n_docs,
                                      self.corpus_seed, ctx.seed,
                                      self.size["batch"], self.size["pool"])

    def mark(self, what: str) -> None:
        """Record when a step of the run finished (seconds since start)."""
        self.ctx.detail.setdefault("timeline", {})[what] = round(
            time.perf_counter() - self.t_start, 2)

    def execute(self, sampler) -> None:
        """Start the oracle worker and the query generation, both of which
        overlap the Spark session start, then run the workload."""
        ctx = self.ctx
        self.t_start = time.perf_counter()
        specs = {"base": ([str(self.base)], [])}
        if ctx.trace:
            specs["survivors"] = ([str(self.base), str(self.delta)],
                                  self.deleted)
        checks_queries = self.workload == "serve" or ctx.trace
        self.og = gate.OracleGate(ctx.root, specs, synonyms=checks_queries)
        try:
            sampler.exclude |= self.og.pids
            with concurrent.futures.ThreadPoolExecutor(1) as pool:
                queries = (pool.submit(self.make_queries) if checks_queries
                           else None)
                self.spark = common.start_spark(ctx)
                if queries is not None:
                    queries.result()
            try:
                self.probe = SparkProbe(self.spark)
                self.mark("spark")
                # the oracle's CPU work must not overlap a measured build
                self.og.wait_ready()
                self.mark("oracle")
                getattr(self, f"run_{self.workload}")()
            finally:
                common.stop_spark(self.spark)
        finally:
            self.og.close()
            self.mark("stopped")

    def index_e2e(self, setup_s: float) -> None:
        self.ctx.e2e["setup_s"] = setup_s
        self.ctx.e2e["index_bytes_per_text_byte"] = (
            common.query_path_bytes(self.wh) / self.base_text)

    # build ------------------------------------------------------------------
    def timed_build(self, group: str | None) -> float:
        t0 = time.perf_counter()
        with (self.probe.group(group) if group
              else contextlib.nullcontext()):
            common.build(self.spark, self.ctx, self.base, self.wh)
        return time.perf_counter() - t0

    def traced_build_layers(self, wall_s: float) -> None:
        self.ctx.layers.update(layers.build_layers(
            self.wh, wall_s, common.dir_bytes(self.wh), self.base_text,
            self.probe.stats("build"), self.ctx.cores))

    def setup_build(self) -> None:
        """The warehouse a query workload runs on (set-up, not measured)."""
        wall = self.timed_build("build" if self.ctx.trace else None)
        check_stats(self.tally, self.og, "base", self.wh)
        self.mark("built")
        if self.ctx.trace:
            self.traced_build_layers(wall)

    def run_build(self) -> None:
        ctx = self.ctx
        wall = self.timed_build("build" if ctx.trace else None)
        check_stats(self.tally, self.og, "base", self.wh)
        self.mark("built")
        ctx.e2e.update({
            "throughput_per_s": _rows(self.base) / wall,
            "latency_p50_ms": wall * 1e3,
            "latency_p75_ms": wall * 1e3,
        })
        setup_s, eng = common.timed_opens(self.spark, self.wh)
        self.index_e2e(setup_s)
        self.mark("opened")
        if ctx.trace:
            # a job group adds no work while the build runs; what tracing
            # adds is reading the counters back afterwards
            t0 = time.perf_counter()
            self.traced_build_layers(wall)
            self.ctx.layers["trace.overhead_frac"] = (
                (time.perf_counter() - t0) / wall)
            self.serve_pass(eng, self.one_per_class, None)
            self.batch_pass(eng, self.batch)
            self.refresh()

    # refresh (traced runs) --------------------------------------------------
    def refresh(self) -> None:
        """Tiered append of the delta, delete of the sample, then queries
        on the masked multi-generation index against the survivor
        oracle."""
        ctx, spark = self.ctx, self.spark
        from search_engine_spark.operators.pipeline import run_append, run_delete

        before = common.dir_bytes(self.wh)
        t0 = time.perf_counter()
        run_append(spark, common.read_pages(spark, self.delta), str(self.wh),
                   label="delta1", compaction="tiered")
        append_s = time.perf_counter() - t0
        written = common.dir_bytes(self.wh) - before
        urls = spark.createDataFrame([(u,) for u in self.deleted], "url string")
        t0 = time.perf_counter()
        run_delete(spark, urls, str(self.wh), label="del1")
        delete_s = time.perf_counter() - t0
        check_stats(self.tally, self.og, "survivors", self.wh)
        self.mark("refreshed")

        eng = common.open_engine(spark, self.wh)
        lat, jobs = [], []
        for q in self.one_per_class:
            group = f"refresh-{len(lat)}"
            t0 = time.perf_counter()
            with self.probe.group(group):
                rows = eng.search(q.q, k=K, synonyms=q.synonyms,
                                  site=q.site).collect()
            lat.append(time.perf_counter() - t0)
            jobs.append(self.probe.stats(group).jobs)
            got = [(r["url"], r["score"]) for r in rows]
            want = self.og.expected("survivors",
                                    [(q.q, K, q.synonyms, q.site)])[0]
            self.tally.record(gate.same_ranking(got, want), f"refresh {q}")
        # the frozen reference set and the batch, in one search_batch call
        from search_engine_spark.sources.queryset import QUERY_STRINGS

        queries = list(dict.fromkeys(QUERY_STRINGS
                                     + self.batch[: self.size["refresh_batch"]]))
        rows = eng.search_batch(queries, k=K).collect()
        check_batch(self.tally, self.og, "survivors", queries,
                    batch_rankings(rows, common.docmeta_urls(self.wh)))
        ctx.layers.update(layers.refresh_layers(
            self.wh, "delta1", append_s, delete_s, _rows(self.delta),
            inputs.text_bytes(self.delta), written))
        ctx.layers["refresh.query_p50_ms"] = statistics.median(lat) * 1e3
        ctx.layers["spark.refresh.jobs_per_query"] = statistics.mean(jobs)
        ctx.layers["wand.masked_frac"] = replay.masked_fraction(
            self.wh, [q.q for q in self.one_per_class] + queries,
            self.num_shards())

    # serve ------------------------------------------------------------------
    def cached_warehouse(self) -> Path:
        """The untraced serve warehouse: built from the serve corpus by the
        first such run in a checkout and kept in ``.bench_cache/`` under a
        key of everything that shapes it (engine and benchmark source,
        scale, cores).  It is built in the run directory and renamed into
        place, so the cache only ever holds whole warehouses.  A run that
        builds it then restarts Spark, so serving starts from a fresh JVM
        in every run."""
        ctx = self.ctx
        digest = host.source_digest(
            ctx.root, ("search_engine_spark", "jobs", "perfbench"))
        dest = (ctx.root / ".bench_cache"
                / f"serve-{ctx.scale}-{ctx.cores}c-{digest}")
        if not dest.is_dir():
            self.timed_build(None)
            dest.parent.mkdir(parents=True, exist_ok=True)
            try:
                os.rename(self.wh, dest)
            except OSError:  # a concurrent run put its own copy there first
                pass
            common.stop_spark(self.spark)
            self.spark = common.start_spark(ctx)
            self.probe = SparkProbe(self.spark)
        return dest

    def run_serve(self) -> None:
        ctx = self.ctx
        if ctx.trace:
            # the traced table needs the build's layers, and the refresh
            # pass changes the warehouse: build a fresh one
            self.setup_build()
        else:
            self.wh = self.cached_warehouse()
            check_stats(self.tally, self.og, "base", self.wh)
            self.mark("built")
        servers: list[Server] = []
        setup_s, eng = common.timed_opens(
            self.spark, self.wh,
            lambda e: servers.append(Server(self.serve_job, e)))
        for s in servers[:-1]:
            s.close()
        self.index_e2e(setup_s)
        self.mark("opened")
        server = servers[-1].start()
        try:
            # warm-up: the same closed loop over a mix drawn apart from the
            # measured one, for warm_s.  Per-query latency keeps falling for
            # the first 30-40 s of load (plan code paths being compiled in
            # the JVM), and a slower host measured more of that slope; the
            # warm-up is as long as the time budget of a full regression
            # check (48 runs) allows.
            # Then whole rounds of the mix until the run length has passed,
            # so every run measures rounds of the same shape
            closed_loop(server, self.warm_mix, CLIENTS, len(self.warm_mix),
                        self.size["warm_s"])
            self.mark("warm")
            if not ctx.trace:
                records, wall = closed_loop(server, self.mix, CLIENTS,
                                            len(self.mix), ctx.seconds)
        finally:
            server.close()
        if ctx.trace:
            self.traced_serve(eng)
            self.batch_pass(eng, self.batch)
            self.refresh()
            return
        self.mark("measured")
        check_served(self.tally, expect_queries(
            self.og, "base", [r["q"] for r in records])(), records)
        self.mark("checked")
        lat = [r["latency_s"] * 1e3 for r in records]
        ctx.e2e.update({
            "throughput_per_s": len(records) / wall,
            "latency_p50_ms": statistics.median(lat),
            "latency_p75_ms": pct(lat, TAIL_PCT),
        })
        ctx.detail["serve"] = {"requests": len(records), "clients": CLIENTS,
                               "rounds": len(records) // ROUND,
                               "latencies_ms": sorted(round(x, 1) for x in lat)}

    def traced_serve(self, eng) -> None:
        """TRACED_ROUNDS of the mix, each sent once under job groups and
        once untraced, in ABBA order so neither side always sees a query
        first; the p50 ratio is the tracing overhead."""
        traced, plain = self.serve_pass(eng, self.mix, CLIENTS)
        self.ctx.layers["trace.overhead_frac"] = (
            statistics.median(r["latency_s"] for r in traced)
            / statistics.median(r["latency_s"] for r in plain) - 1)

    def serve_pass(self, eng, queries: list[inputs.Query],
                   clients: int | None) -> tuple[list[dict], list[dict]]:
        """Serve requests under per-request job groups: with ``clients``,
        TRACED_ROUNDS rounds of ``queries`` in closed loops, each round
        also sent untraced (ABBA order); without, each query once in turn.
        Returns the traced and the untraced records."""
        ctx = self.ctx
        grouped = GroupedEngine(eng, self.probe)
        servers = {True: Server(self.serve_job, grouped).start(),
                   False: Server(self.serve_job, eng).start()}
        records: dict[bool, list[dict]] = {True: [], False: []}
        try:
            if clients is None:
                records[True] = [servers[True].get(q) for q in queries]
            else:
                for r in range(TRACED_ROUNDS):
                    batch = queries[r * ROUND:(r + 1) * ROUND]
                    for traced in ((False, True) if r % 2 == 0
                                   else (True, False)):
                        got, _ = closed_loop(servers[traced], batch,
                                             clients, len(batch))
                        records[traced] += got
        finally:
            for srv in servers.values():
                srv.close()
        sent = records[True] + records[False]
        check_served(self.tally, expect_queries(
            self.og, "base", [r["q"] for r in sent])(), sent)
        records, plain = records[True], records[False]

        # HTTP cost: client-side latency minus the server-side search()
        # and collect() of the same requests
        ctx.layers["serve.http_ms"] = (
            sum(r["latency_s"] * 1e3 for r in records)
            - sum(c["t1_ms"] - c["t0_ms"] for c in grouped.calls)
        ) / len(records)

        cls = {(q.q, q.synonyms, q.site): q.cls for q in queries}
        for c in grouped.calls:
            c["cls"] = cls[(c["query"], c["kw"]["synonyms"],
                            c["kw"].get("site"))]
            c["stats"] = self.probe.stats(c["group"])
        ctx.layers.update(layers.serve_layers(records, grouped.calls))

        from search_engine_spark.plans.query_ast import compile_query

        t0 = time.perf_counter()
        for q in queries:
            compile_query(q.q, synonyms=q.synonyms)
        ctx.layers["query_ast.compile_ms"] = (
            (time.perf_counter() - t0) * 1e3 / len(queries))
        ctx.layers["catalog.engine_open_s"], _ = common.timed_opens(
            self.spark, self.wh)
        return records, plain

    # batch ------------------------------------------------------------------
    def batch_pass(self, eng, queries: list[str]) -> None:
        """BATCH_CALLS traced search_batch calls over one mixed batch, the
        first checked against the oracle, plus the kernel replay on the
        same queries."""
        walls, stats = [], []
        for i in range(BATCH_CALLS):
            t0 = time.perf_counter()
            with self.probe.group(f"batch-{i}"):
                rows = eng.search_batch(queries, k=K).collect()
            walls.append(time.perf_counter() - t0)
            stats.append(self.probe.stats(f"batch-{i}"))
            if i == 0:
                check_batch(self.tally, self.og, "base", queries,
                            batch_rankings(rows,
                                           common.docmeta_urls(self.wh)))
        replayed = replay.replay_flat(self.wh, queries, eng.n_docs,
                                      eng.avgdl, self.num_shards(), K)
        self.ctx.layers.update(layers.batch_layers(stats, walls,
                                                   self.ctx.cores, replayed))
        self.ctx.layers["batch.qps"] = len(queries) / statistics.median(walls)

    # helpers ----------------------------------------------------------------
    def num_shards(self) -> int:
        return int(json.loads((self.wh / "properties.json").read_text())
                   ["num_shards"])


def _rows(path: Path) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows
