"""Differential query fuzzing against the oracle, on three states of one
warehouse: the base index, after a tiered append (two manifest
generations), and after a delete (tombstones and df patches).

A seeded generator writes query strings over the whole parser grammar
(plans/query_ast.py): words, ``"phrases"``, ``"a b"~k``, ``p*``, ``-``,
``|``, ``&``, implicit AND, parentheses and repeated terms.  Words are
drawn by Zipf rank from the corpus vocabulary, mixed with stopwords,
unknown words and title-only words.  Every state answers the whole sample
through one ``search_batch`` call per synonyms flag, and a sub-sample
(site-scoped requests included) through ``search``.  The expectation is
the pure-Python oracle over the state's live pages, with the engine's
documented prefix rewrite and site post-filter (``perfbench.gate``);
rankings compare tie group by tie group, scores at rtol 1e-9.

The refreshed state also has to serve every query class with the base
index's Spark job count: df patches and tombstones are resolved when the
engine opens, so they must add no join and no job to a query plan."""

import random
import shutil
from collections import Counter

import numpy as np
import pytest

from perfbench.gate import canon, oracle_topk
from search_engine_spark.oracle.bm25_oracle import OracleIndex
from search_engine_spark.plans import query_ast as Q
from search_engine_spark.plans.wand import PackedQueryEngine
from search_engine_spark.sources.catalog import IndexCatalog

from tests.helpers import JOB_BUDGETS, LAYOUT, _batch, _frame, _jobs_for

SEED = 20261019
N_QUERIES = 240          # per state, each through both synonyms flags
N_SINGLE = 8             # per state, through search()
STOPWORDS = ["the", "of", "and", "a"]
UNKNOWN = ["zzqx", "qvvq"]
TITLE_ONLY = ["alpha", "t0", "t1", "t2", "t3", "t4"]
SITES = ["a00", "a01", "b00", ".com", "nowhere.example"]
DEAD_WORD = "zzdeadword"
NODE_TYPES = {Q.Word, Q.Phrase, Q.Near, Q.Prefix, Q.And, Q.Or, Q.Not,
              Q.OrSyn}


class QueryGen:
    """Seeded query strings over the parser grammar, drawn from the body
    texts and index terms of an oracle's corpus."""

    def __init__(self, seed: int, oracle: OracleIndex):
        self.rng = random.Random(seed)
        self.texts = [d["text"].split() for d in oracle.docs]
        counts = Counter(w for t in self.texts for w in t)
        self.vocab = sorted(counts, key=lambda w: (-counts[w], w))
        self.zipf = [1.0 / (r + 1) for r in range(len(self.vocab))]
        self.stems = sorted(t for t in oracle.postings
                            if not t.startswith("@"))
        self.used: list[str] = []

    def word(self) -> str:
        r = self.rng.random()
        if self.used and r < 0.12:
            return self.rng.choice(self.used)        # repeated term
        if r < 0.2:
            w = self.rng.choice(STOPWORDS)
        elif r < 0.26:
            w = self.rng.choice(UNKNOWN)
        elif r < 0.34:
            w = self.rng.choice(TITLE_ONLY)
        else:
            w = self.rng.choices(self.vocab, self.zipf)[0]
        self.used.append(w)
        return w

    def phrase(self) -> str:
        if self.rng.random() < 0.6:
            # a run of words that occurs in a doc, so phrases do match
            t = self.rng.choice(self.texts)
            n = self.rng.randint(2, 3)
            i = self.rng.randrange(max(1, len(t) - n + 1))
            words = t[i:i + n]
        else:
            words = [self.word() for _ in range(self.rng.randint(2, 3))]
        return '"' + " ".join(words) + '"'

    def leaf(self) -> str:
        r = self.rng.random()
        if r < 0.55:
            return self.word()
        if r < 0.72:
            return self.phrase()
        if r < 0.84:
            return f"{self.phrase()}~{self.rng.randint(1, 4)}"
        if self.rng.random() < 0.1:
            return "zzq*"
        s = self.rng.choice(self.stems)
        return s[:self.rng.randint(1, max(1, min(4, len(s))))] + "*"

    def atom(self, depth: int) -> str:
        if depth > 0 and self.rng.random() < 0.3:
            return f"({self.expr(depth - 1)})"
        return self.leaf()

    def expr(self, depth: int) -> str:
        r = self.rng.random()
        if depth <= 0 or r < 0.25:
            return self.leaf()
        if r < 0.4:
            return f"-{self.atom(depth - 1)}"
        left = self.expr(depth - 1)
        right = (f"-{self.atom(depth - 1)}" if self.rng.random() < 0.2
                 else self.atom(depth - 1))
        op = self.rng.choice([" | ", " & ", " "])
        return f"{left}{op}{right}"

    def query(self) -> str:
        self.used = []
        return self.expr(self.rng.randint(1, 3))

    def sample(self, n: int) -> list[str]:
        out: dict[str, None] = {}
        while len(out) < n:
            out[self.query()] = None
        return list(out)


def _node_types(ast) -> set[type]:
    if ast is None:
        return set()
    seen = {type(ast)}
    if isinstance(ast, (Q.And, Q.Or)):
        seen |= _node_types(ast.left) | _node_types(ast.right)
    elif isinstance(ast, Q.Not):
        seen |= _node_types(ast.child)
    elif isinstance(ast, Q.OrSyn):
        seen |= _node_types(ast.original)
        for s in ast.synonyms:
            seen |= _node_types(s)
    return seen


@pytest.fixture(scope="module")
def states(spark, tmp_path_factory):
    """name -> (catalog, live page rows) for the base index, the index
    after one tiered append, and that index after one delete that hits
    both generations.  Each state is a copy of the one before it."""
    from search_engine_spark.operators.pipeline import (
        run_append, run_build, run_delete,
    )

    tmp = tmp_path_factory.mktemp("fuzz")
    base, delta = _batch("a", 40), _batch("b", 12)
    # a deleted doc carries the corpus's only DEAD_WORD
    base[22] = {**base[22], "html": base[22]["html"].replace(
        b"<body>", f"<body>{DEAD_WORD} ".encode())}
    gone = {base[5]["url"], base[22]["url"], base[37]["url"],
            delta[3]["url"]}
    run_build(spark, _frame(spark, base), str(tmp / "base"), **LAYOUT)
    shutil.copytree(tmp / "base", tmp / "tiered")
    run_append(spark, _frame(spark, delta), str(tmp / "tiered"),
               label="t1", compaction="tiered")
    shutil.copytree(tmp / "tiered", tmp / "deleted")
    run_delete(spark, spark.createDataFrame([(u,) for u in sorted(gone)],
                                            "url string"),
               str(tmp / "deleted"))
    live = {"base": base, "tiered": base + delta,
            "deleted": [r for r in base + delta if r["url"] not in gone]}
    out = {name: (IndexCatalog(spark, tmp / name), rows)
           for name, rows in live.items()}
    for name in ("tiered", "deleted"):
        gens = out[name][0].read_manifest("postings_packed")["generations"]
        assert len(gens) == 2, name
    assert out["deleted"][0].exists("tombstones")
    return out


def _same(got, want, what):
    assert canon(got) == canon(want), what
    np.testing.assert_allclose([s for _, s in got], [s for _, s in want],
                               rtol=1e-9, atol=1e-12, err_msg=str(what))


@pytest.mark.parametrize("state", ["base", "tiered", "deleted"])
def test_fuzz_engine_matches_oracle(states, state):
    cat, rows = states[state]
    oracle = OracleIndex(rows)
    queries = QueryGen(SEED, oracle).sample(N_QUERIES)
    seen = set()
    for q in queries:
        for syn in (False, True):
            seen |= _node_types(Q.compile_query(q, synonyms=syn))
    assert seen == NODE_TYPES, NODE_TYPES - seen
    eng = PackedQueryEngine.from_catalog(cat)
    url = {r["doc_id"]: r["url"]
           for r in cat.read("docmeta").select("doc_id", "url").collect()}
    for syn in (False, True):
        got: dict[str, list] = {q: [] for q in queries}
        for r in sorted(eng.search_batch(queries, k=10,
                                         synonyms=syn).collect(),
                        key=lambda r: r["rank"]):
            got[r["query"]].append((url[r["doc_id"]], r["score"]))
        for q in queries:
            _same(got[q], oracle_topk(oracle, q, 10, syn),
                  (state, "batch", syn, q))
    rng = random.Random(f"{SEED}-{state}")
    for q in rng.sample(queries, N_SINGLE):
        syn = rng.random() < 0.5
        k = rng.choice([1, 3, 10])
        site = rng.choice(SITES) if rng.random() < 0.5 else None
        got = [(r["url"], r["score"])
               for r in eng.search(q, k=k, synonyms=syn, site=site).collect()]
        _same(got, oracle_topk(oracle, q, k, syn, site),
              (state, "search", syn, k, site, q))


def test_prefix_of_deleted_terms_is_a_dead_leaf(states):
    """A prefix that matches only terms of deleted docs expands to
    nothing, so it collapses like any dead leaf."""
    cat, rows = states["deleted"]
    eng, oracle = PackedQueryEngine.from_catalog(cat), OracleIndex(rows)
    assert eng._prefix_table([DEAD_WORD[:4]]) == {}
    for q in (f"search {DEAD_WORD[:4]}*", f"{DEAD_WORD[:4]}*"):
        got = [(r["url"], r["score"])
               for r in eng.search(q, k=10).collect()]
        _same(got, oracle_topk(oracle, q, 10), q)


def test_refreshed_index_launches_base_job_count(states):
    """One tiered append plus one delete add no Spark job to any query
    class, and no join to the bucket-row plan."""
    base = PackedQueryEngine.from_catalog(states["base"][0])
    refreshed = PackedQueryEngine.from_catalog(states["deleted"][0])
    classes = [(q, kw) for q, kw, _budget in JOB_BUDGETS]
    classes.append(("search | w0", {"site": "a00"}))
    counts = {}
    for name, eng in (("base", base), ("refreshed", refreshed)):
        counts[name] = [
            _jobs_for(eng.spark, f"parity-{name}-{q}",
                      lambda: eng.search(q, k=10, **kw).collect())
            for q, kw in classes
        ]
    assert counts["refreshed"] == counts["base"], counts
    plan = (refreshed._bucket_rows(["search", "@search"],
                                   ["term", "df", "doc_ids", "tfs"])
            ._jdf.queryExecution().optimizedPlan().toString())
    assert "Join" not in plan, plan
