"""Seeded workload inputs.

Everything here is a pure function of two seeds: the corpus seed, from
which the corpus is ``PagesGenerator(n, seed)``, and the run seed, from
which queries are drawn.  Query terms are drawn from the corpus
vocabulary by Zipf rank (log-uniform over ranks, so head and tail posting
lists both appear); the refresh delta and the delete sample are url-hash
splits, so no url spans two parts.  The engine only ever sees the files
and strings produced here.
"""

from __future__ import annotations

import hashlib
import math
import random
from dataclasses import dataclass
from pathlib import Path

SYNSETS = Path(__file__).resolve().parents[1] / "fixtures" / "synsets.txt"

K = 10  # top-k depth of every query

# query classes of the serve mix, besides the frozen reference set
CLASSES = ("word", "and", "or", "not", "phrase", "synonym", "prefix", "site")


@dataclass(frozen=True)
class Query:
    """One request: the query text plus the HTTP/engine parameters."""

    cls: str
    q: str
    synonyms: bool = False
    site: str | None = None

    def params(self) -> dict:
        p = {"q": self.q, "k": str(K)}
        if self.synonyms:
            p["synonyms"] = "1"
        if self.site:
            p["site"] = self.site
        return p


def url_bucket(seed: int, salt: str, url: str, mod: int) -> int:
    h = hashlib.blake2b(f"{seed}:{salt}:{url}".encode(), digest_size=8)
    return int.from_bytes(h.digest(), "little") % mod


def write_corpus(path: Path, n_docs: int, seed: int) -> Path:
    from search_engine_spark.sources.pages import write_pages_parquet

    return write_pages_parquet(path, n_docs, seed=seed,
                               processes=min(4, n_docs // 500 + 1))


def split_corpus(corpus: Path, out_dir: Path, seed: int,
                 delta_pct: int = 10, delete_permille: int = 10):
    """(base path, delta path, deleted urls): the delta holds ~delta_pct%
    of the urls, the delete sample ~delete_permille‰ of all urls."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(corpus)
    urls = t.column("url").to_pylist()
    in_delta = [url_bucket(seed, "delta", u, 100) < delta_pct for u in urls]
    paths = []
    for name, mask in (("base", [not d for d in in_delta]),
                       ("delta", in_delta)):
        p = out_dir / f"{name}.parquet"
        pq.write_table(t.filter(pa.array(mask)), p, compression="zstd")
        paths.append(p)
    deleted = sorted({u for u in urls
                      if url_bucket(seed, "delete", u, 1000) < delete_permille})
    return paths[0], paths[1], deleted


def text_bytes(path: Path) -> int:
    """UTF-8 bytes of the pages' extracted ``text`` column."""
    import pyarrow.parquet as pq

    col = pq.read_table(path, columns=["text"]).column("text")
    return sum(len(s.encode()) for s in col.to_pylist())


class QueryGen:
    """Draws queries from the corpus vocabulary (index = Zipf rank)."""

    def __init__(self, corpus: Path, n_docs: int, corpus_seed: int,
                 seed: int, salt: str):
        import pyarrow.parquet as pq

        from search_engine_spark.plans.query_ast import compile_query
        from search_engine_spark.sources.pages import PagesGenerator

        gen = PagesGenerator(n_docs, corpus_seed)
        self.rng = random.Random(f"{seed}:{salt}")
        self.vocab = gen.vocab
        self.hosts = gen.hosts
        self.texts = pq.read_table(corpus, columns=["text"]).column(
            "text").to_pylist()
        self.max_rank = min(len(self.vocab), 5000)
        # vocabulary words that are synset lemmas, read straight from the
        # synonym fixture (the engine stems and loads it on first use)
        lemmas = {w for line in (SYNSETS.read_text().splitlines()
                                 if SYNSETS.exists() else [])
                  for w in line.strip().split(";") if w}
        self.syn_words = [w for w in self.vocab[: self.max_rank]
                          if w in lemmas and compile_query(w) is not None]

    def rank(self, hi: int) -> int:
        """A Zipf rank below ``hi``, log-uniform so every decade of ranks
        is drawn about equally often."""
        return int(math.exp(self.rng.uniform(0, math.log(hi)))) - 1

    def term(self, max_rank: int | None = None) -> str:
        """A vocabulary word that survives query parsing (stopwords would
        turn 'a - b' into a bare NOT and 'a b' into a one-word query)."""
        from search_engine_spark.plans.query_ast import compile_query

        while True:
            w = self.vocab[self.rank(max_rank or self.max_rank)]
            if compile_query(w) is not None:
                return w

    def phrase(self) -> str:
        """Two adjacent words of a corpus text that stay a phrase after
        stopword removal."""
        from search_engine_spark.plans.query_ast import Phrase, compile_query

        while True:
            words = self.rng.choice(self.texts).split()
            if len(words) >= 2:
                i = self.rng.randrange(len(words) - 1)
                q = f'"{words[i]} {words[i + 1]}"'
                if isinstance(compile_query(q), Phrase):
                    return q

    def prefix(self) -> str:
        while True:
            w = self.term(2000)
            if len(w) >= 3 and w.isalnum():
                return w[: self.rng.randint(2, min(4, len(w)))] + "*"

    def make(self, cls: str) -> Query:
        r = self.rng
        if cls == "word":
            return Query(cls, self.term())
        if cls == "and":
            return Query(cls, f"{self.term(300)} {self.term()}")
        if cls == "or":
            return Query(cls, f"{self.term()} | {self.term()}")
        if cls == "not":
            return Query(cls, f"{self.term(300)} - {self.term()}")
        if cls == "phrase":
            return Query(cls, self.phrase())
        if cls == "synonym":
            return Query(cls, r.choice(self.syn_words), synonyms=True)
        if cls == "prefix":
            return Query(cls, self.prefix())
        if cls == "site":
            host = self.hosts[self.rank(min(20, len(self.hosts)))]
            return Query(cls, self.term(300), site=host)
        raise ValueError(cls)


def serve_mix(corpus: Path, n_docs: int, corpus_seed: int, seed: int,
              per_class: int, salt: str = "serve") -> list[Query]:
    """``per_class`` seeded queries of every class interleaved with the
    frozen reference set in its fixed order: each round sends one query of
    every class and one frozen query, so the first rounds, which a run
    measures, have the same shape whatever the seed.  ``salt`` picks an
    independent draw (the warm-up mix uses its own)."""
    from search_engine_spark.sources.queryset import QUERY_STRINGS

    gen = QueryGen(corpus, n_docs, corpus_seed, seed, salt)
    frozen = [Query("frozen", q) for q in QUERY_STRINGS]
    mix = []
    for i in range(max(per_class, len(frozen))):
        if i < per_class:
            mix += [gen.make(c) for c in CLASSES]
        mix.append(frozen[i % len(frozen)])
    return mix


def batch_mix(corpus: Path, n_docs: int, corpus_seed: int, seed: int,
              n_queries: int, pool_size: int) -> list[str]:
    """``n_queries`` distinct batch queries built from a shared pool of
    ``pool_size`` terms: flat word/AND/OR plus non-flat NOT, phrase and
    prefix queries (search_batch takes no per-query synonym or site
    flag)."""
    gen = QueryGen(corpus, n_docs, corpus_seed, seed, "batch")
    pool = [gen.term() for _ in range(pool_size)]
    r = gen.rng
    shapes = (["word"] * 3 + ["and"] * 3 + ["or"] * 3
              + ["not", "phrase", "prefix"])
    out: dict[str, None] = {}
    while len(out) < n_queries:
        shape = r.choice(shapes)
        if shape == "word":
            q = r.choice(pool)
        elif shape == "and":
            q = " ".join(r.sample(pool, r.randint(2, 3)))
        elif shape == "or":
            q = " | ".join(r.sample(pool, r.randint(2, 3)))
        elif shape == "not":
            a, b = r.sample(pool, 2)
            q = f"{a} - {b}"
        elif shape == "phrase":
            q = gen.phrase()
        else:
            q = gen.prefix()
        out[q] = None
    return list(out)
