"""Query compiler: tokenizer + recursive-descent parser + rewrite passes.

Faithful port of the reference grammar and rewrites
(/root/reference/query/query.cpp):

* tokenize (query.cpp:503-587): modes DEFAULT/ESCAPED/PHRASE; ``"…"`` turns
  into a '$'-prefixed phrase token; ``( ) & | -`` are single-char tokens;
  space splits; ``\\`` escapes; '>' and '$' get backslash-escaped inside
  tokens (wire-protocol artifact, kept for 1:1 token text).
* parse (query.cpp:590-653): ``parse_term`` handles '-' (NOT), '( )' and
  leaves; ``parse_expression`` folds left over '&', '|' and **implicit AND**
  between adjacent terms (query.cpp:642-646).
* optimize (query.cpp:131-147,228-243,384-409,491-499): stopword/empty-stem
  leaves are deleted; an op with one dead child collapses to the live
  child; NOT with a dead child dies.
* decoration (query.cpp:90-93,211-226): every word leaf ``w`` matches both
  ``@stem`` (title) and ``stem`` (body); phrases likewise get an
  '@'-decorated variant.
* synonyms (query.cpp:95-129): WordNet-style synsets keyed by stem; a word
  leaf expands to OR_SYN(original, synonyms…) — in BM25 scoring the
  synonyms contribute with weight SYN_WEIGHT=0.4 (Ranker.hpp:110).

The AST is the engine's logical plan; plans/wand.py and plans/packed_exec.py
evaluate it over the packed index.
"""

from __future__ import annotations

import re
import urllib.parse
from dataclasses import dataclass, field
from pathlib import Path

from search_engine_spark.functions.stemmer import stem as _stem

SYM_PHRASE = "$"
SYN_WEIGHT = 0.4  # Ranker.hpp:110


# --- AST ---------------------------------------------------------------------

class Expr:
    pass


@dataclass
class Word(Expr):
    term: str
    stem: str = field(default="")

    def __post_init__(self):
        if not self.stem:
            self.stem = _stem(self.term)


@dataclass
class Phrase(Expr):
    terms: list[str]
    stems: list[str] = field(default_factory=list)

    def __post_init__(self):
        if not self.stems:
            self.stems = [_stem(t) for t in self.terms]

    @property
    def effective_stems(self) -> list[str]:
        """Stems with dropped stopwords removed; adjacency is over surviving
        terms, matching the index side where stopwords consume no position
        (Indexer.hpp:429-439)."""
        return [s for s in self.stems if s]


@dataclass
class Near(Phrase):
    """Ordered proximity: the phrase terms in order, each within ``window``
    positions of the previous (``"a b"~k`` syntax, Lucene-style).  window=1
    is exactly a Phrase — the engine serves both through one positional
    kernel (packed_exec.phrase_match), with the chain test widened.
    Beyond-reference surface: the reference's ISRPhrase (isr.cpp:571-598)
    is the k=1 special case."""

    window: int = 1


@dataclass
class Prefix(Expr):
    """Prefix (trailing-wildcard) leaf: ``merg*`` — beyond-reference
    surface (the reference grammar has no wildcards; Lucene-style
    MultiTermQuery semantics).  The prefix matches INDEX TERMS (stems)
    by string prefix — wildcard terms skip stemming, as in Lucene's
    analysis chain — and the engine rewrites the leaf to an OR of the
    highest-df matching terms before execution
    (PackedQueryEngine._expand_prefixes), capped Lucene-style so a
    1-character prefix cannot explode into a vocabulary-sized plan."""

    prefix: str


@dataclass
class And(Expr):
    left: Expr
    right: Expr


@dataclass
class Or(Expr):
    left: Expr
    right: Expr


@dataclass
class Not(Expr):
    child: Expr  # matches docs NOT containing child (intended X6 semantics)


@dataclass
class OrSyn(Expr):
    original: Expr
    synonyms: list[Expr]
    weight: float = SYN_WEIGHT


# --- tokenizer: query.cpp:503-587 ---------------------------------------------

def tokenize(query: str) -> list[str]:
    DEFAULT, ESCAPED, PHRASE = 0, 1, 2
    mode = DEFAULT
    tokens: list[str] = []
    curr: list[str] = []
    for c in query:
        if mode == PHRASE:
            if c == '"':
                tokens.append("".join(curr))
                mode = DEFAULT
                curr = []
            elif c in (">", "\\"):
                curr.append("\\")
                curr.append(c)
            else:
                curr.append(c)
        elif mode == ESCAPED:
            curr.append(c)
            mode = DEFAULT
        else:
            if c == '"':
                curr.append(SYM_PHRASE)
                mode = PHRASE
            elif c in "()&|-":
                if curr:
                    tokens.append("".join(curr))
                    curr = []
                tokens.append(c)
            elif c == " ":
                if curr:
                    tokens.append("".join(curr))
                    curr = []
            elif c == "\\":
                mode = ESCAPED
            elif c in (">", SYM_PHRASE):
                curr.append("\\")
                curr.append(c)
            else:
                curr.append(c)
    if curr:
        tokens.append("".join(curr))
    return tokens


# --- parser: query.cpp:590-653 -------------------------------------------------

_NEAR_RE = re.compile(r"~\d+")

def _leaf(token: str) -> Expr:
    if token.startswith(SYM_PHRASE):
        terms = [t for t in token[1:].split(" ") if t]
        return Phrase(terms)
    if token.endswith("*") and len(token) > 1 and "*" not in token[:-1]:
        return Prefix(token[:-1])
    return Word(token)


def _parse_term(tokens: list[str], idx: list[int]) -> Expr | None:
    if idx[0] >= len(tokens):
        return None
    token = tokens[idx[0]]
    if token == "-":
        idx[0] += 1
        if idx[0] >= len(tokens):
            return None
        right = _parse_term(tokens, idx)
        if right is None:
            return None
        return Not(right)
    if token == "(":
        idx[0] += 1
        expr = _parse_expression(tokens, idx)
        if idx[0] >= len(tokens) or tokens[idx[0]] != ")":
            return None
        idx[0] += 1
        return expr
    idx[0] += 1
    leaf = _leaf(token)
    # Lucene-style proximity suffix: "`a b`"~k directly after a phrase
    if (
        isinstance(leaf, Phrase)
        and idx[0] < len(tokens)
        and _NEAR_RE.fullmatch(tokens[idx[0]])
    ):
        leaf = Near(leaf.terms, window=max(1, int(tokens[idx[0]][1:])))
        idx[0] += 1
    return leaf


def _parse_expression(tokens: list[str], idx: list[int]) -> Expr | None:
    left = _parse_term(tokens, idx)
    while idx[0] < len(tokens):
        token = tokens[idx[0]]
        if token == "&":
            idx[0] += 1
            right = _parse_term(tokens, idx)
            left = And(left, right)
        elif token == "|":
            idx[0] += 1
            right = _parse_term(tokens, idx)
            left = Or(left, right)
        elif token != ")":
            right = _parse_term(tokens, idx)  # implicit AND, query.cpp:642-646
            left = And(left, right)
        else:
            break
    return left


def parse(query: str, url_encoded: bool = False) -> Expr | None:
    if url_encoded:
        query = urllib.parse.unquote_plus(query)
    query = query.lower()  # RootPlugin.h:95-99
    return _parse_expression(tokenize(query), [0])


# --- synsets: query/synsets.cpp:3-26 -------------------------------------------

_SYNSETS: dict[str, list[list[str]]] | None = None


def load_synsets(path: str | Path | None = None) -> dict[str, list[list[str]]]:
    """One synset per line, ';'-separated lemmas; returned map is keyed by
    the STEM of each member (reference loads stem-keyed)."""
    global _SYNSETS
    if path is None:
        path = Path(__file__).resolve().parents[2] / "fixtures/synsets.txt"
    path = Path(path)
    table: dict[str, list[list[str]]] = {}
    if path.exists():
        for line in path.read_text().splitlines():
            lemmas = [w for w in line.strip().split(";") if w]
            if len(lemmas) < 2:
                continue
            for lemma in lemmas:
                s = _stem(lemma)
                if s:
                    table.setdefault(s, []).append(lemmas)
    _SYNSETS = table
    return table


def get_synsets(stem: str) -> list[list[str]]:
    global _SYNSETS
    if _SYNSETS is None:
        load_synsets()
    return _SYNSETS.get(stem, [])


# --- optimize / rewrite: query.cpp optimize() family --------------------------

def optimize(expr: Expr | None, synonyms: bool = False) -> Expr | None:
    """Drop dead leaves, collapse single-child ops, expand synonyms."""
    if expr is None:
        return None
    if isinstance(expr, Word):
        if not expr.stem:
            return None
        if synonyms:
            syns: list[Expr] = []
            seen: set[str] = set()
            for synset in get_synsets(expr.stem):
                for lemma in synset:
                    s = _stem(lemma)
                    if s and s != expr.stem and s not in seen:
                        seen.add(s)
                        syns.append(Word(lemma, s))
            if syns:
                return OrSyn(Word(expr.term, expr.stem), syns)
        return expr
    if isinstance(expr, Phrase):
        if not expr.effective_stems:
            return None
        if len(expr.effective_stems) == 1:
            return Word(expr.effective_stems[0], expr.effective_stems[0])
        return expr
    if isinstance(expr, Prefix):
        # no stemming, no synonyms (Lucene: wildcard terms skip analysis);
        # expansion to an OR of index terms happens engine-side where the
        # dictionary lives (PackedQueryEngine._expand_prefixes)
        return expr if expr.prefix else None
    if isinstance(expr, (And, Or)):
        left = optimize(expr.left, synonyms)
        right = optimize(expr.right, synonyms)
        if left is not None and right is not None:
            return type(expr)(left, right)
        return left if left is not None else right
    if isinstance(expr, Not):
        child = optimize(expr.child, synonyms)
        return Not(child) if child is not None else None
    if isinstance(expr, OrSyn):
        return expr
    raise TypeError(type(expr))


def compile_query(query: str, synonyms: bool = False) -> Expr | None:
    return optimize(parse(query), synonyms=synonyms)


# --- leaf walks shared by the engine and the oracle -----------------------------

def ordered_stems(expr: Expr) -> list[str]:
    """Leaf stems in left-to-right order (the reference's flattened ISR
    term order, isr.cpp:656-674 — first term = query intent main term)."""
    if isinstance(expr, Word):
        return [expr.stem]
    if isinstance(expr, Phrase):
        return list(expr.effective_stems)
    if isinstance(expr, (And, Or)):
        return ordered_stems(expr.left) + ordered_stems(expr.right)
    if isinstance(expr, Not):
        return ordered_stems(expr.child)
    if isinstance(expr, OrSyn):
        out = ordered_stems(expr.original)
        for s in expr.synonyms:
            out += ordered_stems(s)
        return out
    raise TypeError(type(expr))


def collect_keys(expr: Expr) -> set[str]:
    """Every index key the tree reads: each leaf stem and its '@' twin."""
    if isinstance(expr, Word):
        return {expr.stem, "@" + expr.stem}
    if isinstance(expr, Phrase):
        return {k for s in expr.effective_stems for k in (s, "@" + s)}
    if isinstance(expr, (And, Or)):
        return collect_keys(expr.left) | collect_keys(expr.right)
    if isinstance(expr, Not):
        return collect_keys(expr.child)
    if isinstance(expr, OrSyn):
        ks = collect_keys(expr.original)
        for s in expr.synonyms:
            ks |= collect_keys(s)
        return ks
    raise TypeError(type(expr))
