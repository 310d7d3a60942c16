"""Block-max WAND top-k over the packed physical index (SURVEY.md §7.1 M4).

The packed layout (operators/merge.py) buckets every term's posting list by
doc-id range, so query-time top-k distributes the way the reference's
per-chunk ISR trees + k-way merge did (csolver.cpp:135-152): each bucket is
an independent, exact top-k; the global merge is Spark's
TakeOrderedAndProject (``search``) or a per-query rank window
(``search_batch``).

One planner (PackedQueryEngine._candidates) answers every query, and
``search`` is a batch of one: the batch's prefix leaves are expanded by
one range-pruned dictionary job (_prefix_table), the trees are routed,
and ONE bucket-row plan (_bucket_rows) carries every query key's
shard-pruned packed rows, the doclens rows and any tombstone / site-allow
rows to the kernels through one shuffle on ``bucket``.  Two kernels read
those rows, and each decodes and masks them through _decode_rows:

* flat AND/OR word trees run on the flat kernel (_flat_kernel) — the
  block-max WAND kernels below (topk_or/topk_and) for a lone flat query,
  the dense kernels (topk_or_dense/topk_and_dense) over per-bucket shared
  weights for a batch of them; their scores are bit-identical;
* every other tree — phrases (positions decoded from the packed ``pos``
  column), NOT (bucket-local complements), synonym trees (weighted OR
  folds), NEAR — runs on the packed GENERAL kernel (plans/packed_exec.py),
  exhaustive within the bucket.

A served query then costs a fixed handful of Spark jobs: the shuffle's map
stage and the kernel + top-k stage (AQE runs each as a job), one
``doc_id IN (k ids)`` docmeta lookup for url and title (_with_meta), plus
the dictionary job for prefix queries and a phrase-df aggregate for phrase
queries.  The answer comes back as a driver-local relation.

Within a bucket the WAND kernel is a *vectorized*
block-max evaluation — instead of the textbook document-at-a-time pointer
walk (which would be per-row Python), doc space is cut at the union of the
terms' 128-doc block boundaries, each interval gets the exact block-max
upper bound Σ_t idf_t·maxw_t(block ∋ interval), and intervals are scored
in descending-bound order until the bound falls below the running top-k
threshold.  Pruning is lossless: bounds are exact maxima of the very same
idf-free weights scored here, and an interval is skipped only when its
bound is *strictly* below the kth score (ties keep both candidates, so the
deterministic (score DESC, doc_id ASC) order matches the exhaustive path).

Conjunctive (implicit-AND) queries use rarest-first intersection —
df-ascending term order, the Spark analogue of the ranker's
min-tf-term-drives heuristic (Ranker.cpp:79-92) — then exact scoring of
the surviving candidates.

The heuristic parity modes (static/dynamic) rank the general kernel's
exhaustive match set (_parity_topk): the static mode through the planner
with ``k=None``, the dynamic mode through packed_exec.dynamic_scores.
"""

from __future__ import annotations

import functools
import operator
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.plans import bm25
from search_engine_spark.plans.query_ast import (
    And, Expr, Not, Or, OrSyn, Prefix, Word, collect_keys, compile_query,
    ordered_stems,
)
from search_engine_spark.sources.catalog import bucketed


def _collect_prefixes(ast: Expr | None, acc: set[str]) -> None:
    """Gather every Prefix leaf's prefix string into ``acc``."""
    if ast is None:
        return
    if isinstance(ast, Prefix):
        acc.add(ast.prefix)
    elif isinstance(ast, (And, Or)):
        _collect_prefixes(ast.left, acc)
        _collect_prefixes(ast.right, acc)
    elif isinstance(ast, Not):
        _collect_prefixes(ast.child, acc)
    elif isinstance(ast, OrSyn):
        _collect_prefixes(ast.original, acc)
        for s in ast.synonyms:
            _collect_prefixes(s, acc)


def _substitute_prefixes(ast: Expr | None,
                         table: dict[str, list[str]]) -> Expr | None:
    """Replace every Prefix leaf with an OR over its expansion terms.

    A prefix that matched NO dictionary term becomes a dead leaf under
    exactly optimize()'s collapse conventions (dead leaves are removable
    noise: an op with one dead child collapses to the live child, a NOT
    over a dead child dies) — so ``data zzzq*`` degrades to ``data``,
    the same way an unknown/stopword term does, and a bare ``zzzq*``
    yields the defined-empty result."""
    if ast is None:
        return None
    if isinstance(ast, Prefix):
        terms = table.get(ast.prefix, [])
        if not terms:
            return None
        node: Expr = Word(terms[0], terms[0])
        for t in terms[1:]:
            node = Or(node, Word(t, t))
        return node
    if isinstance(ast, (And, Or)):
        left = _substitute_prefixes(ast.left, table)
        right = _substitute_prefixes(ast.right, table)
        if left is not None and right is not None:
            return type(ast)(left, right)
        return left if left is not None else right
    if isinstance(ast, Not):
        child = _substitute_prefixes(ast.child, table)
        return Not(child) if child is not None else None
    return ast  # Word / Phrase / OrSyn (prefixes never nest inside OrSyn)


# ---------------------------------------------------------------------------
# pure-numpy kernels (unit-testable without Spark)
# ---------------------------------------------------------------------------

def _weights(tfs: np.ndarray, dls: np.ndarray, avgdl: float,
             k1: float, b: float) -> np.ndarray:
    tf = tfs.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dls / avgdl))


def _bucket_tombs(brow) -> np.ndarray | None:
    """The bucket row's tombstoned doc ids (sorted int64), or None.  Rows
    from engines without delete support have no ``tombs`` column; rows
    from buckets with no deletions carry an empty array."""
    t = getattr(brow, "tombs", None)
    if t is None or len(t) == 0:
        return None
    return np.asarray(t, dtype=np.int64)


def _bucket_allow(brow) -> np.ndarray | None:
    """The bucket row's ALLOWED doc ids (site-scoped search), or None for
    unrestricted rows — the allow-list twin of the tombstone column."""
    a = getattr(brow, "allow", None)
    if a is None:
        return None
    return np.asarray(a, dtype=np.int64)


def _bucket_df_delta(brow, delta) -> dict[str, int] | None:
    """The signed df corrections (sources/catalog.DfDelta) of the bucket
    row's generation, or None when the engine's stored df is current."""
    return None if delta is None else delta.at(int(brow.bucket))


def _decode_rows(trows, need_pos: bool, tombs: np.ndarray | None = None,
                 allow: np.ndarray | None = None,
                 need_flags: bool = False,
                 df_delta: dict[str, int] | None = None) -> dict[str, dict]:
    """Decode one bucket's packed rows → {term: {ids, tfs, df[, flatpos,
    offs][, flatflags]}}, each df corrected to the current corpus by the
    bucket's ``df_delta`` (_bucket_df_delta), with tombstoned (and, when
    site-scoped, disallowed) docs masked out of every posting — for
    scoring, membership AND positions and flags (the run mask drops each
    masked doc's occurrence run from the flat streams).  Every kernel
    decodes through here, so this is the one masking and df rule.
    Masking decoded arrays is exactly 'the doc was never indexed' for
    scoring: block_last boundaries are doc-id VALUES consumed via
    searchsorted (still aligned after removal) and block_maxw stays a
    valid upper bound when docs are removed — WAND pruning remains
    lossless, merely a little looser until the next compaction
    physically drops the postings.  Filtering INSIDE
    the kernel, before the per-bucket top-k cut, is what keeps a filtered
    top-k exact (a post-cut filter could starve a bucket whose winners
    were filtered).  ``need_flags`` needs ``need_pos`` (the flag runs
    share the position offsets)."""
    from search_engine_spark.operators import codec

    decoded: dict[str, dict] = {}
    for r in trows if trows is not None else []:
        ids = codec.decode_docids(bytes(r["doc_ids"]))
        tfs = codec.decode_tfs(bytes(r["tfs"]))
        occ = {}
        if need_pos:
            occ["flatpos"] = codec.decode_position_stream(bytes(r["pos"]), tfs)
        if need_flags:
            occ["flatflags"] = codec.decode_flag_stream(bytes(r["flags"]))
        if (tombs is not None or allow is not None) and ids.size:
            keep = (~np.isin(ids, tombs) if tombs is not None
                    else np.ones(ids.size, dtype=bool))
            if allow is not None:
                keep &= np.isin(ids, allow)
            if not keep.all():
                run = np.repeat(keep, tfs)
                occ = {name: a[run] for name, a in occ.items()}
                ids, tfs = ids[keep], tfs[keep]
        df = int(r["df"])
        if df_delta:
            df += df_delta.get(r["term"], 0)
        e = {"ids": ids, "tfs": tfs, "df": df, **occ}
        if need_pos:
            offs = np.zeros(tfs.size, dtype=np.int64)
            np.cumsum(tfs[:-1], out=offs[1:])
            e["offs"] = offs
        decoded[r["term"]] = e
    return decoded


def _topk_select(ids: np.ndarray, scores: np.ndarray, k: int):
    """Deterministic (score DESC, doc_id ASC) top-k."""
    if ids.size <= k:
        order = np.lexsort((ids, -scores))
        return ids[order], scores[order]
    kth = -np.partition(-scores, k - 1)[k - 1]
    mask = scores >= kth  # keep ALL ties at the kth score, then re-rank
    idsm, sm = ids[mask], scores[mask]
    order = np.lexsort((idsm, -sm))[:k]
    return idsm[order], sm[order]


def topk_or(terms: list[dict], dls: np.ndarray, start: int, k: int,
            avgdl: float):
    """Disjunctive block-max top-k for one bucket.

    terms: [{ids, tfs, block_last, block_maxw, idf}] — processed in
    deterministic key order by the caller so float accumulation order is
    reproducible.
    """
    if not terms:
        return np.empty(0, np.int64), np.empty(0)
    # intervals: union of all block boundaries → (left, right] doc ranges
    bounds = np.unique(np.concatenate([t["block_last"] for t in terms]))
    ubs = np.zeros(bounds.size)
    for t in terms:
        bidx = np.searchsorted(t["block_last"], bounds)
        valid = bidx < t["block_maxw"].size
        ubs[valid] += t["idf"] * t["block_maxw"][bidx[valid]]
    order = np.argsort(-ubs, kind="stable")

    best_ids = np.empty(0, np.int64)
    best_scores = np.empty(0)
    theta = -np.inf
    for wi in order:
        if best_ids.size >= k and ubs[wi] < theta:
            break  # every remaining interval is bounded below the kth score
        right = bounds[wi]
        left = bounds[wi - 1] if wi > 0 else -1
        cand_ids = []
        cand_sc = []
        for t in terms:
            lo = np.searchsorted(t["ids"], left, side="right")
            hi = np.searchsorted(t["ids"], right, side="right")
            if lo == hi:
                continue
            ids = t["ids"][lo:hi]
            w = _weights(t["tfs"][lo:hi], dls[ids - start], avgdl,
                         bm25.K1, bm25.B)
            cand_ids.append(ids)
            cand_sc.append(t["idf"] * w)
        if not cand_ids:
            continue
        ids = np.concatenate(cand_ids)
        sc = np.concatenate(cand_sc)
        uids, inv = np.unique(ids, return_inverse=True)
        acc = np.zeros(uids.size)
        np.add.at(acc, inv, sc)
        best_ids = np.concatenate([best_ids, uids])
        best_scores = np.concatenate([best_scores, acc])
        best_ids, best_scores = _topk_select(best_ids, best_scores, k)
        if best_ids.size >= k:
            theta = best_scores[k - 1] if best_scores.size >= k else -np.inf
    return best_ids, best_scores


def topk_and(stems: list[str], by_key: dict[str, dict], dls: np.ndarray,
             start: int, k: int, avgdl: float):
    """Conjunctive top-k: rarest-first intersection of per-stem (body ∪
    title) match sets, then exact scoring of survivors."""
    stem_sets = []
    for s in stems:
        parts = [by_key[key]["ids"] for key in (s, "@" + s) if key in by_key]
        if not parts:
            return np.empty(0, np.int64), np.empty(0)
        ids = parts[0] if len(parts) == 1 else np.union1d(parts[0], parts[1])
        stem_sets.append(ids)
    stem_sets.sort(key=len)  # rarest first
    cand = stem_sets[0]
    for s_ids in stem_sets[1:]:
        cand = np.intersect1d(cand, s_ids, assume_unique=True)
        if cand.size == 0:
            return np.empty(0, np.int64), np.empty(0)
    scores = np.zeros(cand.size)
    for key in sorted(by_key):  # deterministic accumulation order
        t = by_key[key]
        if t["ids"].size == 0:  # posting fully tombstoned after masking
            continue
        pos = np.searchsorted(t["ids"], cand)
        pos_c = np.minimum(pos, t["ids"].size - 1)
        present = t["ids"][pos_c] == cand
        if not present.any():
            continue
        tf = t["tfs"][pos_c[present]]
        ids = cand[present]
        scores[present] += t["idf"] * _weights(tf, dls[ids - start], avgdl,
                                               bm25.K1, bm25.B)
    return _topk_select(cand, scores, k)


def topk_or_dense(terms: list[dict], start: int, width: int, k: int):
    """Batch-mode disjunctive top-k: every term carries a PRECOMPUTED
    idf-free weight array ``w`` (computed once per bucket and shared by
    all queries in the batch), so scoring one query is one dense
    scatter-add per term over an O(bucket_width) array — no per-interval
    bookkeeping.  Float addition order per doc is the same term order as
    topk_or (sorted key order), so scores are bit-identical."""
    if not terms:
        return np.empty(0, np.int64), np.empty(0)
    scores = np.zeros(width)
    hit = np.zeros(width, dtype=bool)
    for t in terms:
        off = t["ids"] - start
        scores[off] += t["idf"] * t["w"]
        hit[off] = True
    idx = np.nonzero(hit)[0]
    return _topk_select(idx + start, scores[idx], k)


def topk_and_dense(stems: list[str], by_key: dict[str, dict], start: int,
                   width: int, k: int):
    """Batch-mode conjunctive top-k over precomputed weights: per-stem hit
    masks AND-ed densely, survivors scored in sorted key order (the same
    float structure as topk_and)."""
    cnt = np.zeros(width, dtype=np.int32)
    m = np.empty(width, dtype=bool)
    for s in stems:
        m[:] = False
        found = False
        for key in (s, "@" + s):
            t = by_key.get(key)
            if t is not None:
                m[t["ids"] - start] = True
                found = True
        if not found:
            return np.empty(0, np.int64), np.empty(0)
        cnt += m
    need = len(stems)
    cand_mask = cnt == need
    if not cand_mask.any():
        return np.empty(0, np.int64), np.empty(0)
    scores = np.zeros(width)
    for key in sorted(by_key):
        t = by_key[key]
        off = t["ids"] - start
        sel = cand_mask[off]
        if sel.any():
            scores[off[sel]] += t["idf"] * t["w"][sel]
    idx = np.nonzero(cand_mask)[0]
    return _topk_select(idx + start, scores[idx], k)


# ---------------------------------------------------------------------------
# routing
# ---------------------------------------------------------------------------

def route(ast: Expr | None) -> tuple[str, list[str]] | None:
    """('and'|'or', stems) for flat word-only trees, else None (general
    kernel)."""
    if ast is None:
        return None
    if isinstance(ast, Word):
        return ("or", [ast.stem])

    def flat(e: Expr, op) -> list[str] | None:
        if isinstance(e, Word):
            return [e.stem]
        if isinstance(e, op):
            l = flat(e.left, op)
            r = flat(e.right, op)
            if l is not None and r is not None:
                return l + r
        return None

    for opname, op in (("and", And), ("or", Or)):
        stems = flat(ast, op)
        if stems is not None:
            return (opname, stems)
    return None


# ---------------------------------------------------------------------------
# Spark engine
# ---------------------------------------------------------------------------

# packed-row columns each kernel reads
_SCORE_COLS = ["term", "df", "doc_ids", "tfs"]
_BLOCK_COLS = ["block_last", "block_maxw"]
# arrow types of search()'s and search_batch()'s result columns
_RESULT_FIELDS = {"doc_id": "int64", "score": "double", "url": "string",
                  "title": "string"}
_BATCH_FIELDS = {"query": "string", "doc_id": "int64", "score": "double",
                 "rank": "int32"}


def _local_frame(spark: SparkSession, fields: dict[str, str],
                 data: dict[str, list] | None = None) -> DataFrame:
    """A driver-local relation built from Arrow (Spark's Arrow
    LocalRelation: collecting it launches no Spark job) with the arrow-typed
    ``fields``, holding the column lists in ``data`` (empty if None)."""
    import pyarrow as pa

    data = data or {}
    return spark.createDataFrame(pa.table({
        name: pa.array(data.get(name, []), pa.type_for_alias(t))
        for name, t in fields.items()
    }))


def _successor(prefix: str) -> str | None:
    """The least string above every string that starts with ``prefix``, or
    None if there is none.  Spark orders strings by UTF-8 bytes, which is
    code-point order."""
    top = chr(0x10FFFF)
    stem = prefix.rstrip(top)
    if not stem:
        return None
    nxt = ord(stem[-1]) + 1
    if 0xD800 <= nxt <= 0xDFFF:  # surrogates have no UTF-8 encoding
        nxt = 0xE000
    return stem[:-1] + chr(nxt)


def _flat_kernel(plans: list[tuple[str, str, list[str]]], k: int,
                 n_docs: int, avgdl: float, df_delta=None):
    """The mapInPandas kernel of the flat queries ``plans`` — (query,
    'and'|'or', stems) — over bucket rows: per bucket it decodes the
    plans' keys once and emits every query's bucket-exact top-k as
    (query, doc_id, score) rows.

    A lone flat query runs the block-max WAND kernels (topk_or/topk_and
    over the rows' block headers); a batch scores every query densely
    over idf-free weights computed once per (term, bucket) and shared by
    the whole batch (topk_or_dense/topk_and_dense).  Their scores are
    bit-identical, so the batch's shape picks the kernel.  No
    driver-side df collect: every packed row carries its term's GLOBAL
    df (plus ``df_delta``, the engine's corrections of the plans' keys),
    so idf is computed here, and a bucket where an AND-stem is absent
    emits nothing — exactly the conjunctive semantics (all of a doc's
    postings share its bucket)."""
    wand = len(plans) == 1
    keys = {key for _, _, stems in plans for s in stems
            for key in (s, "@" + s)}
    # a stem repeated in a query ('apple | apples' → appl twice) scores
    # multiply, matching the general kernel's per-leaf evaluation — the
    # multiplicity folds into the per-key idf scale
    shapes = [(q, mode, list(dict.fromkeys(stems)), Counter(stems))
              for q, mode, stems in plans]

    def kernel(batches):
        for pdf in batches:
            out_q, out_d, out_s = [], [], []
            for brow in pdf.itertuples(index=False):
                start = int(brow.start)
                dls = np.asarray(brow.dls, dtype=np.float64)
                # keys only the general kernel reads stay packed
                trows = [r for r in brow.trows if r["term"] in keys]
                decoded = _decode_rows(
                    trows, False, _bucket_tombs(brow), _bucket_allow(brow),
                    df_delta=_bucket_df_delta(brow, df_delta))
                for r in trows:
                    e = decoded[r["term"]]
                    e["base_idf"] = bm25.idf(e["df"], n_docs)
                    if wand:
                        e["block_last"] = np.asarray(r["block_last"],
                                                     dtype=np.int64)
                        e["block_maxw"] = np.asarray(r["block_maxw"],
                                                     dtype=np.float64)
                    else:
                        e["w"] = _weights(e["tfs"], dls[e["ids"] - start],
                                          avgdl, bm25.K1, bm25.B)
                for q, mode, stems, mult in shapes:
                    by_key = {
                        key: {**decoded[key],
                              "idf": decoded[key]["base_idf"] * mult[s]}
                        for s in stems for key in (s, "@" + s)
                        if key in decoded
                    }
                    if mode == "and":
                        ids, scores = (
                            topk_and(stems, by_key, dls, start, k, avgdl)
                            if wand else
                            topk_and_dense(stems, by_key, start, dls.size, k))
                    else:
                        terms = [by_key[key] for key in sorted(by_key)]
                        ids, scores = (
                            topk_or(terms, dls, start, k, avgdl) if wand
                            else topk_or_dense(terms, start, dls.size, k))
                    out_q.extend([q] * ids.size)
                    out_d.extend(ids.tolist())
                    out_s.extend(scores.tolist())
            yield pd.DataFrame({
                "query": pd.Series(out_q, dtype="object"),
                "doc_id": pd.Series(out_d, dtype="int64"),
                "score": pd.Series(out_s, dtype="float64"),
            })

    return kernel


class PackedQueryEngine:
    """BM25 top-k, and the heuristic parity modes, over postings_packed."""

    MAX_PREFIX_EXPANSIONS = 32

    def __init__(self, spark: SparkSession, packed: DataFrame, doclens: DataFrame,
                 docmeta: DataFrame, n_docs: int, avgdl: float, num_shards: int,
                 mwidth: int, tombstones: DataFrame | None = None,
                 df_delta=None):
        self.spark = spark
        self.packed = packed
        self.doclens = doclens
        self.docmeta = docmeta
        self.n_docs = int(n_docs)
        self.avgdl = float(avgdl)
        self.num_shards = int(num_shards)
        self.mwidth = mwidth  # the merged bucket width doclens is cut by
        # (bucket, tombs) / (bucket, allow) doc-id rows that reach the
        # kernels as per-bucket sorted arrays (_bucket_rows): deleted docs,
        # and on a site-scoped clone (_site_scoped) the docs the site allows
        self.tombstones = tombstones
        self.allow: DataFrame | None = None
        # the signed df corrections of appends and deletes
        # (sources/catalog.DfDelta, None on a base index): each query's
        # keys' share rides to the kernels (_delta_of), which add it to
        # the df of the packed rows they decode
        self.df_delta = df_delta

    @classmethod
    def from_catalog(cls, cat) -> "PackedQueryEngine":
        """An engine over the warehouse's query view (catalog.query_view):
        the packed generations, their df corrections and the tombstones
        are resolved here, once, so no query plan joins a patch table.
        index_stats already holds the live corpus's n_docs and avgdl."""
        stats = cat.read("index_stats").collect()[0]
        view = cat.query_view()
        return cls(
            cat.spark,
            view.packed,
            cat.read("doclens"),
            cat.read("docmeta"),
            stats["n_docs"],
            stats["avgdl"],
            num_shards=int(cat.get_prop("num_shards", 32)),
            # the "bucket_width" prop IS the merged width build_doclens
            # bucketed by (pack_and_merge persists it)
            mwidth=int(cat.get_prop("bucket_width")),
            tombstones=view.tombstones,
            df_delta=view.df_delta,
        )

    def _delta_of(self, keys):
        """The df corrections of ``keys`` the kernels apply, or None."""
        return (self.df_delta.restrict(keys)
                if self.df_delta is not None else None)

    def _empty(self) -> DataFrame:
        return _local_frame(self.spark, _RESULT_FIELDS)

    def _prefix_rows(self, prefixes: list[str]) -> DataFrame | None:
        """The (term, bucket, df) dictionary rows inside the prefixes' term
        ranges ``p <= term < succ(p)`` — a filter the packed parquet scan
        pushes down, so term-sorted row groups skip on the term column's
        min/max (the Spark analogue of the reference dictionary's ordered-scan
        range lookup, SURVEY §2 A4).  One row per (term, bucket); None when
        no prefix can match (title '@' keys never match a word prefix)."""
        ranges = []
        for p in prefixes:
            if p.startswith("@"):
                continue
            succ = _successor(p)
            ranges.append(F.col("term") >= p if succ is None
                          else (F.col("term") >= p) & (F.col("term") < succ))
        if not ranges:
            return None
        return self.packed.filter(
            functools.reduce(operator.or_, ranges)
        ).select("term", "bucket", "df")

    def _prefix_table(self, prefixes: list[str]) -> dict[str, list[str]]:
        """ONE range-pruned Spark job (_prefix_rows): for every prefix, the
        top-MAX_PREFIX_EXPANSIONS matching dictionary terms by global df
        (term-asc tiebreak) — Lucene's MultiTermQuery rewrite cap, so a
        1-character prefix can never explode into a vocabulary-sized OR.
        The cut happens on the driver over the collected range rows, each
        df corrected by the engine's df_delta first: no join, window or
        shuffle.  A term whose every doc is deleted (df 0) is not in the
        dictionary."""
        cap = self.MAX_PREFIX_EXPANSIONS
        scan = self._prefix_rows(prefixes)
        dfs: dict[str, dict[str, int]] = {}
        for r in scan.collect() if scan is not None else []:
            df = r["df"] + (_bucket_df_delta(r, self.df_delta) or {}).get(
                r["term"], 0)
            if df <= 0:
                continue
            for p in prefixes:
                if r["term"].startswith(p):
                    dfs.setdefault(p, {})[r["term"]] = df
        return {
            p: [t for t, _ in sorted(seen.items(),
                                     key=lambda kv: (-kv[1], kv[0]))[:cap]]
            for p, seen in dfs.items()
        }

    def _expand_prefixes(self, items: list[tuple[str, Expr]]
                         ) -> list[tuple[str, Expr]]:
        """``items`` — (query, tree) pairs — with every Prefix leaf
        expanded against the index dictionary: ONE _prefix_table job over
        all the items' prefixes, and no job when they have none.  A tree
        the expansion leaves empty drops out (defined-empty result)."""
        pref: set[str] = set()
        for _, ast in items:
            _collect_prefixes(ast, pref)
        if not pref:
            return items
        table = self._prefix_table(sorted(pref))
        return [(q, ast2) for q, ast in items
                for ast2 in (_substitute_prefixes(ast, table),)
                if ast2 is not None]

    def _bucket_rows(self, keys: list[str], cols: list[str],
                     outer: bool = False) -> DataFrame:
        """The bucket-row plan every kernel reads: one self-contained row
        per doc bucket — (bucket, trows, start, dls[, tombs][, allow]) —
        built with ONE shuffle on ``bucket``.

        The shard-pruned packed rows of ``keys`` (projected to ``cols``),
        the doclens rows and, when the engine has them, the deleted and
        the site-allowed doc ids are unioned and grouped by bucket in a
        single hash exchange, so reading them costs the exchange's map
        stage and the kernel's stage — two Spark jobs under AQE — and no
        other job.  Partial aggregation before the exchange ships each
        packed row once and each bucket's ``dls`` once.  AQE
        coalesces the small post-shuffle partitions: a serving-sized index
        runs its kernel in one or a few tasks (each Python task has a fixed
        cost), while a large one keeps about one partition per core
        (``coalescePartitions.parallelismFirst``).

        Buckets holding none of the keys drop out unless ``outer`` (NOT
        complements need every bucket).  The rows are unscoped: kernels of
        a site-scoped clone read them through _in_scope."""
        from search_engine_spark.functions.hashing import term_shard

        # the key filter AND the shard filter (computed driver-side with the
        # Spark-parity xxh64, functions/hashing.py) together give true
        # partition pruning: only the |q| shard directories are
        # listed/scanned, the Spark analogue of the reference's per-term
        # dictionary lookup (HashBlob.h:289-301)
        shards = sorted({term_shard(key, self.num_shards) for key in keys})
        parts = [
            self.packed.filter(
                F.col("shard").isin(shards) & F.col("term").isin(keys)
            ).select("bucket", F.struct(*cols).alias("trow")),
            self.doclens,
        ]
        aggs = [
            F.collect_list("trow").alias("trows"),
            F.first("start", ignorenulls=True).alias("start"),
            F.first("dls", ignorenulls=True).alias("dls"),
        ]
        for name, side in (("tombs", self.tombstones), ("allow", self.allow)):
            if side is not None:
                parts.append(side)
                aggs.append(F.sort_array(F.collect_list(name)).alias(name))
        keep = F.col("dls").isNotNull()
        if not outer:
            keep = keep & (F.size("trows") > 0)
        return (
            functools.reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
            )
            .groupBy("bucket")
            .agg(*aggs)
            .filter(keep)
        )

    def _in_scope(self, rows: DataFrame) -> DataFrame:
        """The bucket rows a (site-scoped) engine's kernels score: on a
        site-scoped clone, only buckets holding allowed docs."""
        if self.allow is None:
            return rows
        return rows.filter(F.size("allow") > 0)

    def _candidates(self, items: list[tuple[str, Expr]],
                    k: int | None) -> DataFrame | None:
        """The query planner: (query, doc_id, score) candidate rows of the
        compiled (query, tree) ``items`` — every bucket's exact top-k per
        query, still to be ranked per query by the caller — or None when
        no tree is left to evaluate.  ``search`` runs as a batch of one.

        In order: the prefix expansion (_expand_prefixes, one job over
        the whole batch), the route split, ONE bucket-row read
        (_bucket_rows) over every item's keys, then one flat-kernel pass
        (_flat_kernel: block-max WAND for a lone flat query, the dense
        shared-weight kernels for more) and one general-kernel pass
        (packed_exec.batch_general_candidates, with its one phrase-df
        subplan) for every other tree.  Both kernels read the same bucket
        rows, so the batch shuffles the packed rows once.  ``k=None``
        sends every tree to the general kernel, uncut: the exhaustive
        match set the static parity mode re-ranks."""
        from search_engine_spark.plans import packed_exec

        flat: list[tuple[str, str, list[str]]] = []  # (query, mode, stems)
        general: list[tuple[str, Expr]] = []
        for q, ast in self._expand_prefixes(items):
            r = route(ast) if k is not None else None
            if r is None:
                general.append((q, ast))
            else:
                flat.append((q, *r))
        if not flat and not general:
            return None
        flat_keys = {key for _, _, stems in flat for s in stems
                     for key in (s, "@" + s)}
        keys = sorted(flat_keys.union(*(collect_keys(a) for _, a in general)))
        df_delta = self._delta_of(keys)
        need_pos = any(packed_exec.has_phrase(a) for _, a in general)
        rows = self._bucket_rows(
            keys,
            _SCORE_COLS + (_BLOCK_COLS if len(flat) == 1 else [])
            + (["pos"] if need_pos else []),
            outer=any(packed_exec.zero_match(a) for _, a in general),
        )
        parts: list[DataFrame] = []
        if flat:
            parts.append(self._in_scope(rows).mapInPandas(
                _flat_kernel(flat, k, self.n_docs, self.avgdl, df_delta),
                schema="query string, doc_id long, score double",
            ))
        if general:
            parts.append(
                packed_exec.batch_general_candidates(self, general, k, rows,
                                                     df_delta))
        return functools.reduce(DataFrame.unionByName, parts)

    def search_batch(self, queries: list[str], k: int = 10,
                     synonyms: bool = False) -> DataFrame:
        """Evaluate MANY queries with O(1) Spark jobs → (query, doc_id,
        score, rank ≤ k).

        This is the throughput shape for offline/batch retrieval at
        cluster scale: the planner's (_candidates) one bucket-row plan
        over the union of the queries' keys and one pass per kernel, then
        a per-query windowed top-k.  The batch is total, nothing is
        silently dropped; an empty or stopword-only query has a
        defined-empty result.  A repeated query string is one query (its
        candidates would otherwise rank twice under one key)."""
        from pyspark.sql import Window

        cand = self._candidates(
            [(q, ast) for q in dict.fromkeys(queries)
             for ast in (compile_query(q, synonyms=synonyms),)
             if ast is not None],
            k,
        )
        if cand is None:
            return _local_frame(self.spark, _BATCH_FIELDS)
        w = Window.partitionBy("query").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query", "doc_id", "score", "rank")
        )

    def _with_meta(self, top: list) -> DataFrame:
        """The ranked winners ``top`` (rows with doc_id, score) with their
        url and title, as a driver-local relation.  ONE Spark job: a
        ``doc_id IN (k ids)`` docmeta lookup, pushed to the parquet scan
        (no broadcast, no shuffle, no sort — the winners are already in
        rank order).  A winner without a docmeta row drops out, as under
        a join."""
        ids = [r["doc_id"] for r in top]
        meta = ({m["doc_id"]: m for m in self._meta_lookup(ids).collect()}
                if ids else {})
        hits = [r for r in top if r["doc_id"] in meta]
        return _local_frame(self.spark, _RESULT_FIELDS, {
            "doc_id": [r["doc_id"] for r in hits],
            "score": [r["score"] for r in hits],
            "url": [meta[r["doc_id"]]["url"] for r in hits],
            "title": [meta[r["doc_id"]]["title"] for r in hits],
        })

    def _meta_lookup(self, ids: list[int]) -> DataFrame:
        """(doc_id, url, title) docmeta rows of ``ids``."""
        return (self.docmeta.filter(F.col("doc_id").isin(ids))
                .select("doc_id", "url", "title"))

    def _site_scoped(self, site: str) -> "PackedQueryEngine":
        """A shallow clone whose bucket rows carry per-bucket ALLOW arrays
        (doc ids whose url contains ``site``) — the Lucene-filter
        semantics: scores stay the full-corpus BM25 (df/n_docs/avgdl
        unchanged), candidates are restricted to the site BEFORE every
        per-bucket top-k cut, so the filtered top-k is exact.

        Scale shape: the allow rows are one filtered docmeta projection (at
        10^12 docs a pruned scan of the url-indexed meta) riding the same
        bucket shuffle as the postings; buckets with no matching docs drop
        out of the scored rows (_in_scope) — bucket pruning for free — but
        still count toward corpus-level phrase dfs.  Composes with
        tombstones (a deleted doc stays dead inside a site filter)."""
        import copy

        clone = copy.copy(self)
        clone.allow = bucketed(
            self.docmeta.filter(F.col("url").contains(site)), self.mwidth,
            "allow",
        )
        return clone

    def search(self, query: str, k: int = 10, synonyms: bool = False,
               static_mode: bool = False,
               dynamic_mode: bool = False,
               site: str | None = None) -> DataFrame:
        """Top-k (doc_id, score, url, title), best first (score DESC,
        doc_id ASC).

        The BM25 path is the planner (_candidates) on a batch of one: it
        runs its Spark jobs here and returns a driver-local relation, so
        collecting the result launches none.  Per query: an optional
        prefix lookup (_prefix_table), the bucket-row shuffle and the
        kernel's top-k, plus the phrase-df subplan when the tree has
        phrases, then the docmeta lookup (_with_meta); an empty or
        stopword-only query launches no job at all."""
        if site is not None:
            if static_mode or dynamic_mode:
                raise ValueError("site filter + parity modes unsupported")
            return self._site_scoped(site).search(
                query, k=k, synonyms=synonyms
            )
        ast = compile_query(query, synonyms=synonyms)
        if ast is None:
            return self._empty()
        if static_mode or dynamic_mode:
            return self._parity_topk(query, ast, k, dynamic_mode)
        cand = self._candidates([(query, ast)], k)
        if cand is None:
            return self._empty()
        return self._with_meta(cand.orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(k).collect())

    def _parity_topk(self, query: str, ast: Expr, k: int,
                     dynamic: bool) -> DataFrame:
        """Heuristic-parity top-k (SURVEY §2.7 R2-R7) over the general
        kernel's exhaustive match set — the parity scores are not BM25,
        so no WAND bound or per-bucket cut applies.  Static mode keeps the
        matches whose reference static score passes STATIC_THRESHOLD and
        mixes it into their BM25 score; dynamic mode scores them by span
        features over their decoded positions and flags
        (packed_exec.dynamic_scores).  The docmeta side carries the
        static score either way."""
        from search_engine_spark.plans import packed_exec
        from search_engine_spark.plans import static_score as S

        items = self._expand_prefixes([(query, ast)])
        if not items:
            return self._empty()
        ast = items[0][1]
        meta = self.docmeta.withColumn(
            "_static",
            S.static_score_col(S.is_utility_query(ordered_stems(ast))))
        if dynamic:
            ranked = packed_exec.dynamic_scores(self, ast, meta)
        else:
            ranked = (
                self._candidates(items, None)
                .join(meta, "doc_id")
                .filter(F.col("_static") >= S.STATIC_THRESHOLD)
                .select(
                    "doc_id",
                    (F.col("score") * (1.0 - S.STATIC_MIX)
                     + F.col("_static") * S.STATIC_MIX).alias("score"),
                    "url", "title",
                )
            )
        top = ranked.orderBy(F.col("score").desc(),
                             F.col("doc_id").asc()).limit(k).collect()
        return _local_frame(self.spark, _RESULT_FIELDS,
                            {c: [r[c] for r in top] for c in _RESULT_FIELDS})
