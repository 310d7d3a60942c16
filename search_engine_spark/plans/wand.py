"""Block-max WAND top-k over the packed physical index (SURVEY.md §7.1 M4).

The packed layout (operators/merge.py) buckets every term's posting list by
doc-id range, so query-time top-k distributes the way the reference's
per-chunk ISR trees + k-way merge did (csolver.cpp:135-152): each bucket is
an independent, exact top-k; the global merge is Spark's
TakeOrderedAndProject.

Every kernel — flat WAND here, the dense batch kernel, the general kernel
of plans/packed_exec.py — reads the same bucket-row plan (_bucket_rows):
the query keys' shard-pruned packed rows, the doclens rows and any
tombstone / site-allow rows reach the kernel through ONE shuffle on
``bucket``.  A served query then costs a fixed handful of Spark jobs: the
shuffle's map stage and the kernel + top-k stage (AQE runs each as a job),
one ``doc_id IN (k ids)`` docmeta lookup for url and title (_with_meta),
plus one range-pruned dictionary job for prefix queries (_prefix_table)
and a phrase-df aggregate for phrase queries.  The answer comes back as a
driver-local relation.

Within a bucket the kernel is a *vectorized*
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

Anything outside flat AND/OR word queries — phrases (positions decoded
from the packed ``pos`` column), NOT (bucket-local complements), synonym
trees (weighted OR folds) — runs on the packed GENERAL kernel
(plans/packed_exec.py): same bucket rows, exhaustive within the bucket;
``search`` runs such a tree as a batch of one.  Only the heuristic parity
modes (static/dynamic) and pre-``pos`` v2 warehouses fall back to the
logical-postings executor (plans/executor.py).
"""

from __future__ import annotations

import functools
import operator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.plans import bm25
from search_engine_spark.plans.query_ast import (
    And, Expr, Not, Or, OrSyn, Prefix, Word, compile_query,
)


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


def _mask_tombs(ids: np.ndarray, tfs: np.ndarray, tombs: np.ndarray | None,
                allow: np.ndarray | None = None):
    """Drop tombstoned (and, when site-scoped, disallowed) docs from one
    decoded posting.  Masking decoded arrays is exactly 'the doc was never
    indexed' for scoring: block_last boundaries are doc-id VALUES consumed
    via searchsorted (still aligned after removal) and block_maxw stays a
    valid upper bound when docs are removed — WAND pruning remains
    lossless, merely a little looser until the next compaction physically
    drops the postings.  Filtering INSIDE the kernel, before the
    per-bucket top-k cut, is what keeps a filtered top-k exact (a
    post-cut filter could starve a bucket whose winners were filtered)."""
    if ids.size == 0:
        return ids, tfs
    if tombs is not None:
        keep = ~np.isin(ids, tombs)
        if not keep.all():
            ids, tfs = ids[keep], tfs[keep]
    if allow is not None and ids.size:
        keep = np.isin(ids, allow)
        if not keep.all():
            ids, tfs = ids[keep], tfs[keep]
    return ids, tfs


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
            avgdl: float, k1: float = bm25.K1, b: float = bm25.B):
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
            w = _weights(t["tfs"][lo:hi], dls[ids - start], avgdl, k1, b)
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
             start: int, k: int, avgdl: float,
             k1: float = bm25.K1, b: float = bm25.B):
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
        scores[present] += t["idf"] * _weights(tf, dls[ids - start], avgdl, k1, b)
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
    """('and'|'or', stems) for flat word-only trees, else None (fallback)."""
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
_WAND_COLS = _SCORE_COLS + ["block_last", "block_maxw"]
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


class PackedQueryEngine:
    """BM25 top-k over postings_packed; falls back to the exhaustive
    executor only for the heuristic parity modes and pre-``pos``
    warehouses."""

    MAX_PREFIX_EXPANSIONS = 32

    def __init__(self, spark: SparkSession, packed: DataFrame, doclens: DataFrame,
                 docmeta: DataFrame, n_docs: int, avgdl: float, num_shards: int,
                 fallback=None, k1: float = bm25.K1, b: float = bm25.B,
                 mwidth: int | None = None,
                 tombstones: DataFrame | None = None):
        self.spark = spark
        self.packed = packed
        self.doclens = doclens
        self.docmeta = docmeta
        self.n_docs = int(n_docs)
        self.avgdl = float(avgdl)
        self.num_shards = int(num_shards)
        self.k1, self.b = k1, b
        self.fallback = fallback
        self.mwidth = mwidth  # merged bucket width; enables site scoping
        # (bucket, tombs) / (bucket, allow) doc-id rows that reach the
        # kernels as per-bucket sorted arrays (_bucket_rows): deleted docs,
        # and on a site-scoped clone (_site_scoped) the docs the site allows
        self.tombstones = tombstones
        self.allow: DataFrame | None = None

    @classmethod
    def from_catalog(cls, cat) -> "PackedQueryEngine":
        from search_engine_spark.plans.executor import QueryEngine

        stats = cat.read("index_stats").collect()[0]
        packed = cat.read("postings_packed")
        mwidth = cat.get_prop("bucket_width")
        mwidth = int(mwidth) if mwidth is not None else None
        tombstones = None
        if cat.exists("tombstones"):
            # delete support (operators/pipeline.run_delete): postings of
            # tombstoned docs are masked inside the kernels, df is patched
            # down per term, and index_stats was already recomputed over
            # survivors at delete time.  The patch is delta-proportional
            # between compactions, hence broadcastable.
            if cat.exists("df_patch_deletes"):
                patch = (
                    cat.read("df_patch_deletes")
                    .groupBy("term")
                    .agg(F.sum("df_sub").alias("_dfsub"))
                )
                packed = (
                    packed.join(F.broadcast(patch), "term", "left")
                    .withColumn(
                        "df",
                        (F.col("df")
                         - F.coalesce(F.col("_dfsub"), F.lit(0)))
                        .cast("long"),
                    )
                    .drop("_dfsub")
                )
            # the "bucket_width" prop IS the merged width build_doclens
            # bucketed by (pack_and_merge persists it)
            tombstones = cls._bucketed(cat.read("tombstones"), mwidth,
                                       "tombs")
        return cls(
            cat.spark,
            packed,
            cat.read("doclens"),
            cat.read("docmeta"),
            stats["n_docs"],
            stats["avgdl"],
            num_shards=int(cat.get_prop("num_shards", 32)),
            fallback=QueryEngine.from_catalog(cat, stats),
            mwidth=mwidth,
            tombstones=tombstones,
        )

    @staticmethod
    def _bucketed(docs: DataFrame, mwidth: int, name: str) -> DataFrame:
        """(bucket, ``name`` = doc_id) rows of ``docs`` on the merged bucket
        grid."""
        return docs.select(
            (F.col("doc_id") / F.lit(mwidth)).cast("int").alias("bucket"),
            F.col("doc_id").alias(name),
        )

    def _empty(self) -> DataFrame:
        return _local_frame(self.spark, _RESULT_FIELDS)

    def _prefix_rows(self, prefixes: list[str]) -> DataFrame | None:
        """The (term, df) dictionary rows inside the prefixes' term ranges
        ``p <= term < succ(p)`` — a filter the packed parquet scan pushes
        down, so term-sorted row groups skip on the term column's min/max
        (the Spark analogue of the reference dictionary's ordered-scan
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
        ).select("term", "df")

    def _prefix_table(self, prefixes: list[str],
                      max_expansions: int | None = None
                      ) -> dict[str, list[str]]:
        """ONE range-pruned Spark job (_prefix_rows): for every prefix, the
        top-``max_expansions`` matching dictionary terms by global df
        (term-asc tiebreak) — Lucene's MultiTermQuery rewrite cap, so a
        1-character prefix can never explode into a vocabulary-sized OR.
        The cut happens on the driver over the collected range rows: no
        join, window or shuffle."""
        cap = max_expansions or self.MAX_PREFIX_EXPANSIONS
        scan = self._prefix_rows(prefixes)
        dfs: dict[str, dict[str, int]] = {}
        for r in scan.collect() if scan is not None else []:
            for p in prefixes:
                if r["term"].startswith(p):
                    seen = dfs.setdefault(p, {})
                    seen[r["term"]] = max(seen.get(r["term"], 0), r["df"])
        return {
            p: [t for t, _ in sorted(seen.items(),
                                     key=lambda kv: (-kv[1], kv[0]))[:cap]]
            for p, seen in dfs.items()
        }

    def _rewrite_prefixes(self, ast: Expr | None,
                          max_expansions: int | None = None) -> Expr | None:
        """Expand every Prefix leaf against the index dictionary; a no-op
        (and no Spark job) when the tree has none."""
        acc: set[str] = set()
        _collect_prefixes(ast, acc)
        if not acc:
            return ast
        return _substitute_prefixes(
            ast, self._prefix_table(sorted(acc), max_expansions)
        )

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

    def search_batch(self, queries: list[str], k: int = 10,
                     synonyms: bool = False) -> DataFrame:
        """Evaluate MANY queries with O(1) Spark jobs → (query, doc_id,
        score, rank ≤ k).

        This is the throughput shape for offline/batch retrieval at
        cluster scale: one bucket-row plan (_bucket_rows) over the union
        of the queries' keys, one kernel task per group of doc buckets
        evaluating every query against the buckets' decoded postings, then
        a per-query windowed top-k.  Flat AND/OR queries share the dense
        kernel, and ALL non-flat queries (phrases/NOT/synonyms) share ONE
        general-kernel pass (packed_exec.batch_general_candidates — with
        its one phrase-df subplan); both read the same bucket rows, so the
        batch shuffles the packed rows once.  Only pre-``pos``-warehouse
        phrase queries fall back to the logical executor per query.  The
        batch is total, nothing is silently dropped.
        """
        from search_engine_spark.plans import packed_exec
        from search_engine_spark.plans.executor import _collect_keys

        asts: list[tuple[str, Expr]] = []
        for q in queries:
            ast = compile_query(q, synonyms=synonyms)
            if ast is None:
                continue  # empty/stopword-only query: defined-empty result
            asts.append((q, ast))
        # prefix (trailing-wildcard) leaves: ONE shared dictionary-lookup
        # job expands every prefix in the whole batch, keeping the O(1)
        # jobs-per-batch contract
        pref: set[str] = set()
        for _, a in asts:
            _collect_prefixes(a, pref)
        if pref:
            table = self._prefix_table(sorted(pref))
            asts = [
                (q, a2)
                for q, a in asts
                for a2 in (_substitute_prefixes(a, table),)
                if a2 is not None
            ]
        plans: list[tuple[str, str, list[str]]] = []  # (query, mode, stems)
        nonflat: list[tuple[str, Expr]] = []
        for q, ast in asts:
            r = route(ast)
            if r is not None:
                plans.append((q, r[0], r[1]))
            else:
                nonflat.append((q, ast))
        general = [(q, ast) for q, ast in nonflat if self._can_general(ast)]
        unservable = [(q, ast) for q, ast in nonflat
                      if not self._can_general(ast)]
        if unservable and self.fallback is None:
            raise ValueError(
                f"phrase queries {[q for q, _ in unservable]!r} need packed "
                f"positions or the fallback engine"
            )
        if not plans and not nonflat:
            return _local_frame(self.spark, _BATCH_FIELDS)

        from collections import Counter

        flat_keys = {
            key for _, _, stems in plans for s in stems for key in (s, "@" + s)
        }
        parts: list[DataFrame] = []
        if plans or general:
            need_pos = any(packed_exec._tree_has_phrase_anywhere(a)
                           for _, a in general)
            rows = self._bucket_rows(
                sorted(flat_keys.union(*(_collect_keys(a)
                                         for _, a in general))),
                _SCORE_COLS + (["pos"] if need_pos else []),
                outer=any(packed_exec.zero_match(a) for _, a in general),
            )

        n_docs = self.n_docs
        avgdl, k1, b, kk = self.avgdl, self.k1, self.b, k
        plans_ = plans

        def kernel(batches):
            from search_engine_spark.operators import codec

            for pdf in batches:
                out_q, out_d, out_s = [], [], []
                for brow in pdf.itertuples(index=False):
                    start = int(brow.start)
                    dls = np.asarray(brow.dls, dtype=np.float64)
                    width = dls.size
                    tombs = _bucket_tombs(brow)
                    allow = _bucket_allow(brow)
                    decoded: dict[str, dict] = {}
                    for r in brow.trows:
                        if r["term"] not in flat_keys:
                            continue  # a key only the general kernel reads
                        ids = codec.decode_docids(bytes(r["doc_ids"]))
                        tfs = codec.decode_tfs(bytes(r["tfs"]))
                        ids, tfs = _mask_tombs(ids, tfs, tombs, allow)
                        decoded[r["term"]] = {
                            "ids": ids,
                            # idf-free weights computed ONCE per (term,
                            # bucket) and SHARED by every query in the
                            # batch — this amortization is what makes the
                            # one-job batch path beat per-query WAND
                            "w": _weights(tfs, dls[ids - start], avgdl, k1, b),
                            # every packed row carries the term's GLOBAL df
                            "base_idf": bm25.idf(int(r["df"]), n_docs),
                        }
                    for q, mode, stems in plans_:
                        mult = Counter(stems)
                        uniq = list(dict.fromkeys(stems))
                        by_key = {}
                        for s in uniq:
                            for key in (s, "@" + s):
                                if key in decoded:
                                    by_key[key] = {
                                        **decoded[key],
                                        "idf": decoded[key]["base_idf"] * mult[s],
                                    }
                        if mode == "and":
                            if any(
                                s not in by_key and ("@" + s) not in by_key
                                for s in uniq
                            ):
                                continue
                            ids, scores = topk_and_dense(uniq, by_key, start,
                                                         width, kk)
                        else:
                            terms = [by_key[key] for key in sorted(by_key)]
                            ids, scores = topk_or_dense(terms, start, width, kk)
                        out_q.extend([q] * len(ids))
                        out_d.extend(ids.tolist())
                        out_s.extend(scores.tolist())
                yield pd.DataFrame(
                    {"query": out_q, "doc_id": out_d, "score": out_s}
                )

        from pyspark.sql import Window

        if plans:
            parts.append(self._in_scope(rows).mapInPandas(
                kernel, schema="query string, doc_id long, score double"
            ))
        # non-flat queries: ONE shared general-kernel pass for every AST
        # the packed path can serve (phrases/NOT/synonyms), over the same
        # bucket rows (one exchange); unioned pre-rank so the whole batch
        # ranks through one window
        if general:
            parts.append(
                packed_exec.batch_general_candidates(self, general, k, rows)
            )
        for q, ast in unservable:
            # pre-pos warehouse phrase query: logical-executor fallback
            parts.append(
                self.fallback.search_ast(ast, k=k)
                .select(F.lit(q).alias("query"), "doc_id", "score")
            )
        candidates = functools.reduce(DataFrame.unionByName, parts)
        w = Window.partitionBy("query").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        return (
            candidates.withColumn("rank", F.row_number().over(w))
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

    def _can_general(self, ast) -> bool:
        """The packed general kernel serves every AST; phrase-bearing trees
        additionally need the ``pos`` column (absent in pre-v3 warehouses,
        where phrases fall back to the logical executor)."""
        from search_engine_spark.plans import packed_exec

        return ("pos" in self.packed.columns
                or not packed_exec._tree_has_phrase_anywhere(ast))

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

        if self.mwidth is None:
            raise ValueError(
                "site-scoped search needs the bucket_width catalog "
                "property (engine not built from_catalog?)"
            )
        clone = copy.copy(self)
        clone.allow = self._bucketed(
            self.docmeta.filter(F.col("url").contains(site)), self.mwidth,
            "allow",
        )
        # the logical fallback would silently IGNORE the filter — better a
        # loud error on the rare pre-pos-warehouse path than wrong results
        clone.fallback = None
        return clone

    def search(self, query: str, k: int = 10, synonyms: bool = False,
               static_mode: bool = False,
               dynamic_mode: bool = False,
               site: str | None = None) -> DataFrame:
        """Top-k (doc_id, score, url, title), best first (score DESC,
        doc_id ASC).

        The BM25 paths run their Spark jobs here and return a driver-local
        relation, so collecting the result launches none.  Per query: an
        optional prefix lookup (_prefix_table), the bucket-row shuffle and
        the kernel's top-k, plus the phrase-df subplan when the tree has
        phrases, then the docmeta lookup (_with_meta); an empty or
        stopword-only query launches no job at all."""
        if site is not None:
            if static_mode or dynamic_mode:
                raise ValueError("site filter + parity modes unsupported")
            return self._site_scoped(site).search(
                query, k=k, synonyms=synonyms
            )
        ast = compile_query(query, synonyms=synonyms)
        ast = self._rewrite_prefixes(ast)
        if static_mode or dynamic_mode:
            # heuristic-parity scoring invalidates the BM25-only WAND
            # bounds → the exhaustive executor is the correct engine
            if self.fallback is None:
                raise ValueError("parity modes require the fallback engine")
            if dynamic_mode:
                return self.fallback.search_ast(ast, k=k, dynamic_mode=True)
            return self.fallback.search_ast(ast, k=k, static_mode=True)
        if ast is None:
            return self._empty()
        if not self._can_general(ast):
            if self.fallback is None:
                raise ValueError(
                    "phrase query on a pre-pos packed warehouse and no "
                    "fallback engine; rebuild the index to get packed "
                    "positions"
                )
            return self.fallback.search_ast(ast, k=k)
        return self._with_meta(self._topk(query, ast, k).collect())

    def _topk(self, query: str, ast: Expr, k: int) -> DataFrame:
        """The top-k plan — rows with doc_id and score — of one compiled
        query: flat trees on the block-max WAND kernels, every other tree
        as a batch of one on the general kernel."""
        r = route(ast)
        if r is None:
            from search_engine_spark.plans import packed_exec

            cand = packed_exec.batch_general_candidates(self, [(query, ast)], k)
        else:
            cand = self._wand_candidates(*r, k)
        return cand.orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(k)

    def _wand_candidates(self, mode: str, stems_all: list[str],
                         k: int) -> DataFrame:
        """(doc_id, score) rows of every bucket's exact top-k for a flat
        AND/OR query, by the block-max WAND kernels."""
        # duplicate stems in the query ('apple | apples' → appl twice) score
        # multiply, matching the exhaustive executor's per-leaf evaluation —
        # fold the multiplicity into the per-key idf scale.
        from collections import Counter

        mult = Counter(stems_all)
        stems = list(dict.fromkeys(stems_all))
        keys = [key for s in stems for key in (s, "@" + s)]

        # no driver-side df collect: every packed row carries its term's
        # GLOBAL df, so idf is computed inside the kernel.  A bucket where
        # an AND-stem is absent emits nothing, which is exactly the
        # conjunctive semantics (all of a doc's postings share its bucket).
        n_docs = self.n_docs
        avgdl, k1, b = self.avgdl, self.k1, self.b
        kk = k
        mode_ = mode
        stems_ = stems
        mult_ = dict(mult)

        def kernel(batches):
            from search_engine_spark.operators import codec

            for pdf in batches:
                all_ids, all_scores = [], []
                for brow in pdf.itertuples(index=False):
                    start = int(brow.start)
                    dls = np.asarray(brow.dls, dtype=np.float64)
                    tombs = _bucket_tombs(brow)
                    allow = _bucket_allow(brow)
                    by_key: dict[str, dict] = {}
                    for r in brow.trows:
                        ids = codec.decode_docids(bytes(r["doc_ids"]))
                        tfs = codec.decode_tfs(bytes(r["tfs"]))
                        ids, tfs = _mask_tombs(ids, tfs, tombs, allow)
                        by_key[r["term"]] = {
                            "ids": ids,
                            "tfs": tfs,
                            "block_last": np.asarray(r["block_last"], dtype=np.int64),
                            "block_maxw": np.asarray(r["block_maxw"], dtype=np.float64),
                            "idf": bm25.idf(int(r["df"]), n_docs)
                            * mult_[r["term"].removeprefix("@")],
                        }
                    if mode_ == "and":
                        ids, scores = topk_and(stems_, by_key, dls, start,
                                               kk, avgdl, k1, b)
                    else:
                        terms = [by_key[key] for key in sorted(by_key)]
                        ids, scores = topk_or(terms, dls, start, kk, avgdl, k1, b)
                    all_ids.append(ids)
                    all_scores.append(scores)
                yield pd.DataFrame({
                    "doc_id": np.concatenate(all_ids) if all_ids
                    else np.empty(0, np.int64),
                    "score": np.concatenate(all_scores) if all_scores
                    else np.empty(0),
                })

        rows = self._in_scope(self._bucket_rows(keys, _WAND_COLS))
        return rows.mapInPandas(kernel, schema="doc_id long, score double")
