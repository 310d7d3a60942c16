"""General AST evaluation over the PACKED index: phrases, NOT, synonyms,
NEAR — every query shape the engine supports — served from the
varbyte/block-header physical layout with shard pruning, plus the
heuristic parity modes' match sets.

How it works (batch_general_candidates — the general-kernel pass of the
engine's one query planner, ``PackedQueryEngine._candidates``, which
``search`` runs as a batch of one):

* Each AST is compiled to a SLOT SPEC.  Maximal phrase-free subtrees
  become *word slots*: the kernel evaluates them to a final float per doc
  (≤2 addends per combine — Word = body + title, And/Or = left + right —
  the same structure as the pure-Python oracle, so scores match it
  bit-for-bit up to libm ulps).  Phrase
  leaves become *ptf slot pairs* (body, '@'-title): their per-doc phrase
  term frequency is bucket-computable, but their BM25 idf needs the GLOBAL
  phrase df — which no single bucket knows.
* The kernel (mapInPandas over the planner's bucket rows — one shuffle
  on ``bucket``, shared with the flat kernel, see plans/wand.py
  _bucket_rows) emits per (query, doc) matching the whole tree the summed
  word-slot score plus sparse (phrase slot, ptf) pairs.
* When phrase slots exist, a count kernel over the same bucket rows (the
  exchange is reused) counts each phrase variant's matches per bucket —
  over ALL docs matching the phrase, not just tree survivors: a phrase
  leaf's df is a corpus statistic, computed before the tree filters.
* Finalization is declarative: global phrase dfs = the summed counts,
  broadcast as one row, and each phrase contribution is the JVM
  expression idf_col(df) * weight_col(ptf, dl).
* dynamic_scores re-ranks a tree's match set by the reference span
  features (plans/dynamic_score.py) over the decoded positions and
  per-occurrence flags.

Membership is fully bucket-local (every posting of a doc lives in the
doc's bucket), which is what makes NOT (complement within the bucket's
doclens range) and phrase adjacency (positions decoded from the packed
``pos`` column) exact without any cross-bucket traffic.

Reference parity: phrases via positions are ISRPhrase (isr.cpp:571-598)
over Posts.hpp:30-46-style position-bearing postings; NOT is the intended
ISRContainer X6 semantics; synonym OR_SYN weights per Ranker.hpp:110.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.plans import bm25
from search_engine_spark.plans.query_ast import (
    And, Expr, Not, Or, OrSyn, Phrase, Word,
)
from search_engine_spark.plans.wand import (
    _bucket_allow, _bucket_df_delta, _bucket_tombs, _decode_rows, _weights,
)


# ---------------------------------------------------------------------------
# spec compilation (driver side)
# ---------------------------------------------------------------------------

def has_phrase(e: Expr) -> bool:
    if isinstance(e, Word):
        return False
    if isinstance(e, Phrase):
        return True
    if isinstance(e, (And, Or)):
        return has_phrase(e.left) or has_phrase(e.right)
    if isinstance(e, Not):
        return has_phrase(e.child)
    if isinstance(e, OrSyn):
        return has_phrase(e.original) or any(has_phrase(s) for s in e.synonyms)
    raise TypeError(type(e))


def zero_match(e: Expr) -> bool:
    """Would a doc with NO postings for any query key match the tree?
    (True ⇒ empty buckets still produce results ⇒ outer-join doclens.)"""
    if isinstance(e, (Word, Phrase)):
        return False
    if isinstance(e, And):
        return zero_match(e.left) and zero_match(e.right)
    if isinstance(e, Or):
        return zero_match(e.left) or zero_match(e.right)
    if isinstance(e, Not):
        return not zero_match(e.child)
    if isinstance(e, OrSyn):
        return zero_match(e.original) or any(zero_match(s) for s in e.synonyms)
    raise TypeError(type(e))


class Spec:
    """Compiled slot spec: the kernel-evaluable structure + finalize shape."""

    def __init__(self, ast: Expr):
        self.wslots: list[Expr] = []       # phrase-free subtrees
        # (stems, deco, win)
        self.pslots: list[tuple[tuple[str, ...], bool, int]] = []
        self.root = self._rec(ast)
        self.zero_match = zero_match(ast)

    def _rec(self, e: Expr):
        if not has_phrase(e):
            self.wslots.append(e)
            return {"op": "w", "i": len(self.wslots) - 1}
        if isinstance(e, Phrase):
            stems = tuple(e.effective_stems)
            win = int(getattr(e, "window", 1))   # Near carries window>1
            self.pslots.append((stems, False, win))
            self.pslots.append((stems, True, win))
            return {"op": "p", "b": len(self.pslots) - 2,
                    "t": len(self.pslots) - 1, "stems": stems, "win": win}
        if isinstance(e, And):
            # Not fast paths: a & -b and -a & b are anti-joins
            if isinstance(e.right, Not):
                return {"op": "andnot", "keep": self._rec(e.left),
                        "drop": e.right.child}
            if isinstance(e.left, Not):
                return {"op": "andnot", "keep": self._rec(e.right),
                        "drop": e.left.child}
            return {"op": "and", "l": self._rec(e.left), "r": self._rec(e.right)}
        if isinstance(e, Or):
            return {"op": "or", "l": self._rec(e.left), "r": self._rec(e.right)}
        if isinstance(e, Not):
            return {"op": "not", "child": e.child}
        # OrSyn around a phrase cannot be produced by optimize() (synonym
        # expansion applies to Word leaves only)
        raise TypeError(f"unsupported phrase-bearing node {type(e)}")


# ---------------------------------------------------------------------------
# per-bucket kernel (executor side, pure numpy)
# ---------------------------------------------------------------------------

class _BucketEval:
    """Evaluates one compiled spec against one decoded bucket."""

    def __init__(self, decoded: dict[str, dict], start: int, width: int,
                 dls: np.ndarray, n_docs: int, avgdl: float,
                 tombs: np.ndarray | None = None,
                 allow: np.ndarray | None = None):
        self.d = decoded
        self.start, self.width, self.dls = start, width, dls
        self.n_docs, self.avgdl = n_docs, avgdl
        self.tombs = tombs  # deleted doc ids; excluded from complements
        self.allow = allow  # site-scoped allow-list; bounds complements
        self._score_cache: dict[str, tuple] = {}
        self._phrase_cache: dict[tuple, tuple] = {}

    # -- leaf scoring ------------------------------------------------------
    def _key_scored(self, key: str):
        c = self._score_cache.get(key)
        if c is None:
            t = self.d.get(key)
            if t is None:
                c = (np.empty(0, np.int64), np.empty(0))
            else:
                w = _weights(t["tfs"], self.dls[t["ids"] - self.start],
                             self.avgdl, bm25.K1, bm25.B)
                c = (t["ids"], bm25.idf(t["df"], self.n_docs) * w)
            self._score_cache[key] = c
        return c

    @staticmethod
    def _or2(l, r):
        """Full-outer sum with 0-coalesce — exactly 2 addends per doc."""
        lids, ls = l
        rids, rs = r
        if lids.size == 0:
            return rids, rs.copy()
        if rids.size == 0:
            return lids, ls.copy()
        ids = np.union1d(lids, rids)
        out = np.zeros(ids.size)
        out[np.searchsorted(ids, lids)] += ls
        out[np.searchsorted(ids, rids)] += rs
        return ids, out

    def seval(self, e: Expr):
        """(ids, scores) for a phrase-free subtree."""
        if isinstance(e, Word):
            return self._or2(self._key_scored(e.stem),
                             self._key_scored("@" + e.stem))
        if isinstance(e, And):
            if isinstance(e.right, Not):
                return self._anti(self.seval(e.left), self.member(e.right.child))
            if isinstance(e.left, Not):
                return self._anti(self.seval(e.right), self.member(e.left.child))
            lids, ls = self.seval(e.left)
            rids, rs = self.seval(e.right)
            ids = np.intersect1d(lids, rids, assume_unique=True)
            return ids, (ls[np.searchsorted(lids, ids)]
                         + rs[np.searchsorted(rids, ids)])
        if isinstance(e, Or):
            return self._or2(self.seval(e.left), self.seval(e.right))
        if isinstance(e, Not):
            ids = self._complement(self.member(e.child))
            return ids, np.zeros(ids.size)
        if isinstance(e, OrSyn):
            acc = self.seval(e.original)
            for syn in e.synonyms:
                sids, ss = self.seval(syn)
                acc = self._or2(acc, (sids, ss * e.weight))
            return acc
        raise TypeError(type(e))

    @staticmethod
    def _anti(base, excl_ids):
        ids, sc = base
        keep = ~np.isin(ids, excl_ids, assume_unique=True)
        return ids[keep], sc[keep]

    def _complement(self, ids: np.ndarray) -> np.ndarray:
        if self.allow is not None:
            # site-scoped: the universe is the bucket's allowed docs
            alln = self.allow
        else:
            alln = np.arange(self.start, self.start + self.width,
                             dtype=np.int64)
        if self.tombs is not None and self.tombs.size:
            # the complement universe is the ALIVE docs of the bucket —
            # a bare NOT must never resurrect a tombstoned doc
            alln = alln[~np.isin(alln, self.tombs)]
        return np.setdiff1d(alln, ids, assume_unique=True)

    # -- membership (ids only; used for Not children) ------------------------
    def member(self, e: Expr) -> np.ndarray:
        if isinstance(e, Word):
            b = self.d.get(e.stem)
            t = self.d.get("@" + e.stem)
            parts = [x["ids"] for x in (b, t) if x is not None]
            if not parts:
                return np.empty(0, np.int64)
            return parts[0] if len(parts) == 1 else np.union1d(*parts)
        if isinstance(e, Phrase):
            stems = tuple(e.effective_stems)
            win = int(getattr(e, "window", 1))
            bids, _ = self.phrase_match(stems, False, win)
            tids, _ = self.phrase_match(stems, True, win)
            return np.union1d(bids, tids)
        if isinstance(e, And):
            if isinstance(e.right, Not):
                l = self.member(e.left)
                return l[~np.isin(l, self.member(e.right.child),
                                  assume_unique=True)]
            if isinstance(e.left, Not):
                r = self.member(e.right)
                return r[~np.isin(r, self.member(e.left.child),
                                  assume_unique=True)]
            return np.intersect1d(self.member(e.left), self.member(e.right),
                                  assume_unique=True)
        if isinstance(e, Or):
            return np.union1d(self.member(e.left), self.member(e.right))
        if isinstance(e, Not):
            return self._complement(self.member(e.child))
        if isinstance(e, OrSyn):
            ids = self.member(e.original)
            for syn in e.synonyms:
                ids = np.union1d(ids, self.member(syn))
            return ids
        raise TypeError(type(e))

    # -- phrase adjacency over packed positions ------------------------------
    def phrase_match(self, stems: tuple[str, ...], decorated: bool,
                     window: int = 1):
        """(ids, ptf): docs containing the stems at consecutive positions
        (window=1, the Phrase/X7 case) or as an ordered chain with each
        next stem within ``window`` positions of the previous (Near), over
        the decoded position streams, fully vectorized.  ptf counts chain STARTS (distinct
        first-stem positions that can begin a valid chain)."""
        ck = (stems, decorated, window)
        hit = self._phrase_cache.get(ck)
        if hit is not None:
            return hit
        keys = [("@" + s if decorated else s) for s in stems]
        terms = [self.d.get(k) for k in keys]
        empty = (np.empty(0, np.int64), np.empty(0, np.int64))
        if any(t is None or "flatpos" not in t for t in terms):
            self._phrase_cache[ck] = empty
            return empty
        cand = terms[0]["ids"]
        for t in terms[1:]:
            cand = np.intersect1d(cand, t["ids"], assume_unique=True)
            if cand.size == 0:
                self._phrase_cache[ck] = empty
                return empty

        def cand_pos_keys(t, shift: int) -> np.ndarray:
            """compact-doc-index·2³² + (position − shift) for the candidate
            docs' occurrences — doc-grouped, position-sorted ⇒ sorted.
            Arithmetic (not bitwise OR) so a shifted position ≤ 0 at a doc
            start stays a valid non-matching key (start keys are ≥ 1)."""
            sel = np.searchsorted(t["ids"], cand)
            lens = t["tfs"][sel]
            starts = t["offs"][sel]
            total = int(lens.sum())
            seg_off = np.zeros(cand.size, dtype=np.int64)
            np.cumsum(lens[:-1], out=seg_off[1:])
            gather = np.repeat(starts - seg_off, lens) + np.arange(total)
            pos = t["flatpos"][gather].astype(np.int64) - shift
            cidx = np.repeat(np.arange(cand.size, dtype=np.int64), lens)
            return cidx * np.int64(2**32) + pos

        if window == 1:
            surv = cand_pos_keys(terms[0], 0)
            for i, t in enumerate(terms[1:], start=1):
                surv = np.intersect1d(surv, cand_pos_keys(t, i),
                                      assume_unique=True)
                if surv.size == 0:
                    self._phrase_cache[ck] = empty
                    return empty
        else:
            # ordered-window chain, evaluated BACKWARD: S holds the keys of
            # stem i+1 positions that can complete a chain; a stem-i key K
            # survives iff S has an entry in (K, K+window].  Keys are
            # doc-partitioned by the 2^32 stride, and window << 2^32, so a
            # range probe never crosses a doc boundary.  Two searchsorted
            # calls per stem — same O(n log n) as the intersect path.
            surv = cand_pos_keys(terms[-1], 0)
            for t in reversed(terms[:-1]):
                keys = cand_pos_keys(t, 0)
                lo = np.searchsorted(surv, keys, side="right")
                hi = np.searchsorted(surv, keys + np.int64(window),
                                     side="right")
                surv = keys[hi > lo]
                if surv.size == 0:
                    self._phrase_cache[ck] = empty
                    return empty
        ptf_all = np.bincount((surv >> np.int64(32)).astype(np.int64),
                              minlength=cand.size)
        m = ptf_all > 0
        hit = (cand[m], ptf_all[m].astype(np.int64))
        self._phrase_cache[ck] = hit
        return hit

    # -- slot-spec evaluation -------------------------------------------------
    def keval(self, spec, n_w: int, n_p: int):
        """(ids, wmat (n×n_w), pmat (n×n_p)) for tree-surviving docs."""
        op = spec["op"]
        if op == "w":
            ids, sc = self.seval_slot(spec["i"])
            wmat = np.zeros((ids.size, n_w))
            wmat[:, spec["i"]] = sc
            return ids, wmat, np.zeros((ids.size, n_p), np.int64)
        if op == "p":
            stems = spec["stems"]
            win = spec.get("win", 1)
            bids, bptf = self.phrase_match(stems, False, win)
            tids, tptf = self.phrase_match(stems, True, win)
            ids = np.union1d(bids, tids)
            pmat = np.zeros((ids.size, n_p), np.int64)
            pmat[np.searchsorted(ids, bids), spec["b"]] = bptf
            pmat[np.searchsorted(ids, tids), spec["t"]] = tptf
            return ids, np.zeros((ids.size, n_w)), pmat
        if op == "andnot":
            ids, wmat, pmat = self.keval(spec["keep"], n_w, n_p)
            keep = ~np.isin(ids, self.member(spec["drop"]), assume_unique=True)
            return ids[keep], wmat[keep], pmat[keep]
        if op == "and":
            li, lw, lp = self.keval(spec["l"], n_w, n_p)
            ri, rw, rp = self.keval(spec["r"], n_w, n_p)
            ids = np.intersect1d(li, ri, assume_unique=True)
            ls = np.searchsorted(li, ids)
            rs = np.searchsorted(ri, ids)
            return ids, lw[ls] + rw[rs], lp[ls] + rp[rs]
        if op == "or":
            li, lw, lp = self.keval(spec["l"], n_w, n_p)
            ri, rw, rp = self.keval(spec["r"], n_w, n_p)
            ids = np.union1d(li, ri)
            wmat = np.zeros((ids.size, n_w))
            pmat = np.zeros((ids.size, n_p), np.int64)
            ls = np.searchsorted(ids, li)
            rs = np.searchsorted(ids, ri)
            wmat[ls] += lw
            pmat[ls] += lp
            wmat[rs] += rw
            pmat[rs] += rp
            return ids, wmat, pmat
        if op == "not":
            ids = self._complement(self.member(spec["child"]))
            return (ids, np.zeros((ids.size, n_w)),
                    np.zeros((ids.size, n_p), np.int64))
        raise ValueError(op)

    def seval_slot(self, i: int):
        raise NotImplementedError  # bound by the kernel wrapper


# ---------------------------------------------------------------------------
# Spark plan assembly (driver side)
# ---------------------------------------------------------------------------

def batch_general_candidates(engine, items: list[tuple[str, "Expr"]],
                             k: int | None, rows: DataFrame,
                             df_delta=None) -> DataFrame:
    """(query, doc_id, score) candidate rows for MANY arbitrary ASTs —
    phrases, NOT, synonyms, mixed — in ONE kernel pass over the packed
    index, the general-AST twin of the planner's flat kernel (plans/wand.py
    _flat_kernel).

    Per bucket the postings are decoded ONCE and one shared _BucketEval
    (term-score + phrase-match caches) serves every query's slot spec, so
    an offline batch of thousands of phrase/NOT queries costs one Spark
    job instead of one job per query (the round-3 driver-side bottleneck;
    reference analogue: csolver serving every query from the same loaded
    chunks, csolver.cpp:123-165).

    Finalization stays declarative and UNIFORM across queries: the kernel
    emits per (query, doc) the summed word-slot score plus SPARSE
    (global-phrase-slot, ptf) pairs; identical (stems, decorated) phrase
    variants across queries share one global df slot, counted by a single
    shared subplan and broadcast as one array column.  Phrase-free trees
    are truncated to the bucket-exact top-k in-kernel (their slot value IS
    the final score), so a bare-NOT query emits k rows per bucket, not the
    bucket's complement; ``k=None`` keeps the whole match set (the parity
    modes re-rank it).

    ``engine`` is a plans.wand.PackedQueryEngine; ``rows`` are the bucket
    rows (_bucket_rows) its planner reads for the whole batch — they hold
    every key of ``items``, with ``pos`` if a tree has a phrase and every
    bucket if a tree matches zero-posting docs; ``df_delta`` holds the
    engine's df corrections of those keys (PackedQueryEngine._delta_of).
    Both the main kernel and the phrase-df subplan read the one shuffle
    (the second read reuses the exchange).

    Rows still need the caller's per-query global rank window — this
    returns candidates, exactly like the flat kernel."""
    specs = [Spec(ast) for _, ast in items]
    need_pos = any(has_phrase(ast) for _, ast in items)

    # global df-slot table: one entry per distinct (stems, decorated)
    # phrase variant across the WHOLE batch; per-query local slot j maps to
    # gdf index gmaps[qi][j]
    gslots: dict[tuple, int] = {}
    gmaps: list[list[int]] = []
    for sp in specs:
        gmaps.append([gslots.setdefault(ps, len(gslots)) for ps in sp.pslots])

    wslots_l = [sp.wslots for sp in specs]
    roots = [sp.root for sp in specs]
    nw_l = [len(sp.wslots) for sp in specs]
    np_l = [len(sp.pslots) for sp in specs]
    zm_l = [sp.zero_match for sp in specs]
    n_docs, avgdl = engine.n_docs, engine.avgdl
    kk = k
    nq = len(items)

    def kernel(batches):
        for pdf in batches:
            o_qi, o_id, o_dl, o_ws, o_pi, o_pt = [], [], [], [], [], []
            for brow in pdf.itertuples(index=False):
                start = int(brow.start)
                dls = np.asarray(brow.dls, dtype=np.float64)
                tombs = _bucket_tombs(brow)
                allow = _bucket_allow(brow)
                decoded = _decode_rows(
                    brow.trows, need_pos, tombs, allow,
                    df_delta=_bucket_df_delta(brow, df_delta))
                ev = _BucketEval(decoded, start, dls.size, dls, n_docs,
                                 avgdl, tombs, allow)
                for qi in range(nq):
                    if not decoded and not zm_l[qi]:
                        continue
                    ev.seval_slot = (
                        lambda i, _ev=ev, _w=wslots_l[qi]: _ev.seval(_w[i])
                    )
                    ids, wmat, pmat = ev.keval(roots[qi], nw_l[qi], np_l[qi])
                    if ids.size == 0:
                        continue
                    ws = wmat.sum(axis=1)
                    if np_l[qi] == 0 and kk is not None and ids.size > kk:
                        # no phrase slot ⇒ the summed word slots ARE the
                        # score (a NOT over a phrase has no slot at all):
                        # bucket-exact top-k suffices
                        order = np.lexsort((ids, -ws))[:kk]
                        order.sort()
                        ids, ws, pmat = ids[order], ws[order], pmat[order]
                    gm = gmaps[qi]
                    o_qi.extend([qi] * ids.size)
                    o_id.extend(ids.tolist())
                    o_dl.extend(dls[ids - start].astype(np.int64).tolist())
                    o_ws.extend(ws.tolist())
                    if np_l[qi]:
                        rows = pmat.tolist()
                        o_pi.extend(
                            [[gm[j] for j, v in enumerate(r) if v]
                             for r in rows]
                        )
                        o_pt.extend([[v for v in r if v] for r in rows])
                    else:
                        o_pi.extend([[]] * ids.size)
                        o_pt.extend([[]] * ids.size)
            yield pd.DataFrame({
                "qi": pd.Series(o_qi, dtype="int32"),
                "doc_id": pd.Series(o_id, dtype="int64"),
                "dl": pd.Series(o_dl, dtype="int64"),
                "ws": pd.Series(o_ws, dtype="float64"),
                "pidx": pd.Series(o_pi, dtype="object"),
                "ptf": pd.Series(o_pt, dtype="object"),
            })

    docs = engine._in_scope(rows).mapInPandas(
        kernel,
        schema=("qi int, doc_id long, dl long, ws double, "
                "pidx array<int>, ptf array<long>"),
    )

    n_g = len(gslots)
    score = F.col("ws")
    if n_g:
        gs_list: list[tuple] = [None] * n_g
        for ps, g in gslots.items():
            gs_list[g] = ps
        pkeys = {("@" + s if deco else s)
                 for stems, deco, _w in gs_list for s in stems}

        def count_kernel(batches):
            for pdf in batches:
                out = []
                for brow in pdf.itertuples(index=False):
                    dls = np.asarray(brow.dls, dtype=np.float64)
                    tombs = _bucket_tombs(brow)
                    decoded = _decode_rows(
                        [r for r in brow.trows if r["term"] in pkeys],
                        True, tombs,
                        df_delta=_bucket_df_delta(brow, df_delta))
                    ev = _BucketEval(decoded, int(brow.start), dls.size, dls,
                                     n_docs, avgdl, tombs)
                    out.append([int(ev.phrase_match(stems, deco, w)[0].size)
                                for stems, deco, w in gs_list])
                yield pd.DataFrame({"c": pd.Series(out, dtype="object")})

        # ONE shared count subplan for every phrase in the batch, folded to
        # a single broadcast row carrying the global dfs as an array.  It
        # reads the UNSCOPED bucket rows and ignores their allow-lists:
        # phrase dfs are corpus-level statistics (Lucene-filter semantics —
        # a site filter restricts candidates, never scores)
        counts = (
            rows.mapInPandas(count_kernel, schema="c array<long>")
            .agg(*[F.sum(F.element_at("c", j + 1)).alias(f"_pdf{j}")
                   for j in range(n_g)])
            .select(F.array(*[F.col(f"_pdf{j}").cast("double")
                              for j in range(n_g)]).alias("_pdfs"))
        )
        docs = docs.crossJoin(F.broadcast(counts))
        # uniform phrase finalization: only nonzero ptf slots were emitted,
        # each contributing bm25.idf_col(global df) * bm25.weight_col(ptf,
        # dl)
        score = score + F.aggregate(
            F.zip_with(
                "pidx", "ptf",
                lambda i, t: bm25.idf_col(
                    F.element_at("_pdfs", i + F.lit(1)), n_docs
                ) * bm25.weight_col(
                    t.cast("double"), F.col("dl").cast("double"), avgdl
                ),
            ),
            F.lit(0.0), lambda acc, x: acc + x,
        )

    qmap = F.array(*[F.lit(q) for q, _ in items])
    return docs.select(
        F.element_at(qmap, F.col("qi") + 1).alias("query"),
        "doc_id", score.alias("score"),
    )



def dynamic_scores(engine, ast: Expr, meta: DataFrame) -> DataFrame:
    """(doc_id, score, url, title) of every doc matching ``ast`` that the
    reference dynamic ranker keeps (plans/dynamic_score.rank_doc returns a
    score), over ``meta`` — docmeta plus its ``_static`` score column.

    Candidate supply is the tree's exhaustive match set (_BucketEval
    membership, the general kernel's evaluator).  Per candidate and query
    key the kernel emits the decoded positions and per-occurrence flags;
    the rows group per doc, join their docmeta row and are scored by ONE
    Arrow-batched pandas UDF — per-doc work is O(matched postings),
    distributed by doc."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    from search_engine_spark.plans import dynamic_score as D

    groups = D.term_groups_from_ast(ast)
    keys = sorted(groups.all_keys())
    df_delta = engine._delta_of(keys)
    rows = engine._bucket_rows(
        keys,
        ["term", "df", "doc_ids", "tfs", "pos", "flags"],
        outer=zero_match(ast),
    )
    n_docs, avgdl = engine.n_docs, engine.avgdl

    def kernel(batches):
        for pdf in batches:
            out = {"doc_id": [], "term": [], "positions": [], "pos_flags": []}
            for brow in pdf.itertuples(index=False):
                dls = np.asarray(brow.dls, dtype=np.float64)
                tombs = _bucket_tombs(brow)
                decoded = _decode_rows(
                    brow.trows, True, tombs, need_flags=True,
                    df_delta=_bucket_df_delta(brow, df_delta))
                ev = _BucketEval(decoded, int(brow.start), dls.size, dls,
                                 n_docs, avgdl, tombs)
                cand = ev.member(ast)
                for term, e in decoded.items():
                    at = np.searchsorted(e["ids"], cand)
                    at = at[at < e["ids"].size]
                    at = at[np.isin(e["ids"][at], cand)]
                    for i in at:
                        lo, hi = e["offs"][i], e["offs"][i] + e["tfs"][i]
                        out["doc_id"].append(int(e["ids"][i]))
                        out["term"].append(term)
                        out["positions"].append(e["flatpos"][lo:hi].tolist())
                        out["pos_flags"].append(e["flatflags"][lo:hi].tolist())
            yield pd.DataFrame({
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "term": pd.Series(out["term"], dtype="object"),
                "positions": pd.Series(out["positions"], dtype="object"),
                "pos_flags": pd.Series(out["pos_flags"], dtype="object"),
            })

    @pandas_udf(DoubleType())
    def _dyn_score(plists, urls, title_lens, word_counts, dls, statics):
        scores = []
        for pl, url, tl, wc, dl, st in zip(
            plists, urls, title_lens, word_counts, dls, statics
        ):
            scores.append(D.rank_doc(
                groups,
                {e["term"]: list(e["positions"]) for e in pl},
                {e["term"]: list(e["pos_flags"]) for e in pl},
                url, int(tl), int(wc), int(dl), float(st),
            ))
        return pd.Series(scores, dtype="float64")

    plist = (
        rows.mapInPandas(kernel, schema=(
            "doc_id long, term string, positions array<int>, "
            "pos_flags array<int>"))
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("term", "positions", "pos_flags"))
             .alias("_plist"))
    )
    return (
        plist.join(meta, "doc_id")
        .select(
            "doc_id", "url", "title",
            _dyn_score("_plist", "url", "title_len", "word_count", "dl",
                       "_static").alias("score"),
        )
        .filter(F.col("score").isNotNull())
    )
