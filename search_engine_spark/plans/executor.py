"""AST → DataFrame compiler: the logical (exhaustive, join-based) query path.

Each AST node evaluates to a DataFrame(doc_id, score) with deterministic
float semantics (fixed-structure additions — never a shuffle-order-dependent
reduction over >2 addends; see SURVEY.md §7.2 'Deterministic scores'):

* Word   → union of body stem and '@'-title stem postings; score is the
           sum of the two independent BM25 terms (ISROr X4 semantics).
* Phrase → positional adjacency over positions arrays, pure JVM expressions
           (`F.filter` + `array_contains` chain — Lucene-PhraseQuery-like,
           ISRPhrase X7, isr.cpp:571-598); phrase df/tf computed at query
           time, scored as a single BM25 term.
* And    → inner join on doc_id, score = l + r    (ISRAnd X3)
* Or     → full outer join, score = l + r         (ISROr X4)
* Not    → left-anti join                         (ISRContainer X6, the
           *intended* semantics — the reference's NOT is unfinished)
* OrSyn  → original + SYN_WEIGHT * synonym scores (X5/R6)

Scale: only the query terms' postings are touched (partition-prunable by
term shard in the packed layout; this logical path filters + broadcasts the
per-term df map).  The final top-k is Spark's TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.plans import bm25
from search_engine_spark.plans.query_ast import (
    And, Expr, Not, Or, OrSyn, Phrase, Word, compile_query,
)


def _ordered_stems(expr: Expr) -> list[str]:
    """Leaf stems in left-to-right order (the reference's flattened ISR
    term order, isr.cpp:656-674 — first term = query intent main term)."""
    if isinstance(expr, Word):
        return [expr.stem]
    if isinstance(expr, Phrase):
        return list(expr.effective_stems)
    if isinstance(expr, (And, Or)):
        return _ordered_stems(expr.left) + _ordered_stems(expr.right)
    if isinstance(expr, Not):
        return _ordered_stems(expr.child)
    if isinstance(expr, OrSyn):
        out = _ordered_stems(expr.original)
        for s in expr.synonyms:
            out += _ordered_stems(s)
        return out
    raise TypeError(type(expr))


def _collect_keys(expr: Expr) -> set[str]:
    if isinstance(expr, Word):
        return {expr.stem, "@" + expr.stem}
    if isinstance(expr, Phrase):
        ks: set[str] = set()
        for s in expr.effective_stems:
            ks.add(s)
            ks.add("@" + s)
        return ks
    if isinstance(expr, (And, Or)):
        return _collect_keys(expr.left) | _collect_keys(expr.right)
    if isinstance(expr, Not):
        return _collect_keys(expr.child)
    if isinstance(expr, OrSyn):
        ks = _collect_keys(expr.original)
        for s in expr.synonyms:
            ks |= _collect_keys(s)
        return ks
    raise TypeError(type(expr))


class QueryEngine:
    """BM25 top-k over the logical postings tables."""

    def __init__(
        self,
        spark: SparkSession,
        postings: DataFrame,
        docmeta: DataFrame,
        n_docs: int,
        avgdl: float,
        k1: float = bm25.K1,
        b: float = bm25.B,
        num_shards: int | None = None,
    ):
        self.spark = spark
        self.postings = postings
        self.docmeta = docmeta
        self.n_docs = int(n_docs)
        self.avgdl = float(avgdl)
        self.k1 = k1
        self.b = b
        # set when the postings table is hive-partitioned by term shard —
        # enables partition pruning on every term-filtered read
        self.num_shards = num_shards

    @classmethod
    def from_catalog(cls, cat, stats=None) -> "QueryEngine":
        """``stats``: the index_stats row, when the caller already read it."""
        if stats is None:
            stats = cat.read("index_stats").collect()[0]
        ns = cat.get_prop("postings_num_shards")
        postings, docmeta = cat.read("postings"), cat.read("docmeta")
        if cat.exists("tombstones"):
            # delete support (operators/pipeline.run_delete): the logical
            # engine filters tombstoned docs out of both tables up front —
            # the tombstone set is delta-proportional between compactions,
            # so the anti-join broadcasts (index_stats was already
            # recomputed over survivors at delete time)
            tombs = F.broadcast(cat.read("tombstones").select("doc_id"))
            postings = postings.join(tombs, "doc_id", "left_anti")
            docmeta = docmeta.join(tombs, "doc_id", "left_anti")
        return cls(
            cat.spark,
            postings,
            docmeta,
            stats["n_docs"],
            stats["avgdl"],
            num_shards=int(ns) if ns is not None else None,
        )

    # -- scored postings for just this query's keys --------------------------
    def _scored(self, keys: set[str]) -> DataFrame:
        # dl is inline in postings (build_postings) — no docmeta join
        filt = self.postings
        if self.num_shards:
            # driver-side Spark-parity xxh64 → shard ids of the query keys;
            # the shard filter prunes the hive partition dirs, so only the
            # query terms' shards are listed/scanned (same pruning as the
            # packed path, plans/wand.py) — without it a phrase/NOT query
            # would full-scan the logical postings
            from search_engine_spark.functions.hashing import term_shard

            shards = sorted({term_shard(k, self.num_shards) for k in keys})
            filt = filt.filter(F.col("shard").isin(shards))
        cols = ["term", "doc_id", "tf", "positions", "dl"]
        if "pos_flags" in self.postings.columns:   # dynamic-ranker feature
            cols.append("pos_flags")
        filt = filt.filter(F.col("term").isin(*keys)).select(*cols)
        dfmap = filt.groupBy("term").agg(F.count("*").alias("df"))
        return (
            filt.join(F.broadcast(dfmap), "term")
            .withColumn(
                "score",
                bm25.idf_col(F.col("df"), self.n_docs)
                * bm25.weight_col(F.col("tf"), F.col("dl"), self.avgdl, self.k1, self.b),
            )
        )

    # -- node evaluation ------------------------------------------------------
    def _eval(self, expr: Expr, scored: DataFrame) -> DataFrame:
        if isinstance(expr, Word):
            return (
                scored.filter(F.col("term").isin(expr.stem, "@" + expr.stem))
                .groupBy("doc_id")
                .agg(F.sum("score").alias("score"))  # ≤2 addends: order-free
            )
        if isinstance(expr, Phrase):
            win = int(getattr(expr, "window", 1))  # Near rides this branch
            body = self._eval_phrase(
                expr.effective_stems, scored, decorated=False, window=win
            )
            title = self._eval_phrase(
                expr.effective_stems, scored, decorated=True, window=win
            )
            return self._combine_or(body, title)
        if isinstance(expr, And):
            if isinstance(expr.right, Not):  # a & -b → anti join fast path
                left = self._eval(expr.left, scored)
                excl = self._eval(expr.right.child, scored)
                return left.join(excl, "doc_id", "left_anti")
            if isinstance(expr.left, Not):
                right = self._eval(expr.right, scored)
                excl = self._eval(expr.left.child, scored)
                return right.join(excl, "doc_id", "left_anti")
            l = self._eval(expr.left, scored).withColumnRenamed("score", "_sl")
            r = self._eval(expr.right, scored).withColumnRenamed("score", "_sr")
            return l.join(r, "doc_id").select(
                "doc_id", (F.col("_sl") + F.col("_sr")).alias("score")
            )
        if isinstance(expr, Or):
            return self._combine_or(
                self._eval(expr.left, scored), self._eval(expr.right, scored)
            )
        if isinstance(expr, Not):
            # bare NOT: all docs minus matches, score 0 (defined semantics)
            excl = self._eval(expr.child, scored)
            return (
                self.docmeta.select("doc_id")
                .join(excl, "doc_id", "left_anti")
                .withColumn("score", F.lit(0.0))
            )
        if isinstance(expr, OrSyn):
            acc = self._eval(expr.original, scored)
            for syn in expr.synonyms:
                s = self._eval(syn, scored).withColumn(
                    "score", F.col("score") * F.lit(expr.weight)
                )
                acc = self._combine_or(acc, s)
            return acc
        raise TypeError(type(expr))

    @staticmethod
    def _combine_or(l: DataFrame, r: DataFrame) -> DataFrame:
        l = l.withColumnRenamed("score", "_sl")
        r = r.withColumnRenamed("score", "_sr")
        return l.join(r, "doc_id", "full_outer").select(
            "doc_id",
            (
                F.coalesce(F.col("_sl"), F.lit(0.0))
                + F.coalesce(F.col("_sr"), F.lit(0.0))
            ).alias("score"),
        )

    def _eval_phrase(
        self, stems: list[str], scored: DataFrame, decorated: bool,
        window: int = 1,
    ) -> DataFrame:
        keys = [("@" + s if decorated else s) for s in stems]
        cols = None
        for i, key in enumerate(keys):
            p = scored.filter(F.col("term") == key)
            if i == 0:
                p = p.select("doc_id", F.col("positions").alias("_p0"), "dl")
            else:
                p = p.select("doc_id", F.col("positions").alias(f"_p{i}"))
            cols = p if cols is None else cols.join(p, "doc_id")
        if cols is None:
            return self.spark.createDataFrame([], "doc_id long, score double")

        # starts: positions p in _p0 with p+i present in _pi for all i>0.
        # NB: lambdas passed to F.filter must be strictly single-parameter —
        # PySpark treats a second parameter (even a default) as the index arg.
        def _contains_at(i: int):
            col = F.col(f"_p{i}")

            def f(p):
                return F.array_contains(col, p + i)

            return f

        def _and(a, b):
            def f(p):
                return a(p) & b(p)

            return f

        if window > 1:
            # Near: ordered chain, each next stem within `window` of the
            # previous — nested F.exists over the position arrays (the
            # DataFrame twin of packed_exec.phrase_match's backward pass)
            def _chain(i: int):
                if i == len(keys):
                    return lambda prev: F.lit(True)
                nxt = _chain(i + 1)
                col = F.col(f"_p{i}")

                def f(prev):
                    return F.exists(
                        col,
                        lambda q: (q > prev) & (q <= prev + window) & nxt(q),
                    )

                return f

            if len(keys) == 1:
                tf_col = F.size(F.col("_p0"))
            else:
                tf_col = F.size(F.filter(F.col("_p0"), _chain(1)))
        else:
            cond = None
            for i in range(1, len(keys)):
                c = _contains_at(i)
                cond = c if cond is None else _and(cond, c)
            if cond is None:  # single-term phrase
                tf_col = F.size(F.col("_p0"))
            else:
                tf_col = F.size(F.filter(F.col("_p0"), cond))
        matches = cols.select(
            "doc_id", "dl", tf_col.cast("double").alias("_ptf")
        ).filter(F.col("_ptf") > 0)

        # phrase df computed at query time INSIDE the same plan: a global
        # window count over the matching docs (small set — every doc here
        # contains all phrase terms adjacently), so a phrase leaf costs no
        # extra persist()+count() driver action per query — one job total.
        from pyspark.sql import Window

        matches = matches.withColumn(
            "_df", F.count("*").over(Window.partitionBy())
        )
        return matches.select(
            "doc_id",
            (
                bm25.idf_col(F.col("_df").cast("double"), self.n_docs)
                * bm25.weight_col(F.col("_ptf"), F.col("dl"), self.avgdl, self.k1, self.b)
            ).alias("score"),
        )

    # -- public API ------------------------------------------------------------
    def search_ast(self, ast: Expr | None, k: int = 10,
                   static_mode: bool = False,
                   dynamic_mode: bool = False) -> DataFrame:
        empty = self.spark.createDataFrame(
            [], "doc_id long, score double, url string, title string"
        )
        if ast is None:
            return empty
        if dynamic_mode:
            return self._search_dynamic(ast, k)
        keys = _collect_keys(ast)
        if not keys:
            return empty
        scored = self._scored(keys).persist()
        result = self._eval(ast, scored)
        if static_mode:
            # heuristic-parity mode (SURVEY §2.7 R2/R3/R7): mix in the
            # reference's static page-quality score, prune static < 0.25
            from search_engine_spark.plans import static_score as S

            uq = S.is_utility_query(_ordered_stems(ast))
            meta = self.docmeta.withColumn("_static", S.static_score_col(uq))
            result = (
                result.join(meta, "doc_id")
                .filter(F.col("_static") >= S.STATIC_THRESHOLD)
                .select(
                    "doc_id",
                    (
                        F.col("score") * (1.0 - S.STATIC_MIX)
                        + F.col("_static") * S.STATIC_MIX
                    ).alias("score"),
                    "url", "title",
                )
                .orderBy(F.col("score").desc(), F.col("doc_id").asc())
                .limit(k)
            )
            return result
        return (
            result.join(self.docmeta.select("doc_id", "url", "title"), "doc_id")
            .select("doc_id", "score", "url", "title")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )

    # -- dynamic span-feature parity mode (SURVEY §2.7 R4/R5) ---------------
    def _search_dynamic(self, ast: Expr, k: int) -> DataFrame:
        """Full heuristic-parity ranking flow (Ranker.cpp WorkerThread):
        candidate supply = docs matching the boolean tree; per-doc span
        features over per-occurrence positions+flags; static gate +
        synonym fallback + 0.75/0.25 final mix (plans/dynamic_score.py).

        Shape: candidates semi-join the (shard-pruned) positions rows,
        per-doc assembly is a collect_list + ONE Arrow-batched pandas UDF
        (not per-group applyInPandas), top-k is TakeOrderedAndProject —
        per-doc work is O(matched postings), distributed by doc.
        """
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import DoubleType

        from search_engine_spark.plans import dynamic_score as D
        from search_engine_spark.plans import static_score as S

        empty = self.spark.createDataFrame(
            [], "doc_id long, score double, url string, title string"
        )
        if "pos_flags" not in self.postings.columns:
            raise ValueError(
                "dynamic_mode requires a warehouse built with per-occurrence "
                "pos_flags; rebuild postings (pipeline.run_build) on this "
                "corpus first"
            )
        groups = D.term_groups_from_ast(ast)
        all_keys = set(groups.all_keys())
        if not all_keys:
            return empty
        scored = self._scored(all_keys)
        cand = self._eval(ast, scored).select("doc_id")

        plist = (
            scored.select("term", "doc_id", "positions", "pos_flags")
            .join(cand, "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_list(F.struct("term", "positions", "pos_flags"))
                 .alias("_plist"))
        )
        uq = S.is_utility_query(_ordered_stems(ast))
        meta = self.docmeta.withColumn("_static", S.static_score_col(uq))
        rows = plist.join(meta, "doc_id")

        groups_ = groups

        @pandas_udf(DoubleType())
        def _dyn_score(plists, urls, title_lens, word_counts, dls, statics):
            out = []
            for pl, url, tl, wc, dl, st in zip(
                plists, urls, title_lens, word_counts, dls, statics
            ):
                pos_map = {e["term"]: list(e["positions"]) for e in pl}
                flag_map = {e["term"]: list(e["pos_flags"]) for e in pl}
                out.append(D.rank_doc(
                    groups_, pos_map, flag_map, url, int(tl), int(wc),
                    int(dl), float(st),
                ))
            return pd.Series(out, dtype="float64")

        return (
            rows.select(
                "doc_id", "url", "title",
                _dyn_score(
                    "_plist", "url", "title_len", "word_count", "dl", "_static"
                ).alias("score"),
            )
            .filter(F.col("score").isNotNull())
            .select("doc_id", "score", "url", "title")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )

    def search(self, query: str, k: int = 10, synonyms: bool = False,
               static_mode: bool = False,
               dynamic_mode: bool = False) -> DataFrame:
        return self.search_ast(
            compile_query(query, synonyms=synonyms), k=k,
            static_mode=static_mode, dynamic_mode=dynamic_mode,
        )
