"""Frozen pure-Python BM25 oracle (FIXTURES.md §5 golden_topk).

Replicates the engine's full pipeline — extraction, term pipeline, overlong
title drop, first-wins dedup, lexicographic doc ids, BM25 — with the SAME
≤2-addend float structure as the packed general kernel
(plans/packed_exec.py), so top-k is rank-identical and scores match to the
last bit (modulo libm ulps).  Used only by tests;
everything is plain dicts/lists, no Spark.
"""

from __future__ import annotations

from search_engine_spark.functions.htmlparse import parse_html
from search_engine_spark.functions.tokenize import doc_terms
from search_engine_spark.plans import bm25
from search_engine_spark.plans.query_ast import (
    And, Expr, Not, Or, OrSyn, Phrase, Word, compile_query, ordered_stems,
)


class OracleIndex:
    def __init__(self, pages_rows: list[dict]):
        # extraction + overlong-title drop + first-wins dedup (url, warc_ts)
        per_url: dict[str, dict] = {}
        for row in pages_rows:
            res = parse_html(bytes(row["html"]))
            terms, flags, n_title = doc_terms(res)
            if len(res.title_words) >= 40:
                continue
            rec = {
                "url": row["url"],
                "warc_ts": row["warc_ts"],
                "terms": terms,
                "flags": flags,
                "title": res.title_chunk.decode("utf-8", "replace"),
                "text": b" ".join(w for w, _ in res.words).decode("utf-8", "replace"),
                "word_count": len(res.words) + len(res.title_words),
                "title_len": len(res.title_words),
                "english": res.english,
            }
            cur = per_url.get(row["url"])
            if cur is None or (rec["warc_ts"], rec["text"]) < (cur["warc_ts"], cur["text"]):
                per_url[row["url"]] = rec

        self.docs = [per_url[u] for u in sorted(per_url)]  # doc_id = url rank
        self.postings: dict[str, dict[int, list[int]]] = {}
        self.pflags: dict[str, dict[int, list[int]]] = {}
        self.dl: list[int] = []
        for doc_id, d in enumerate(self.docs):
            self.dl.append(len(d["terms"]))
            for pos, (t, fl) in enumerate(zip(d["terms"], d["flags"])):
                self.postings.setdefault(t, {}).setdefault(doc_id, []).append(pos)
                self.pflags.setdefault(t, {}).setdefault(doc_id, []).append(fl)
        self.n_docs = len(self.docs)
        self.avgdl = sum(self.dl) / self.n_docs if self.n_docs else 0.0

    # -- scoring, mirroring the general kernel's float structure ------------
    def _term_scores(self, key: str) -> dict[int, float]:
        plist = self.postings.get(key)
        if not plist:
            return {}
        idf = bm25.idf(len(plist), self.n_docs)
        return {
            d: idf * bm25.weight(float(len(ps)), float(self.dl[d]), self.avgdl)
            for d, ps in plist.items()
        }

    def _word_scores(self, stem: str) -> dict[int, float]:
        body = self._term_scores(stem)
        title = self._term_scores("@" + stem)
        out = dict(body)
        for d, s in title.items():
            out[d] = out.get(d, 0.0) + s
        return out

    def _phrase_scores(self, stems: list[str], decorated: bool,
                       window: int = 1) -> dict[int, float]:
        """Phrase (window 1) or NEAR (window > 1) leaf: per doc, the count
        of first-stem positions that start an ordered chain in which each
        next stem occurs within ``window`` positions after the previous."""
        keys = [("@" + s if decorated else s) for s in stems]
        first = self.postings.get(keys[0])
        if first is None:
            return {}
        rest = [self.postings.get(k) for k in keys[1:]]
        if any(r is None for r in rest):
            return {}

        def chain(d: int, p: int, i: int) -> bool:
            return i == len(rest) or any(
                p < q <= p + window and chain(d, q, i + 1) for q in rest[i][d]
            )

        tfs: dict[int, int] = {}
        for d, ps in first.items():
            if any(d not in r for r in rest):
                continue
            c = sum(1 for p in ps if chain(d, p, 0))
            if c > 0:
                tfs[d] = c
        if not tfs:
            return {}
        idf = bm25.idf(len(tfs), self.n_docs)
        return {
            d: idf * bm25.weight(float(c), float(self.dl[d]), self.avgdl)
            for d, c in tfs.items()
        }

    def _eval(self, expr: Expr) -> dict[int, float]:
        if isinstance(expr, Word):
            return self._word_scores(expr.stem)
        if isinstance(expr, Phrase):
            win = int(getattr(expr, "window", 1))   # Near carries window>1
            body = self._phrase_scores(expr.effective_stems, False, win)
            title = self._phrase_scores(expr.effective_stems, True, win)
            out = dict(body)
            for d, s in title.items():
                out[d] = out.get(d, 0.0) + s
            return out
        if isinstance(expr, And):
            if isinstance(expr.right, Not):
                left = self._eval(expr.left)
                excl = self._eval(expr.right.child)
                return {d: s for d, s in left.items() if d not in excl}
            if isinstance(expr.left, Not):
                right = self._eval(expr.right)
                excl = self._eval(expr.left.child)
                return {d: s for d, s in right.items() if d not in excl}
            l = self._eval(expr.left)
            r = self._eval(expr.right)
            return {d: l[d] + r[d] for d in l.keys() & r.keys()}
        if isinstance(expr, Or):
            l = self._eval(expr.left)
            r = self._eval(expr.right)
            out = {}
            for d in l.keys() | r.keys():
                out[d] = l.get(d, 0.0) + r.get(d, 0.0)
            return out
        if isinstance(expr, Not):
            excl = self._eval(expr.child)
            return {d: 0.0 for d in range(self.n_docs) if d not in excl}
        if isinstance(expr, OrSyn):
            acc = self._eval(expr.original)
            for syn in expr.synonyms:
                s = self._eval(syn)
                out = {}
                for d in acc.keys() | s.keys():
                    out[d] = acc.get(d, 0.0) + s.get(d, 0.0) * expr.weight
                acc = out
            return acc
        raise TypeError(type(expr))

    def topk(self, query: str, k: int = 10, synonyms: bool = False):
        ast = compile_query(query, synonyms=synonyms)
        if ast is None:
            return []
        scores = self._eval(ast)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return [
            (d, s, self.docs[d]["url"], self.docs[d]["title"])
            for d, s in ranked[:k]
        ]

    # -- heuristic parity modes (Ranker.cpp WorkerThread) --------------------
    def _static(self, d: int, utility_query: bool) -> float:
        """The reference static page-quality score of doc ``d``."""
        import re

        from search_engine_spark.plans.static_score import static_score_py
        from search_engine_spark.schemas import TLD_CODE

        doc = self.docs[d]
        host = re.match(r"^[a-z][a-z0-9+.-]*://([^/]+)", doc["url"])
        suffix_m = re.search(r"\.([a-z0-9]+)$", host.group(1)) if host else None
        tld = TLD_CODE.get(suffix_m.group(1), 0) if suffix_m else 0
        return static_score_py(
            {
                "url": doc["url"], "url_len": len(doc["url"]),
                "word_count": doc["word_count"],
                "title_len": doc["title_len"],
                "english": doc["english"], "tld": tld,
            },
            utility_query=utility_query,
        )

    def topk_static(self, query: str, k: int = 10, synonyms: bool = False):
        """Static parity mode: every BM25 match whose static score passes
        STATIC_THRESHOLD, rescored (1 - STATIC_MIX)·bm25 +
        STATIC_MIX·static."""
        from search_engine_spark.plans import static_score as S

        ast = compile_query(query, synonyms=synonyms)
        if ast is None:
            return []
        uq = S.is_utility_query(ordered_stems(ast))
        out = []
        for d, bm in self._eval(ast).items():
            st = self._static(d, uq)
            if st >= S.STATIC_THRESHOLD:
                out.append((d, bm * (1.0 - S.STATIC_MIX) + st * S.STATIC_MIX))
        out.sort(key=lambda t: (-t[1], t[0]))
        return [(d, s, self.docs[d]["url"], self.docs[d]["title"])
                for d, s in out[:k]]

    def topk_dynamic(self, query: str, k: int = 10, synonyms: bool = False):
        """Per-doc reimplementation of the heuristic ranking flow over the
        oracle's plain dict index: candidate supply = the boolean matching
        set, then static gate → span features → dynamic mix → final score
        (plans/dynamic_score.py kernels over independently-built maps)."""
        from search_engine_spark.plans import dynamic_score as D
        from search_engine_spark.plans.static_score import is_utility_query

        ast = compile_query(query, synonyms=synonyms)
        if ast is None:
            return []
        groups = D.term_groups_from_ast(ast)
        candidates = sorted(self._eval(ast).keys())
        uq = is_utility_query(ordered_stems(ast))

        out = []
        for d in candidates:
            doc = self.docs[d]
            pos_map = {
                key: self.postings.get(key, {}).get(d, [])
                for key in groups.all_keys()
            }
            flag_map = {
                key: self.pflags.get(key, {}).get(d, [])
                for key in groups.all_keys()
            }
            score = D.rank_doc(
                groups, pos_map, flag_map, doc["url"], doc["title_len"],
                doc["word_count"], self.dl[d], self._static(d, uq),
            )
            if score is not None:
                out.append((d, score, doc["url"], doc["title"]))
        out.sort(key=lambda t: (-t[1], t[0]))
        return out[:k]
