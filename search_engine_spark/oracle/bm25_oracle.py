"""Frozen pure-Python BM25 oracle (FIXTURES.md §5 golden_topk).

Replicates the engine's full pipeline — extraction, term pipeline, overlong
title drop, first-wins dedup, lexicographic doc ids, BM25 — with the SAME
float operation structure as plans/executor.py, so top-k is rank-identical
and scores match to the last bit (modulo libm ulps).  Used only by tests;
everything is plain dicts/lists, no Spark.
"""

from __future__ import annotations

from search_engine_spark.functions.htmlparse import parse_html
from search_engine_spark.functions.tokenize import doc_terms
from search_engine_spark.plans import bm25
from search_engine_spark.plans.query_ast import (
    And, Expr, Not, Or, OrSyn, Phrase, Word, compile_query,
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

    # -- scoring, mirroring executor float structure ------------------------
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

    def _phrase_scores(self, stems: list[str], decorated: bool) -> dict[int, float]:
        keys = [("@" + s if decorated else s) for s in stems]
        first = self.postings.get(keys[0])
        if first is None:
            return {}
        rest = [self.postings.get(k) for k in keys[1:]]
        if any(r is None for r in rest):
            return {}
        tfs: dict[int, int] = {}
        for d, ps in first.items():
            sets = []
            ok = True
            for r in rest:
                if d not in r:
                    ok = False
                    break
                sets.append(set(r[d]))
            if not ok:
                continue
            c = sum(1 for p in ps if all((p + i + 1) in sets[i] for i in range(len(sets))))
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
            body = self._phrase_scores(expr.effective_stems, False)
            title = self._phrase_scores(expr.effective_stems, True)
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

    # -- dynamic span-feature parity oracle (Ranker.cpp WorkerThread) -------
    def topk_dynamic(self, query: str, k: int = 10, synonyms: bool = False):
        """Per-doc reimplementation of the heuristic ranking flow over the
        oracle's plain dict index: candidate supply = the boolean matching
        set, then static gate → span features → dynamic mix → final score
        (plans/dynamic_score.py kernels over independently-built maps)."""
        import re

        from search_engine_spark.plans import dynamic_score as D
        from search_engine_spark.plans.static_score import (
            is_utility_query, static_score_py,
        )
        from search_engine_spark.schemas import TLD_CODE

        ast = compile_query(query, synonyms=synonyms)
        if ast is None:
            return []
        groups = D.term_groups_from_ast(ast)
        candidates = sorted(self._eval(ast).keys())

        # query intent over the same ordered-stems view the executor uses
        from search_engine_spark.plans.executor import _ordered_stems

        uq = is_utility_query(_ordered_stems(ast))

        out = []
        for d in candidates:
            doc = self.docs[d]
            host = re.match(r"^[a-z][a-z0-9+.-]*://([^/]+)", doc["url"])
            suffix_m = re.search(r"\.([a-z0-9]+)$", host.group(1)) if host else None
            tld = TLD_CODE.get(suffix_m.group(1), 0) if suffix_m else 0
            static = static_score_py(
                {
                    "url": doc["url"], "url_len": len(doc["url"]),
                    "word_count": doc["word_count"],
                    "title_len": doc["title_len"],
                    "english": doc["english"], "tld": tld,
                },
                utility_query=uq,
            )
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
                doc["word_count"], self.dl[d], static,
            )
            if score is not None:
                out.append((d, score, doc["url"], doc["title"]))
        out.sort(key=lambda t: (-t[1], t[0]))
        return out[:k]
