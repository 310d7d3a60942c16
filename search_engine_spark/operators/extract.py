"""pages → docs extraction (operators E1-E9 + T1-T3 of SURVEY.md §2).

One vectorized ``mapInPandas`` pass over the ``html`` binary column runs the
reference-parity parser + stemmer per Arrow batch (no per-row Python at the
Spark API layer; the hot loop is a C-accelerated bytes scan per document and
an lru_cache-memoized stemmer — the Zipf distribution makes the distinct
token set per batch tiny).

Scale notes: the extraction is embarrassingly parallel (narrow map), so
throughput scales with executors; there is no shuffle in this phase.  The
``text`` invariant (byte-identical extracted text per url vs the reference
parser, BASELINE.json) is checkable with ``text_invariant_violations``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark import schemas
from search_engine_spark.functions.htmlparse import extracted_text, parse_html
from search_engine_spark.functions.tokenize import doc_terms


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # C fast path (native/fastparse.c): parser + stem-cache + per-doc agg
    # in one C call per document, ~11× the pure-Python loop per core.
    # Output is IDENTICAL (tests/test_native_parity.py, fuzz --native);
    # the Python loop below remains the semantics source of truth and the
    # fallback when no compiler is available.
    from search_engine_spark.native import get_parse_doc

    native = get_parse_doc()
    if native is not None:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "url", "warc_ts", "text", "title", "dl", "p_terms", "p_tfs",
                "p_flags", "p_offs", "p_poss", "p_fposs", "n_title_terms",
                "word_count", "title_len", "english", "links",
            )}
            for url, ts, html in zip(pdf["url"], pdf["warc_ts"], pdf["html"]):
                (text_b, title_b, dl, p_terms, p_tfs, p_flags, p_offs,
                 p_poss, p_fposs, n_title, word_count, title_len, english,
                 links) = native(bytes(html))
                out["url"].append(url)
                out["warc_ts"].append(ts)
                out["text"].append(text_b.decode("utf-8", "replace"))
                out["title"].append(title_b.decode("utf-8", "replace"))
                out["dl"].append(dl)
                out["p_terms"].append(p_terms)
                out["p_tfs"].append(p_tfs)
                out["p_flags"].append(p_flags)
                out["p_offs"].append(p_offs)
                out["p_poss"].append(p_poss)
                out["p_fposs"].append(p_fposs)
                out["n_title_terms"].append(n_title)
                out["word_count"].append(word_count)
                out["title_len"].append(title_len)
                out["english"].append(english)
                out["links"].append([u.decode("utf-8", "replace") for u in links])
            yield pd.DataFrame(out)
        return

    for pdf in batches:
        out: dict[str, list] = {
            "url": [], "warc_ts": [], "text": [], "title": [], "dl": [],
            "p_terms": [], "p_tfs": [], "p_flags": [], "p_offs": [],
            "p_poss": [], "p_fposs": [], "n_title_terms": [], "word_count": [],
            "title_len": [], "english": [], "links": [],
        }
        for url, ts, html in zip(pdf["url"], pdf["warc_ts"], pdf["html"]):
            res = parse_html(bytes(html))
            terms, flags, n_title = doc_terms(res)
            # per-doc posting aggregation HERE (tf, positions, max flag):
            # the (term, doc_id) group never crosses a document, so doing
            # it in the same Python pass removes the posexplode+groupBy
            # shuffle entirely (the build's largest before this change).
            # Layout is FLAT parallel primitive arrays (positions
            # concatenated + per-term offsets): nested array<struct>
            # columns cost ~3× in Arrow/parquet/shuffle.
            agg: dict[str, list] = {}
            for i, (t, fl) in enumerate(zip(terms, flags)):
                e = agg.get(t)
                if e is None:
                    agg[t] = [1, [i], [fl]]
                else:
                    e[0] += 1
                    e[1].append(i)
                    e[2].append(fl)
            p_terms, p_tfs, p_flags, p_offs = [], [], [], []
            p_poss, p_fposs = [], []
            off = 0
            for t, (tf, pos, fls) in agg.items():
                p_terms.append(t)
                p_tfs.append(tf)
                p_flags.append(max(fls))
                p_offs.append(off)
                p_poss.extend(pos)
                p_fposs.extend(fls)   # per-occurrence, parallel to p_poss
                off += tf
            out["url"].append(url)
            out["warc_ts"].append(ts)
            out["text"].append(extracted_text(res).decode("utf-8", "replace"))
            out["title"].append(res.title_chunk.decode("utf-8", "replace"))
            out["dl"].append(len(terms))
            out["p_terms"].append(p_terms)
            out["p_tfs"].append(p_tfs)
            out["p_flags"].append(p_flags)
            out["p_offs"].append(p_offs)
            out["p_poss"].append(p_poss)
            out["p_fposs"].append(p_fposs)
            out["n_title_terms"].append(n_title)
            out["word_count"].append(len(res.words) + len(res.title_words))
            out["title_len"].append(len(res.title_words))
            out["english"].append(res.english)
            out["links"].append([u.decode("utf-8", "replace") for u, _ in res.links])
        yield pd.DataFrame(out)


def extract_docs(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, ...) → docs (schemas.DOCS)."""
    return pages.select("url", "warc_ts", "html").mapInPandas(
        _extract_batches, schema=schemas.DOCS
    )


def text_invariant_violations(pages: DataFrame) -> DataFrame:
    """Rows where the engine's extracted text differs from pages.text —
    the per-row byte-identity invariant (must be empty)."""
    docs = extract_docs(pages).select("url", "warc_ts", F.col("text").alias("engine_text"))
    return (
        pages.select("url", "warc_ts", "text")
        .join(docs, ["url", "warc_ts"])
        .filter(F.col("text") != F.col("engine_text"))
    )


def drop_overlong_titles(docs: DataFrame) -> DataFrame:
    """Docs with >=40 title words are never indexed (Indexer.hpp:404-406)."""
    return docs.filter(F.col("title_len") < 40)
