"""Helpers shared by several test modules: a synthetic pages frame for the
build/append/delete tests, a byte-level fingerprint of a packed index, and
the formatted physical plan of a DataFrame for plan-shape checks."""

import contextlib
import datetime as dt
import io

from search_engine_spark import schemas


def _mk_pages(spark, specs):
    """specs: [(url, body_words)] → a pages frame (html synthesized)."""
    rows = []
    for url, words in specs:
        # page content is a pure function of the URL so the same url
        # produces the same page in the base+append and union builds
        h = sum(url.encode())
        html = (f"<html><head><title>alpha t{h % 5}</title></head>"
                f"<body>{words}</body></html>")
        rows.append((url, dt.datetime(2026, 1, 1) + dt.timedelta(seconds=h),
                     html.encode(), "", "en"))
    return spark.createDataFrame(rows, schemas.PAGES)


def _packed_fingerprint(cat):
    rows = cat.read("postings_packed").collect()
    out = {}
    for r in rows:
        out[(r["term"], r["bucket"])] = (
            r["shard"], r["df"], r["n_docs"],
            bytes(r["doc_ids"]), bytes(r["tfs"]), bytes(r["pos"]),
            bytes(r["flags"]),
            tuple(r["block_last"]), tuple(r["block_maxw"]),
        )
    return out


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()
