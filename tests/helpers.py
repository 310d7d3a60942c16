"""Helpers shared by several test modules: a synthetic pages frame for the
build/append/delete tests, the lifecycle corpus of the soak and the query
fuzzer, a byte-level fingerprint of a packed index, the formatted physical
plan of a DataFrame for plan-shape checks, and the Spark job count of a
call with the per-class job budgets of a served query."""

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


# the lifecycle corpus: pages whose words are drawn from a small pool, so
# every batch shares the base's vocabulary
LAYOUT = {"num_shards": 8, "salt_buckets": 4, "merge_factor": 2}
POOL = ["search", "engine", "connection", "link", "joining", "index",
        "crawler", "parser", "news", "signal", "apple", "union", "ranking",
        "document", "query", "w0", "w1", "w2", "w3", "w4"]
HEADS = ["search engine", "engine search", "crawler search", "news link"]


def _doc(prefix: str, i: int) -> dict:
    url = f"http://{prefix}{i:03d}.com/p"
    words = [HEADS[i % len(HEADS)]] + [
        POOL[(i * (j + 3) + j * j) % len(POOL)] for j in range(8 + i % 3)
    ]
    h = sum(url.encode())
    html = (f"<html><head><title>alpha t{h % 5}</title></head>"
            f"<body>{' '.join(words)}</body></html>")
    return {"url": url,
            "warc_ts": dt.datetime(2026, 1, 1) + dt.timedelta(seconds=h),
            "html": html.encode(), "text": "", "lang": "en"}


def _batch(prefix: str, n: int) -> list[dict]:
    return [_doc(prefix, i) for i in range(n)]


def _frame(spark, rows):
    return spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
         for r in rows], schemas.PAGES)


def _jobs_for(spark, group: str, fn) -> int:
    """Run fn() under a job group and return how many Spark jobs it
    submitted (statusTracker is the public API for this in local mode)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# Spark jobs one served query may launch, per query class: the bucket-row
# shuffle and the kernel + top-k stage (two jobs under AQE) and the docmeta
# lookup, plus the dictionary range scan for a prefix and the phrase-df
# aggregate and its broadcast for a phrase.
JOB_BUDGETS = [
    ("search", {}, 3),                      # word
    ("search engine", {}, 3),               # AND
    ("crawler | parser", {}, 3),            # OR
    ("search - engine", {}, 3),             # NOT
    ("connection", {"synonyms": True}, 3),  # synonym
    ("sear*", {}, 4),                       # prefix
    ('"index the documents"', {}, 5),       # phrase
]
