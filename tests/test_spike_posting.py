"""Pure-Python twins for spike_detect and posting_histogram."""

import math
import re
from collections import Counter, defaultdict

import duckdb

from search_engine_spark.catalog.events import q_spike_detect
from search_engine_spark.catalog.corpus import q_posting_histogram

SF_DIR = "/root/testdata/sf0.001"


def _con():
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


# ---------------------------------------------------------------------------
# spike_detect
# ---------------------------------------------------------------------------

def test_spike_detect_matches_python_twin(spark):
    con = _con()
    rows = con.execute(
        "SELECT time_bucket(INTERVAL '1 hour', ts) AS win, event_type,"
        " count(*) AS n FROM events GROUP BY 1, 2 ORDER BY event_type, win"
    ).fetchall()
    by_type = defaultdict(list)
    for win, et, n in rows:
        by_type[et].append((win, n))
    cands = []
    for et, series in by_type.items():
        for i, (win, n) in enumerate(series):
            hist = [x for _w, x in series[max(0, i - 24):i]]
            if len(hist) < 12:
                continue
            mu = sum(hist) / len(hist)
            var = sum((x - mu) ** 2 for x in hist) / (len(hist) - 1)
            z = round((n - mu) / max(math.sqrt(var), 0.5), 4)
            cands.append((et, win, n, z))
    cands.sort(key=lambda r: (-r[3], r[0], r[1]))
    want = cands[:20]
    got = [
        (r.event_type, r.win, r.n, r.z)
        for r in q_spike_detect(spark, SF_DIR).collect()
    ]
    assert got == want
    assert len(got) == 20  # fixture sanity: enough history exists


def test_spike_detect_windows_run_over_preaggregate(spark):
    """The trailing-stats window must consume the hour-bucket aggregate,
    not raw events, and the final cut must be a top-k (global-sort-free)."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_spike_detect(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert plan.count("Window") >= 1
    assert "TakeOrderedAndProject" in plan
    # the aggregate must sit below the window: partial agg markers exist
    assert "HashAggregate" in plan


# ---------------------------------------------------------------------------
# posting_histogram
# ---------------------------------------------------------------------------

def test_posting_histogram_matches_python_twin(spark):
    con = _con()
    rows = con.execute("SELECT doc_id, text FROM documents").fetchall()
    df = Counter()
    for _d, text in rows:
        for t in set(
            x for x in re.split(r"[^a-z0-9]+", (text or "").lower()) if x
        ):
            df[t] += 1
    hist = defaultdict(lambda: [0, 0, 10**18, 0])
    for _t, d in df.items():
        b = d.bit_length() - 1
        h = hist[b]
        h[0] += 1
        h[1] += d
        h[2] = min(h[2], d)
        h[3] = max(h[3], d)
    want = {
        b: (h[0], h[1], h[2], h[3]) for b, h in hist.items()
    }
    got = {
        r.bucket: (r.n_terms, r.n_postings, r.min_df, r.max_df)
        for r in q_posting_histogram(spark, SF_DIR).collect()
    }
    assert got == want


def test_posting_histogram_buckets_partition_the_vocab(spark):
    rows = q_posting_histogram(spark, SF_DIR).collect()
    # buckets are disjoint power-of-two ranges covering every df
    for r in rows:
        assert 2**r.bucket <= r.min_df <= r.max_df < 2 ** (r.bucket + 1)
    # output is one row per occupied bucket, ascending
    buckets = [r.bucket for r in rows]
    assert buckets == sorted(set(buckets))
    # the histogram accounts for every posting exactly once
    con = _con()
    (n_postings,) = con.execute(
        "SELECT count(*) FROM (SELECT DISTINCT doc_id,"
        " unnest(list_filter(regexp_split_to_array(lower(text),"
        " '[^a-z0-9]+'), x -> x <> '')) AS term FROM documents)"
    ).fetchone()
    assert sum(r.n_postings for r in rows) == n_postings
