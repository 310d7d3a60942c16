"""Pure-Python twins for heaps_law and zipf_fit."""

import math
import re
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from search_engine_spark.catalog.corpus import (
    _HEAPS_POINTS, q_heaps_law, q_zipf_fit, _ZIPF_K,
)

SF_DIR = "/root/testdata/sf0.001"

_WORD = re.compile(r"[^a-z0-9]+")


def _doc_words():
    t = pq.read_table(
        SF_DIR + "/documents.parquet", columns=["doc_id", "source", "text"]
    ).to_pylist()
    return [
        (r["doc_id"], r["source"], [w for w in _WORD.split(r["text"].lower()) if w])
        for r in t
    ]


def _fit(pts):
    n = len(pts)
    mx = sum(x for x, _y in pts) / n
    my = sum(y for _x, y in pts) / n
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _y in pts)
    slope = (sxy - n * mx * my) / (sxx - n * mx * mx)
    return slope, mx, my


# ---------------------------------------------------------------------------
# heaps_law
# ---------------------------------------------------------------------------

def _heaps_twin(docs):
    ids = [d for d, _s, _w in docs]
    lo, hi = min(ids), max(ids)
    p = _HEAPS_POINTS
    cps = sorted({lo + (i * (hi - lo) + p - 1) // p for i in range(1, p + 1)})
    first = {}
    dl = {}
    for d, _s, ws in docs:
        dl[d] = len(ws)
        for wd in ws:
            if wd not in first or d < first[wd]:
                first[wd] = d
    pts = []
    for cp in cps:
        vocab = sum(1 for fd in first.values() if fd <= cp)
        tokens = sum(n for d, n in dl.items() if d <= cp)
        pts.append((math.log(tokens), math.log(vocab)))
    beta, mx, my = _fit(pts)
    return round(beta, 4), round(math.exp(my - beta * mx), 4), len(pts)


def test_heaps_law_matches_python_twin(spark):
    want = _heaps_twin(_doc_words())
    row = q_heaps_law(spark, SF_DIR).collect()[0]
    assert (row.beta, row.k, row.n_points) == want
    # fixture is degenerate by design: 31-word closed vocabulary saturates
    # at the first checkpoint, so the fitted growth exponent is ~0
    assert abs(row.beta) < 0.05


def test_heaps_law_recovers_growth_exponent(spark, tmp_path):
    """On a corpus whose vocabulary genuinely grows (~n^0.5: doc i
    introduces a new word iff i is a perfect square), the fitted beta
    must match the twin exactly and sit near 0.5 — the operator measures
    growth, not just the fixture's closed vocab."""
    rows = []
    vocab = ["w0"]
    for i in range(1, 513):
        r = int(math.isqrt(i))
        if r * r == i:
            vocab.append(f"nw{r}")
        words = [vocab[(i * 7 + j) % len(vocab)] for j in range(20)] + [vocab[-1]]
        rows.append(
            {
                "doc_id": i,
                "text": " ".join(words),
                "lang": "en",
                "source": f"src{i % 4}",
                "n_chars": sum(len(w) for w in words),
            }
        )
    pq.write_table(pa.Table.from_pylist(rows), str(tmp_path / "documents.parquet"))
    docs = [
        (r["doc_id"], r["source"], r["text"].split()) for r in rows
    ]
    want = _heaps_twin(docs)
    row = q_heaps_law(spark, str(tmp_path)).collect()[0]
    assert (row.beta, row.k, row.n_points) == want
    assert 0.3 < row.beta < 0.7


# ---------------------------------------------------------------------------
# zipf_fit
# ---------------------------------------------------------------------------

def test_zipf_fit_matches_python_twin(spark):
    docs = _doc_words()
    freq = Counter(w for _d, _s, ws in docs for w in ws)
    head = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[: _ZIPF_K]
    pts = [
        (math.log(rank), math.log(f))
        for rank, (_t, f) in enumerate(head, start=1)
    ]
    slope, mx, my = _fit(pts)
    want = (round(slope, 4), round(my - slope * mx, 4), len(pts))
    row = q_zipf_fit(spark, SF_DIR).collect()[0]
    assert (row.slope, row.intercept, row.n_terms) == want
    assert row.slope < 0  # frequencies decay with rank


def test_zipf_head_cut_is_take_ordered(spark):
    """The head cut must be a distributed TakeOrdered over the term
    aggregate, never a global sort of the vocabulary."""
    plan = (
        q_zipf_fit(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
