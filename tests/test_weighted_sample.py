"""Pure-Python twin + statistical sanity for weighted_sample."""

import math

import duckdb

from search_engine_spark.catalog.quality import (
    q_weighted_sample, _SPLIT_PRIME, _WSAMPLE_K,
)
from tests.helpers import _explain

SF_DIR = "/root/testdata/sf0.001"


def _rows():
    con = duckdb.connect()
    return con.execute(
        "SELECT doc_id, n_chars FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()


def _key(doc_id, n_chars):
    u = (
        ((doc_id % _SPLIT_PRIME) * 2654435761) % 1000000 + 0.5
    ) / 1000000.0
    return round(math.log(u) / max(n_chars, 1), 6)


def test_weighted_sample_matches_python_twin(spark):
    want = sorted(
        (
            (doc_id, max(n, 1), _key(doc_id, n))
            for doc_id, n in _rows()
        ),
        key=lambda r: (-r[2], r[0]),
    )[: _WSAMPLE_K]
    got = [
        (r.doc_id, r.w, r.key)
        for r in q_weighted_sample(spark, SF_DIR).collect()
    ]
    assert got == want


def test_weighted_sample_favors_heavy_docs(spark):
    """The sampled docs' mean weight must exceed the corpus mean weight —
    the defining property of weight-proportional sampling."""
    rows = _rows()
    corpus_mean = sum(max(n, 1) for _d, n in rows) / len(rows)
    got = q_weighted_sample(spark, SF_DIR).collect()
    assert len(got) == _WSAMPLE_K
    sample_mean = sum(r.w for r in got) / len(got)
    assert sample_mean > corpus_mean


def test_weighted_sample_plan_is_topk_not_sort(spark):
    plan = _explain(q_weighted_sample(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
