"""Pure-Python twin for corpus_size_estimate."""

import hashlib

import duckdb

from search_engine_spark.catalog.corpus import (
    _CAPTURE_RATE_A, _CAPTURE_RATE_B, q_corpus_size_estimate,
)

SF_DIR = "/root/testdata/sf0.001"


def test_corpus_size_estimate_matches_twin(spark):
    rows = duckdb.connect().execute(
        f"SELECT doc_id FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()

    def h16(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:4], 16)

    n1 = n2 = m = 0
    for (d,) in rows:
        a = h16(f"a{d}") % 100 < _CAPTURE_RATE_A
        b = h16(f"b{d}") % 100 < _CAPTURE_RATE_B
        n1 += a
        n2 += b
        m += a and b
    n_true = len(rows)
    r = q_corpus_size_estimate(spark, SF_DIR).collect()[0]
    assert (r.n_true, r.n1, r.n2, r.n_overlap) == (n_true, n1, n2, m)
    assert r.petersen_est == round(n1 * n2 / m, 4)
    chapman = (n1 + 1) * (n2 + 1) / (m + 1) - 1
    assert r.chapman_est == round(chapman, 4)
    assert r.chapman_rel_err == round(abs(chapman - n_true) / n_true, 4)
    # with independent ~60%/50% samples the estimate should be in the
    # right ballpark (the readout the operator exists to surface)
    assert abs(chapman - n_true) / n_true < 0.2
