"""Pure-Python twin for round-5 batch 32: brier_decomposition."""

from search_engine_spark.catalog.quality import (
    q_brier_decomposition, q_gopher_quality, q_quality_classifier,
)

SF_DIR = "/root/testdata/sf0.001"


def test_brier_decomposition_matches_twin(spark):
    score = {
        r.doc_id: r.p_keep
        for r in q_quality_classifier(spark, SF_DIR).collect()
    }
    label = {
        r.doc_id: int(r.keep)
        for r in q_gopher_quality(spark, SF_DIR).collect()
    }
    rows = [(score[d], label[d]) for d in score]
    n = len(rows)
    brier = sum((p - y) ** 2 for p, y in rows) / n
    ybar = sum(y for _p, y in rows) / n
    bins = {}
    for p, y in rows:
        b = min(int(p * 10), 9)
        bins.setdefault(b, []).append((p, y))
    rel = sum(
        len(v) / n
        * (sum(p for p, _y in v) / len(v) - sum(y for _p, y in v) / len(v))
        ** 2
        for v in bins.values()
    )
    res = sum(
        len(v) / n * (sum(y for _p, y in v) / len(v) - ybar) ** 2
        for v in bins.values()
    )
    unc = ybar * (1 - ybar)
    r = q_brier_decomposition(spark, SF_DIR).collect()[0]
    assert r.n_docs == n
    assert abs(r.brier - brier) < 1e-3
    assert abs(r.reliability - rel) < 1e-3
    assert abs(r.resolution - res) < 1e-3
    assert abs(r.uncertainty - unc) < 1e-3
    # generalized (Stephenson) identity: the residual equals the
    # within-bin variance of p minus twice the within-bin covariance
    assert abs(r.binning_residual - (brier - (rel - res + unc))) < 2e-3
    wbv = sum(
        len(v) / n * (
            sum(p * p for p, _y in v) / len(v)
            - (sum(p for p, _y in v) / len(v)) ** 2
        )
        for v in bins.values()
    )
    wbc = sum(
        len(v) / n * (
            sum(p * y for p, y in v) / len(v)
            - (sum(p for p, _y in v) / len(v))
            * (sum(y for _p, y in v) / len(v))
        )
        for v in bins.values()
    )
    assert abs((brier - (rel - res + unc)) - (wbv - 2 * wbc)) < 1e-9
