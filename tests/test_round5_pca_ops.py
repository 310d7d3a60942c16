"""Pure-Python twin for round-5 batch 33: pca_top_component."""

import math

import duckdb

from search_engine_spark.catalog.ann import _PCA_ITERS, q_pca_top_component

SF_DIR = "/root/testdata/sf0.001"


def test_pca_top_component_matches_twin(spark):
    vecs = [
        list(v) for (v,) in duckdb.connect().execute(
            f"SELECT embedding::DOUBLE[] "
            f"FROM read_parquet('{SF_DIR}/embeddings.parquet')"
        ).fetchall()
    ]
    n, d = len(vecs), len(vecs[0])
    mu = [sum(v[i] for v in vecs) / n for i in range(d)]
    cov = [
        [
            sum(v[i] * v[j] for v in vecs) / n - mu[i] * mu[j]
            for j in range(d)
        ]
        for i in range(d)
    ]
    v = [1.0] * d
    for _ in range(_PCA_ITERS):
        w = [sum(cov[i][j] * v[j] for j in range(d)) for i in range(d)]
        z = math.sqrt(sum(x * x for x in w))
        v = [x / z for x in w]
    cv = [sum(cov[i][j] * v[j] for j in range(d)) for i in range(d)]
    lam = sum(cv[i] * v[i] for i in range(d))
    res = math.sqrt(sum((cv[i] - lam * v[i]) ** 2 for i in range(d)))
    tr = sum(cov[i][i] for i in range(d))
    r = q_pca_top_component(spark, SF_DIR).collect()[0]
    assert (r.n_vecs, r.n_dims) == (n, d)
    assert abs(r.top_eigenvalue - lam) < 1e-3
    assert abs(r.trace - tr) < 1e-3
    assert abs(r.explained_share - lam / tr) < 1e-3
    assert abs(r.rayleigh_residual - res) < 1e-3
    # spectral sanity: the top eigenvalue is positive, bounded by the
    # trace, and at least the average eigenvalue trace/d
    assert 0 < r.top_eigenvalue <= r.trace + 1e-9
    assert r.top_eigenvalue >= tr / d - 1e-9
    # the iteration has to have actually converged for lam to mean
    # anything: residual small relative to the eigenvalue
    assert r.rayleigh_residual < 0.25 * r.top_eigenvalue
