"""Pure-Python twins for embedding_anisotropy."""

import math

import duckdb

from search_engine_spark.catalog.ann import q_embedding_anisotropy

SF_DIR = "/root/testdata/sf0.001"


def test_embedding_anisotropy_matches_twin(spark):
    vecs = [
        v for (v,) in duckdb.connect().execute(
            f"SELECT embedding::DOUBLE[] "
            f"FROM read_parquet('{SF_DIR}/embeddings.parquet')"
        ).fetchall()
    ]
    units = []
    for v in vecs:
        nrm = math.sqrt(sum(x * x for x in v))
        units.append([x / nrm for x in v])
    n, d = len(units), len(units[0])
    ssum = [sum(u[i] for u in units) for i in range(d)]
    mean_cos = (sum(s * s for s in ssum) - n) / (n * (n - 1))
    r = q_embedding_anisotropy(spark, SF_DIR).collect()[0]
    assert (r.n_vecs, r.n_dims) == (n, d)
    assert abs(r.mean_pairwise_cos - mean_cos) < 1e-3
    # identity check against a brute-force O(n^2) computation on a slice
    sub = units[:40]
    brute = sum(
        sum(a * b for a, b in zip(sub[i], sub[j]))
        for i in range(len(sub)) for j in range(len(sub)) if i != j
    ) / (len(sub) * (len(sub) - 1))
    ss = [sum(u[i] for u in sub) for i in range(d)]
    ident = (sum(s * s for s in ss) - len(sub)) / (len(sub) * (len(sub) - 1))
    assert abs(brute - ident) < 1e-9
