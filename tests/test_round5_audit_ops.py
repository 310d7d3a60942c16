"""Pure-Python twins for knn_hubness."""

import math
from collections import defaultdict

import duckdb

from search_engine_spark.catalog.ann import q_knn_hubness, _RNN_K

SF_DIR = "/root/testdata/sf0.001"


def test_knn_hubness_matches_twin(spark):
    rows = duckdb.connect().execute(
        f"SELECT vec_id, embedding::DOUBLE[] "
        f"FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    ).fetchall()
    nk = defaultdict(int)
    for va, ea in rows:
        na = math.sqrt(sum(x * x for x in ea))
        cand = []
        for vb, eb in rows:
            if va == vb:
                continue
            nb = math.sqrt(sum(x * x for x in eb))
            c = round(
                sum(x * y for x, y in zip(ea, eb)) / (na * nb), 4
            )
            cand.append((c, vb))
        for _c, vb in sorted(cand, key=lambda r: (-r[0], r[1]))[
            : _RNN_K
        ]:
            nk[vb] += 1
    vals = [nk.get(v, 0) for v, _e in rows]
    n = len(vals)
    m = sum(vals) / n
    m2 = sum(x * x for x in vals) / n
    m3 = sum(x ** 3 for x in vals) / n
    skew = (m3 - 3 * m * m2 + 2 * m ** 3) / (m2 - m * m) ** 1.5
    hist = defaultdict(int)
    for x in vals:
        hist[x] += 1
    got = {
        r.nk: (r.n_vectors, r.skewness)
        for r in q_knn_hubness(spark, SF_DIR).collect()
    }
    assert {k: v for k, (v, _s) in got.items()} == dict(hist)
    for _k, (_v, s) in got.items():
        assert abs(s - skew) < 1e-3
    # mean N_k is exactly k: every vector casts k votes
    assert abs(m - _RNN_K) < 1e-9
