"""Pure-Python twin for link_reciprocity."""


import duckdb

from search_engine_spark.catalog.graph import _PR_RULES, q_link_reciprocity

SF_DIR = "/root/testdata/sf0.001"


def _edges():
    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchone()[0]
    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM read_parquet('{SF_DIR}/documents.parquet')"
        ).fetchall()
    ]
    edges = set()
    for i in ids:
        for m, b in _PR_RULES:
            d = (m * i + b) % n
            if d != i:
                edges.add((i, d))
    return set(ids), edges


# ---------------------------------------------------------------------------
# link_reciprocity
# ---------------------------------------------------------------------------

def test_link_reciprocity_matches_twin(spark):
    _, edges = _edges()
    nr = sum(1 for s, d in edges if (d, s) in edges)
    row = q_link_reciprocity(spark, SF_DIR).collect()[0]
    assert row.n_edges == len(edges)
    assert row.n_reciprocal == nr
    assert row.reciprocity == round(nr / len(edges), 4)
    assert 0.0 <= row.reciprocity <= 1.0


