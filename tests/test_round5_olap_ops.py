"""Pure-Python twin for olap_cube."""

from collections import defaultdict

import duckdb

from search_engine_spark.catalog.corpus import q_olap_cube

SF_DIR = "/root/testdata/sf0.001"


def test_olap_cube_matches_twin(spark):
    rows = duckdb.connect().execute(
        f"SELECT lang, source, n_chars "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    cube = defaultdict(lambda: [0, 0])
    for l, s, c in rows:
        for key, gid in (
            ((l, s), 0), ((l, "ALL"), 1), (("ALL", s), 2),
            (("ALL", "ALL"), 3),
        ):
            e = cube[(key, gid)]
            e[0] += 1
            e[1] += c
    got = {
        ((r.lang, r.source), r.gid): (r.n_docs, r.n_chars)
        for r in q_olap_cube(spark, SF_DIR).collect()
    }
    assert got == {k: tuple(v) for k, v in cube.items()}
    # roll-up consistency: every level sums to the grand total
    total = got[(("ALL", "ALL"), 3)]
    for gid in (0, 1, 2):
        lvl = [v for (k, g), v in got.items() if g == gid]
        assert (sum(v[0] for v in lvl), sum(v[1] for v in lvl)) == total
