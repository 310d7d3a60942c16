"""Pure-Python twin for traffic_gini."""

import json
from collections import defaultdict

import duckdb

from search_engine_spark.catalog.events import q_traffic_gini

SF_DIR = "/root/testdata/sf0.001"


def test_traffic_gini_matches_twin(spark):
    rows = duckdb.connect().execute(
        f"SELECT props FROM read_parquet('{SF_DIR}/events.parquet') "
        f"WHERE event_type = 'click'"
    ).fetchall()
    per = defaultdict(int)
    for (props,) in rows:
        k = json.loads(props).get("k") if props else None
        if k is not None:
            per[int(k)] += 1
    xs = [x for _k, x in sorted(per.items(), key=lambda r: (r[1], r[0]))]
    n = len(xs)
    tot = sum(xs)
    gini = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs)) / (
        n * tot
    )
    top = sum(x for i, x in enumerate(xs, start=1) if i * 5 > n * 4)
    r = q_traffic_gini(spark, SF_DIR).collect()[0]
    assert (r.n_items, r.total) == (n, tot)
    assert r.gini == round(gini, 4)
    assert r.top20_share == round(top / tot, 4)
    # bounds: Gini in [0, 1); top-20% share >= 20% by construction
    assert 0.0 <= r.gini < 1.0
    assert r.top20_share >= 0.2 - 1e-9
