"""Registry guard: the entries other parts of the system name must stay in
``queries()``, and every SQL-checked entry must keep its DuckDB oracle."""

import json
from pathlib import Path

import __spark_entry__ as entry
import bench

_REPO = Path(__file__).resolve().parents[1]


def test_queries_cover_correctness_sample_and_bench_headline():
    names = set(entry.queries())
    sampled = json.loads((_REPO / "CORRECTNESS_r05.json").read_text())
    assert set(sampled) - names == set()
    assert set(bench.HEADLINE) - names == set()


def test_every_sql_checked_entry_has_an_oracle_and_back():
    # the engine_* entries are checked against fixtures/golden_engine.json
    # inside __spark_entry__, not against an oracle SQL
    sql_checked = {n for n in entry.queries() if not n.startswith("engine_")}
    assert sql_checked == set(entry.oracle_sql())
