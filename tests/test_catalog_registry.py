"""Registry guard: the entries other parts of the system name must stay in
``queries()``, every SQL-checked entry must keep its DuckDB oracle, and
every catalog helper must still serve some entry."""

import ast
import json
from pathlib import Path

import __spark_entry__ as entry
import bench
from search_engine_spark.driver_queries import QUERIES

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


_CATALOG = _REPO / "search_engine_spark" / "catalog"
_PKG = "search_engine_spark.catalog."


def _module_level_names(tree):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            for target in targets:
                for n in ast.walk(target):
                    if isinstance(n, ast.Name):
                        yield n.id, node


def test_every_catalog_name_is_reachable_from_a_queries_entry():
    """Dead-code guard: every module-level function, class and constant of
    catalog/ is reached, through same-module names and the cross-module
    ``from search_engine_spark.catalog.x import ...`` lines, from the
    ``mod.q_*`` / ``mod.SQL_*`` pair of some QUERIES entry.  Deleting an
    entry must delete the helpers only it used."""
    defs, imports = {}, {}
    for path in sorted(_CATALOG.glob("*.py")):
        mod = path.stem
        tree = ast.parse(path.read_text())
        imports[mod] = {
            a.asname or a.name: (n.module[len(_PKG):], a.name)
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            and (n.module or "").startswith(_PKG)
            for a in n.names
        }
        for name, node in _module_level_names(tree):
            defs[(mod, name)] = node

    def uses(key):
        mod = key[0]
        for n in ast.walk(defs[key]):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                if (mod, n.id) in defs:
                    yield mod, n.id
                elif n.id in imports[mod]:
                    yield imports[mod][n.id]

    registry = ast.parse(
        (_REPO / "search_engine_spark" / "driver_queries.py").read_text())
    roots = {(n.value.id, n.attr) for n in ast.walk(registry)
             if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name)}
    impls = {(fn.__module__.rsplit(".", 1)[1], fn.__name__)
             for fn, _ in QUERIES.values()}
    assert impls <= roots <= set(defs)

    reached, todo = set(), list(roots)
    while todo:
        key = todo.pop()
        if key not in reached:
            reached.add(key)
            todo.extend(uses(key))
    assert sorted(set(defs) - reached) == []
