"""Site-scoped search (plans/wand.py _site_scoped): Lucene-filter
semantics — full-corpus BM25 scores, candidates restricted to the site
BEFORE every per-bucket top-k cut, across all kernel paths."""

import pytest

from search_engine_spark.operators.pipeline import run_build, run_delete
from search_engine_spark.plans.wand import PackedQueryEngine

from tests.helpers import _mk_pages

QUERIES = (
    "common engine",        # flat AND
    "word3 | word5",        # flat OR
    '"alpha t1"',           # phrase (general kernel)
    "common -word3",        # NOT (complement bounded by the allow-list)
)


def _batch(n=60):
    sites = ("alpha.example", "beta.example", "gamma.example")
    return [
        (f"http://{sites[i % 3]}/p{i:03d}",
         " ".join(["common engine", f"word{i % 7}", f"word{i % 11}"]))
        for i in range(n)
    ]


@pytest.fixture(scope="module")
def site_wh(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("site")
    cat = run_build(
        spark, _mk_pages(spark, _batch()), str(tmp / "wh"),
        num_shards=8, salt_buckets=4, merge_factor=2,
    )
    return cat


def test_site_filter_matches_unfiltered_postfilter(site_wh, spark):
    """The gold semantics: site-scoped top-k == the FULL ranking filtered
    to the site's urls and cut to k (scores unchanged — the filter must
    not perturb df/stats)."""
    e = PackedQueryEngine.from_catalog(site_wh)
    n = site_wh.read("docmeta").count()
    for q in QUERIES:
        full = [(r["url"], round(r["score"], 9))
                for r in e.search(q, k=n).collect()]
        for site in ("alpha.example", "beta.example"):
            want = [x for x in full if site in x[0]][:5]
            got = [(r["url"], round(r["score"], 9))
                   for r in e.search(q, k=5, site=site).collect()]
            assert got == want, (q, site)
            assert got, (q, site)
            assert all(site in u for u, _s in got)


def test_site_filter_no_matches_is_empty(site_wh, spark):
    e = PackedQueryEngine.from_catalog(site_wh)
    assert e.search("common engine", k=5,
                    site="nowhere.example").collect() == []


def test_site_filter_composes_with_deletes(site_wh, spark):
    """A tombstoned doc stays dead inside a site filter."""
    e = PackedQueryEngine.from_catalog(site_wh)
    top = e.search("common engine", k=3, site="alpha.example").collect()
    victim = top[0]["url"]
    run_delete(
        spark,
        spark.createDataFrame([(victim,)], ["url"]),
        site_wh.warehouse.as_posix(), label="site_del",
    )
    e2 = PackedQueryEngine.from_catalog(site_wh)
    got = [r["url"]
           for r in e2.search("common engine", k=10,
                              site="alpha.example").collect()]
    assert victim not in got
    assert got  # the rest of the site still retrieves
    assert all("alpha.example" in u for u in got)


def test_site_filter_batch_kernel(site_wh, spark):
    """search_batch over a site-scoped clone masks like single-query."""
    e = PackedQueryEngine.from_catalog(site_wh)
    scoped = e._site_scoped("beta.example")
    meta = {r["doc_id"]: r["url"]
            for r in site_wh.read("docmeta").collect()}
    rows = scoped.search_batch(["common engine", "word3 | word5"],
                               k=5).collect()
    assert rows
    assert all("beta.example" in meta[r["doc_id"]] for r in rows)
