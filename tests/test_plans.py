"""Physical-plan shape checks (SURVEY.md §4): the packed query path must
partition-prune to the query terms' shard directories and push the term
filter into the parquet scan; BM25 scoring joins must broadcast the tiny
side.  These are the properties that keep a 10^12-doc query from touching
more than |q| shards."""

from pyspark.sql import functions as F

from tests.helpers import _explain


def _topk_plan(eng, query: str, synonyms: bool = False) -> str:
    """The candidate plan search() ranks for ``query`` — the query planner
    on a batch of one (its result is a local relation, so the Spark plan
    is read from the planner)."""
    from search_engine_spark.plans.query_ast import compile_query

    return _explain(eng._candidates(
        [(query, compile_query(query, synonyms=synonyms))], 10))


def test_packed_scan_prunes_shard_partitions(catalog, packed_engine):
    eng = packed_engine
    from search_engine_spark.operators.merge import shard_col

    kdf = eng.spark.createDataFrame([("search",)], "term string")
    shard = kdf.select(shard_col(num_shards=eng.num_shards).alias("s")).collect()[0]["s"]
    df = eng.packed.filter(
        (F.col("shard") == shard) & (F.col("term") == "search")
    )
    plan = _explain(df)
    assert "PartitionFilters" in plan
    # the shard predicate must reach the partition filter, not a post-scan
    # Filter node; the term predicate must be pushed to parquet
    assert "shard" in plan.split("PartitionFilters")[1].splitlines()[0]
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1].splitlines()[0]
    assert "term" in pushed and "search" in pushed


def test_num_shards_from_catalog_property(catalog, packed_engine):
    assert catalog.get_prop("num_shards") == 8
    assert packed_engine.num_shards == 8


def test_docs_scan_prunes_columns(spark, pages_path):
    """Column pruning: a projection of two docs columns must not read the
    heavy terms/links arrays from parquet (ReadSchema check)."""
    docs = spark.read.parquet(pages_path).select("url", "lang")
    plan = _explain(docs)
    rs = plan.split("ReadSchema")[1].splitlines()[0]
    assert "url" in rs and "lang" in rs
    assert "html" not in rs and "text" not in rs


def test_bm25_packed_query_never_reads_pos_column(packed_engine):
    """SURVEY §7.2 'positions in separate storage', realized as parquet
    column pruning: a flat BM25 query over the packed layout must not read
    the ``pos`` byte streams (only phrase plans project that column)."""
    plan = _topk_plan(packed_engine, "search engine")
    assert "ReadSchema" in plan
    for rs_part in plan.split("ReadSchema")[1:]:
        rs = rs_part.splitlines()[0]
        assert "pos:" not in rs and "pos," not in rs, rs


def test_pack_phase_prunes_flags_not_positions(catalog):
    """The p4 pack scans the docs for the posting entries — positions and
    per-occurrence flags become the packed ``pos``/``flags`` streams — but
    must prune the per-posting max flag and the text payloads."""
    from search_engine_spark.operators import build as B
    from search_engine_spark.operators import merge

    df = merge.pack_partials(B.build_postings(catalog.read("docs")),
                             num_shards=8, bucket_width=100)
    plan = _explain(df)
    rs = plan.split("ReadSchema")[1].splitlines()[0]
    assert "p_poss" in rs and "p_fposs" in rs
    for col in ("p_flags", "text", "title", "links"):
        assert f"{col}:" not in rs, col


def _scanned(plan: str, catalog) -> set[str]:
    """The warehouse tables a plan's file scans read."""
    import re

    root = re.escape(str(catalog.warehouse))
    return set(re.findall(root + r"/([A-Za-z0-9_]+)", plan))


def test_phrase_query_runs_on_packed_not_logical(catalog, packed_engine):
    """Phrases are first-class on the physical path: the plan scans only
    postings_packed (with shard partition pruning) and the doclens."""
    plan = _topk_plan(packed_engine, '"search engine"')
    assert _scanned(plan, catalog) == {"postings_packed", "doclens"}
    assert "PartitionFilters" in plan
    assert "shard" in plan.split("PartitionFilters")[1].splitlines()[0]


def test_not_and_synonym_queries_run_on_packed(catalog, packed_engine):
    for q, syn in (("search - engine", False), ("connection", True)):
        plan = _topk_plan(packed_engine, q, synonyms=syn)
        assert _scanned(plan, catalog) == {"postings_packed", "doclens"}, q


def test_topk_docmeta_lookup_is_pushed_filter(packed_engine):
    """url/title come from ONE docmeta lookup of the k winners' ids, pushed
    to the parquet scan — no join, broadcast or shuffle — and search()
    hands back a driver-local relation."""
    plan = _explain(packed_engine._meta_lookup([3, 1, 2]))
    pushed = plan.split("PushedFilters")[1].splitlines()[0]
    assert "In(doc_id" in pushed, pushed
    for op in ("Join", "Exchange", "Broadcast"):
        assert op not in plan, op
    result = _explain(packed_engine.search("search engine", k=10))
    assert "LocalTableScan" in result and "FileScan" not in result


def test_packed_query_matches_after_shard_pruning(oracle, packed_engine):
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in packed_engine.search("search engine", k=10).collect()
    ]
    want = [(d, round(s, 9)) for d, s, _u, _t in oracle.topk("search engine")]
    assert [d for d, _ in got] == [d for d, _ in want]
