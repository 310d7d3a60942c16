"""Physical-plan shape checks (SURVEY.md §4): the packed query path must
partition-prune to the query terms' shard directories and push the term
filter into the parquet scan; BM25 scoring joins must broadcast the tiny
side.  These are the properties that keep a 10^12-doc query from touching
more than |q| shards."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _topk_plan(eng, query: str, synonyms: bool = False) -> str:
    """The plan search() collects for ``query`` (its result is a local
    relation, so the Spark plan is read from the top-k stage)."""
    from search_engine_spark.plans.query_ast import compile_query

    return _explain(
        eng._topk(query, compile_query(query, synonyms=synonyms), 10))


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


def test_df_map_join_is_broadcast(engine):
    """The per-term df map in the exhaustive path must broadcast, never
    shuffle the postings side."""
    df = engine._scored({"search", "@search"})
    plan = _explain(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


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
    """The pack scan now carries positions (they become the packed ``pos``
    streams) but must still prune the per-occurrence flag arrays, which
    only the dynamic parity ranker reads."""
    from search_engine_spark.operators import merge

    df = merge.pack_partials(catalog.read("postings"),
                             num_shards=8, bucket_width=100)
    plan = _explain(df)
    rs = plan.split("ReadSchema")[1].splitlines()[0]
    assert "positions" in rs
    assert "pos_flags" not in rs and "flags" not in rs


def test_phrase_query_runs_on_packed_not_logical(catalog, packed_engine):
    """Phrases are first-class on the physical path: the plan must scan
    postings_packed (with shard partition pruning) and must NOT touch the
    logical postings table at all."""
    plan = _topk_plan(packed_engine, '"search engine"')
    packed_path = str(catalog.path("postings_packed"))
    logical_path = str(catalog.path("postings"))
    assert packed_path in plan
    assert logical_path + "]" not in plan and logical_path + "/" not in plan \
        and logical_path + "," not in plan
    assert "PartitionFilters" in plan
    assert "shard" in plan.split("PartitionFilters")[1].splitlines()[0]


def test_not_and_synonym_queries_run_on_packed(catalog, packed_engine):
    logical_path = str(catalog.path("postings"))
    for q, syn in (("search - engine", False), ("connection", True)):
        plan = _topk_plan(packed_engine, q, synonyms=syn)
        assert logical_path + "]" not in plan \
            and logical_path + "/" not in plan \
            and logical_path + "," not in plan, q


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


def test_phrase_fallback_prunes_shard_partitions(engine):
    """The phrase/NOT fallback reads the LOGICAL postings — which are now
    hive-partitioned by term shard — so a phrase query must prune to the
    query terms' shard dirs instead of full-scanning the table."""
    assert engine.num_shards, "postings should be shard-partitioned"
    df = engine._scored({"search", "@search", "engin", "@engin"})
    plan = _explain(df)
    assert "PartitionFilters" in plan
    assert "shard" in plan.split("PartitionFilters")[1].splitlines()[0]
    pushed = plan.split("PushedFilters")[1].splitlines()[0]
    assert "term" in pushed


def test_logical_postings_term_sorted_for_rowgroup_pruning(catalog):
    """Within each shard file the logical postings must be term-sorted, so
    parquet row-group min/max stats prune single-term reads (the dynamic
    parity mode reads this table term-filtered)."""
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(str(catalog.path("postings")) + "/shard=*/*.parquet")
    assert files
    checked = 0
    for f in files[:4]:
        md = pq.ParquetFile(f).metadata
        tcol = next(i for i in range(md.num_columns)
                    if md.schema.column(i).name == "term")
        prev_max = None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(tcol).statistics
            assert st is not None and st.has_min_max
            if prev_max is not None:
                # row groups non-overlapping-or-touching ⇒ a term-equality
                # predicate can skip every group whose [min,max] misses it
                assert st.min >= prev_max
            prev_max = st.max
            checked += 1
    assert checked > 0


def test_packed_query_matches_after_shard_pruning(engine, packed_engine):
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in packed_engine.search("search engine", k=10).collect()
    ]
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in engine.search("search engine", k=10).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
