"""Index correctness (SURVEY.md §5.2 layer 4): the Spark-built postings,
docmeta and stats must equal the brute-force pure-Python oracle index built
from the same pages, plus the per-row text invariant."""

import numpy as np

from search_engine_spark.operators import codec


def _packed_postings(catalog) -> dict:
    """{(term, doc_id): (tf, positions, flags)} decoded from the packed
    index."""
    out = {}
    for r in catalog.read("postings_packed").collect():
        ids = codec.decode_docids(bytes(r["doc_ids"]))
        tfs = codec.decode_tfs(bytes(r["tfs"]))
        cuts = np.cumsum(tfs)[:-1]
        pos = np.split(codec.decode_position_stream(bytes(r["pos"]), tfs), cuts)
        fl = np.split(codec.decode_flag_stream(bytes(r["flags"])), cuts)
        for d, t, p, f in zip(ids, tfs, pos, fl):
            out[(r["term"], int(d))] = (int(t), p.tolist(), f.tolist())
    return out


def test_text_invariant(spark, pages_path):
    from search_engine_spark.operators.extract import text_invariant_violations

    pages = spark.read.parquet(pages_path)
    assert text_invariant_violations(pages).count() == 0


def test_docmeta_matches_oracle(catalog, oracle):
    meta = {r["doc_id"]: r for r in catalog.read("docmeta").collect()}
    assert len(meta) == oracle.n_docs
    for doc_id, d in enumerate(oracle.docs):
        m = meta[doc_id]
        assert m["url"] == d["url"]
        assert m["dl"] == oracle.dl[doc_id]
        assert m["title"] == d["title"]


def test_stats_match_oracle(catalog, oracle):
    stats = catalog.read("index_stats").collect()[0]
    assert stats["n_docs"] == oracle.n_docs
    assert abs(stats["avgdl"] - oracle.avgdl) < 1e-9
    assert stats["total_postings"] == sum(
        len(v) for v in oracle.postings.values()
    )


def test_postings_match_oracle(catalog, oracle):
    got = _packed_postings(catalog)
    exp = {
        (t, d): (len(ps), ps, oracle.pflags[t][d])
        for t, dp in oracle.postings.items()
        for d, ps in dp.items()
    }
    assert len(got) == len(exp)
    assert got == exp


def test_dedup_first_wins(catalog, pages_rows):
    urls = [r["url"] for r in pages_rows]
    assert len(urls) > len(set(urls)), "fixture must contain duplicate urls"
    meta = catalog.read("docmeta")
    assert meta.count() == meta.select("url").distinct().count()


def test_doc_ids_dense_and_sorted_by_url(catalog):
    rows = catalog.read("docmeta").orderBy("doc_id").collect()
    ids = [r["doc_id"] for r in rows]
    assert ids == list(range(len(rows)))
    urls = [r["url"] for r in rows]
    assert urls == sorted(urls)


def test_title_terms_decorated(catalog):
    assert any(t.startswith("@") for t, _d in _packed_postings(catalog))


def test_link_graph(catalog):
    """S6: outlink edge table from the parsed links side output."""
    from search_engine_spark.operators.build import link_graph

    edges = link_graph(catalog.read("docs")).collect()
    assert edges
    for r in edges[:50]:
        assert r["dst_url"].startswith("http")
        assert r["dst_url"] == r["dst_url"].lower()  # parser lowercases E1


def test_lineage_written(catalog):
    recs = catalog.lineage_records()
    phases = {r["phase"] for r in recs}
    assert {"p1_docs_raw", "p2a_docs_sorted", "p2b_docs", "p3_docmeta", "p4_postings", "p5_stats"} <= phases
    for r in recs:
        assert r["total_rows"] == sum(p["rows"] for p in r["partitions"])


def test_doc_id_stamp_scales_to_1000_partitions(spark, tmp_path):
    """The pid→offset lookup is a broadcast join, so a build with 10³
    shuffle partitions (the 100-TB shape) must stamp dense url-rank ids
    without a giant literal expression — through the pipeline's own
    passes: sorted_dedup → write → footer offsets → stamp."""
    from search_engine_spark.operators import docids

    rows = [(f"u{i:05d}", i % 7, f"txt{i}") for i in range(3000)]
    docs = spark.createDataFrame(rows, "url string, warc_ts long, text string")
    d = str(tmp_path / "sorted")
    docids.sorted_dedup(docs, num_partitions=1000).write.parquet(d)
    offsets = docids.partition_offsets_from_footers(d)
    out = docids.stamp_doc_ids(spark.read.parquet(d), offsets)
    got = sorted((r["doc_id"], r["url"]) for r in out.collect())
    assert [d for d, _ in got] == list(range(3000))  # dense 0..n-1
    urls = [u for _, u in got]
    assert urls == sorted(urls)  # id order == lexicographic url order


def test_partition_offsets_hadoop_fs_matches_pyarrow(spark, tmp_path):
    """The Hadoop-FS footer reader (object-store-safe path) must agree with
    the local pyarrow fallback."""
    from search_engine_spark.operators import docids

    d = tmp_path / "t"
    spark.range(500).selectExpr("id", "id % 3 as x").repartition(5) \
        .write.parquet(str(d))
    a = docids.partition_offsets_from_footers(d)
    b = docids.partition_offsets_from_footers(d, spark=spark)
    assert a == b and sum(1 for _ in a) == 5


def test_connected_components_crafted_graph(spark):
    """Min-label propagation: chain, triangle, and an isolated pair must
    collapse to their smallest member; convergence beyond diameter 1."""
    from search_engine_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "da long, db long",
    )
    got = {r["doc_id"]: r["cluster"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_deep_chain_pointer_doubling(spark):
    """A 200-node path has diameter 199: plain min-label propagation needs
    ~199 rounds, pointer doubling must land it within max_rounds=12
    (≈ log₂ 200 + edge-propagation slack)."""
    from search_engine_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "da long, db long"
    )
    got = connected_components(pairs, max_rounds=12).collect()
    assert len(got) == 201
    assert all(r["cluster"] == 0 for r in got)
