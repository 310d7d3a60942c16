"""Delete support (operators/pipeline.run_delete + compact_deletes):
tombstone-masked queries must behave exactly as if the deleted pages were
never indexed, across every engine path (flat WAND, dense batch kernel,
general kernel phrases/NOT), and physical compaction
must change nothing observable while retiring the tombstones."""

import pytest

from search_engine_spark.operators.pipeline import (
    compact_deletes, run_append, run_build, run_delete,
)
from search_engine_spark.plans.wand import PackedQueryEngine

from tests.helpers import _mk_pages, _packed_fingerprint

QUERIES = (
    "common engine",        # flat AND (WAND kernel)
    "word3 | word5",        # flat OR
    '"alpha t1"',           # phrase (general kernel, positions)
    "common -word3",        # NOT (bucket-local complement)
)


def _words(i):
    return " ".join(
        ["common engine"] + [f"word{j}" for j in (i % 7, i % 11, i % 13)]
    )


def _batch(n=70):
    return [(f"http://site{i:03d}.com/p", _words(i)) for i in range(n)]


def _results(cat, queries=QUERIES, k=10):
    e = PackedQueryEngine.from_catalog(cat)
    return {
        q: [(r["url"], round(r["score"], 9))
            for r in e.search(q, k=k).collect()]
        for q in queries
    }


def _urls_df(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], ["url"])


@pytest.fixture(scope="module")
def deleted_wh(spark, tmp_path_factory):
    """One warehouse built over the full batch with a mid-corpus slice
    deleted, plus a scratch build over the survivors (same layout)."""
    tmp = tmp_path_factory.mktemp("del")
    batch = _batch()
    victims = [u for i, (u, _w) in enumerate(batch) if 20 <= i < 35]
    cat = run_build(
        spark, _mk_pages(spark, batch), str(tmp / "wh"),
        num_shards=8, salt_buckets=4, merge_factor=2,
    )
    width = int(cat.get_prop("p6a_bucket_width"))
    run_delete(spark, _urls_df(spark, victims), str(tmp / "wh"))
    survivors = [(u, w) for (u, w) in batch if u not in set(victims)]
    scratch = run_build(
        spark, _mk_pages(spark, survivors), str(tmp / "wh_scratch"),
        num_shards=8, salt_buckets=4, merge_factor=2, bucket_width=width,
    )
    return cat, scratch, batch, victims


def test_deleted_docs_behave_as_never_indexed(deleted_wh, spark):
    cat, scratch, _batch_, victims = deleted_wh
    got, want = _results(cat), _results(scratch)
    for q in QUERIES:
        assert got[q] == want[q], q
        assert got[q], f"{q} returned nothing"
        assert not any(u in set(victims) for u, _s in got[q])
    # survivor-only corpus stats
    s = cat.read("index_stats").collect()[0]
    t = scratch.read("index_stats").collect()[0]
    assert (s["n_docs"], s["avgdl"]) == (t["n_docs"], t["avgdl"])


def test_batch_kernel_masks_deletes(deleted_wh, spark):
    cat, scratch, _b, _v = deleted_wh
    e, es = PackedQueryEngine.from_catalog(cat), \
        PackedQueryEngine.from_catalog(scratch)
    qs = ["common engine", "word3 | word5", '"alpha t1"', "common -word3"]
    meta = {r["doc_id"]: r["url"] for r in cat.read("docmeta").collect()}
    meta_s = {r["doc_id"]: r["url"]
              for r in scratch.read("docmeta").collect()}
    got = sorted(
        (r["query"], meta[r["doc_id"]], round(r["score"], 9))
        for r in e.search_batch(qs, k=5).collect()
    )
    want = sorted(
        (r["query"], meta_s[r["doc_id"]], round(r["score"], 9))
        for r in es.search_batch(qs, k=5).collect()
    )
    assert got == want


def test_delete_is_idempotent_and_empty_safe(deleted_wh, spark):
    cat, _s, batch, victims = deleted_wh
    n_tombs = cat.read("tombstones").count()
    before = _results(cat)
    # same label: marked applied, a retry is a no-op
    run_delete(spark, _urls_df(spark, victims), cat.warehouse.as_posix())
    assert cat.read("tombstones").count() == n_tombs
    # a second label over already-deleted + unknown urls adds nothing
    run_delete(
        spark,
        _urls_df(spark, victims[:3] + ["http://nowhere.example/x"]),
        cat.warehouse.as_posix(), label="del2",
    )
    assert cat.read("tombstones").count() == n_tombs
    assert cat.get_prop("delete_del2_applied")
    assert _results(cat) == before


def test_readd_deleted_url_via_append(spark, tmp_path):
    batch = _batch(40)
    wh = str(tmp_path / "wh_readd")
    cat = run_build(spark, _mk_pages(spark, batch), wh,
                    num_shards=8, salt_buckets=4, merge_factor=2)
    victim_url = batch[5][0]
    run_delete(spark, _urls_df(spark, [victim_url]), wh)
    e = PackedQueryEngine.from_catalog(cat)
    assert all(r["url"] != victim_url
               for r in e.search("common engine", k=40).collect())
    # the deleted url left the first-wins set: a recrawl re-indexes it
    run_append(spark, _mk_pages(spark, [batch[5]]), wh, label="recrawl")
    e2 = PackedQueryEngine.from_catalog(cat)
    hits = [r["url"] for r in e2.search("common engine", k=40).collect()]
    assert victim_url in hits
    # and its new doc id is fresh (the tombstoned one stays dead)
    tomb_ids = {r["doc_id"] for r in cat.read("tombstones").collect()}
    live = {r["doc_id"] for r in cat.read("docmeta").collect()
            if r["url"] == victim_url}
    assert len(live) == 2 and len(live - tomb_ids) == 1


def test_compact_deletes_resumes_after_crash(spark, tmp_path, monkeypatch):
    """A compaction that crashes after swapping in the re-stamped docmeta
    and partials must, when re-run, finish the rebuild without
    re-stamping the survivors against the old victim ids."""
    from search_engine_spark.operators import merge

    batch = _batch(20)
    victims = [batch[4][0], batch[13][0]]
    wh = str(tmp_path / "wh")
    layout = {"num_shards": 8, "salt_buckets": 4, "merge_factor": 2}
    cat = run_build(spark, _mk_pages(spark, batch), wh, **layout)
    width = int(cat.get_prop("p6a_bucket_width"))
    run_delete(spark, _urls_df(spark, victims), wh)

    real = merge.pack_and_merge

    def crash(*args, **kwargs):
        monkeypatch.setattr(merge, "pack_and_merge", real)
        raise RuntimeError("injected crash")

    monkeypatch.setattr(merge, "pack_and_merge", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_deletes(spark, wh)
    compact_deletes(spark, wh)

    scratch = run_build(
        spark, _mk_pages(spark, [b for b in batch if b[0] not in victims]),
        str(tmp_path / "wh_scratch"), bucket_width=width, **layout,
    )
    assert not cat.exists("tombstones")
    assert _packed_fingerprint(cat) == _packed_fingerprint(scratch)
    meta = sorted(tuple(r) for r in cat.read("docmeta").collect())
    assert meta == sorted(tuple(r) for r in scratch.read("docmeta").collect())


def test_compact_deletes_is_bit_identical_to_scratch(deleted_wh, spark):
    """Compaction re-stamps survivor ids densely (url order preserved),
    so the compacted warehouse must be BIT-identical to the from-scratch
    survivor build — packed postings, doclens, stats — with the
    tombstone/df-patch side tables retired and queries unchanged."""
    cat, scratch, batch, victims = deleted_wh
    before = _results(cat)
    compact_deletes(spark, cat.warehouse.as_posix())
    assert not cat.exists("tombstones")
    assert not cat.exists("df_patch_deletes")
    assert _results(cat) == before
    assert _packed_fingerprint(cat) == _packed_fingerprint(scratch)
    dl = lambda c: {r["bucket"]: (r["start"], list(r["dls"]))  # noqa: E731
                    for r in c.read("doclens").collect()}
    assert dl(cat) == dl(scratch)
    assert not any(
        r["url"] in set(victims) for r in cat.read("docmeta").collect()
    )
