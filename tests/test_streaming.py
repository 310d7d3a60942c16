"""Structured-streaming ingest: checkpointed availableNow micro-batches of
extracted doc rows, exactly-once on restart, consolidated by the batch
pipeline's own phases (SURVEY-extras; replaces the reference's TCP/queue
plumbing, Parser.cpp:255-332)."""

import shutil

import pytest
from pyspark.sql import functions as F

from search_engine_spark.sources.catalog import IndexCatalog
from search_engine_spark.sources.pages import write_pages_parquet
from search_engine_spark.streaming import ingest

from tests.helpers import _mk_pages, _packed_fingerprint


@pytest.fixture()
def stream_dirs(tmp_path):
    src = tmp_path / "pages_in"
    src.mkdir()
    wh = tmp_path / "wh"
    ckpt = tmp_path / "ckpt"
    yield src, wh, ckpt
    shutil.rmtree(tmp_path, ignore_errors=True)


def _drop_file(df, dest):
    """Write ``df`` as the single parquet FILE ``dest`` (the stream source
    reads files; Spark writes directories — stage, move the part file)."""
    stage = dest.with_name(dest.name + ".stage")
    df.repartition(1).write.parquet(str(stage))
    shutil.move(str(next(stage.glob("part-*.parquet"))), dest)
    shutil.rmtree(stage)


def test_incremental_index_drains_and_resumes(spark, stream_dirs):
    src, wh, ckpt = stream_dirs
    write_pages_parquet(src / "batch0.parquet", 40)

    ingest.incremental_index(spark, str(src), str(wh), str(ckpt))
    cat = IndexCatalog(spark, wh)
    docs0 = cat.read("docs_stream").count()
    assert docs0 > 0

    # second drain with NO new files: checkpoint must prevent reprocessing
    ingest.incremental_index(spark, str(src), str(wh), str(ckpt))
    assert cat.read("docs_stream").count() == docs0

    # new file appears (disjoint corpus via a different seed) → only the
    # increment is processed, as a new batch partition
    write_pages_parquet(src / "batch1.parquet", 60, seed=43)
    ingest.incremental_index(spark, str(src), str(wh), str(ckpt))
    docs = cat.read("docs_stream")
    assert docs.count() > docs0
    assert docs.filter(F.col("batch_id") == 0).count() == docs0


def test_retried_batch_does_not_duplicate(spark, stream_dirs):
    """Exactly-once, not just at-least-once: re-running a micro-batch with
    the same batch_id (the crash-between-append-and-commit retry case) must
    OVERWRITE that batch's partition, not append a second copy."""
    src, wh, ckpt = stream_dirs
    write_pages_parquet(src / "b0.parquet", 40)
    ingest.incremental_index(spark, str(src), str(wh), str(ckpt))
    cat = IndexCatalog(spark, wh)
    d0 = cat.read("docs_stream").count()
    assert d0 > 0

    # replay batch_id=0 against the already-written output, exactly what a
    # restarted query does when the commit marker never landed
    from search_engine_spark.operators import extract

    docs = extract.extract_docs(spark.read.parquet(str(src / "b0.parquet")))
    ingest.write_stream_batch(cat, docs, batch_id=0)
    assert cat.read("docs_stream").count() == d0
    # and the rows themselves are unique per fetch (url, warc_ts)
    rows = cat.read("docs_stream")
    assert rows.count() == rows.select("url", "warc_ts").distinct().count()
    # a batch with a NEW id still appends alongside
    write_pages_parquet(src / "more.parquet", 30, seed=43)
    more = extract.extract_docs(spark.read.parquet(str(src / "more.parquet")))
    ingest.write_stream_batch(cat, more, batch_id=1)
    assert cat.read("docs_stream").count() > d0


def test_merge_resume_layout_mismatch_fails_loudly(spark, tmp_path):
    """Resuming an interrupted pack+merge with different layout parameters
    must raise, not silently misalign packed buckets with doclens."""
    from search_engine_spark.operators.merge import pack_and_merge
    from search_engine_spark.operators.pipeline import run_build
    from search_engine_spark.sources.pages import cached_pages

    wh = tmp_path / "wh"
    pages = spark.read.parquet(str(cached_pages(60)))
    cat = run_build(spark, pages, str(wh), num_shards=4, salt_buckets=4,
                    merge_factor=2)
    # simulate an interrupted merge: packed output gone, partials remain
    cat.drop("postings_packed")
    with pytest.raises(ValueError, match="layout mismatch"):
        pack_and_merge(cat, num_shards=4, salt_buckets=8, merge_factor=2)
    # original parameters still resume fine
    pack_and_merge(cat, num_shards=4, salt_buckets=4, merge_factor=2)
    assert cat.exists("postings_packed")


def test_consolidated_stream_equals_batch_build(spark, tmp_path):
    """Stream pages in two micro-batch drains, consolidate, query — the
    warehouse must be IDENTICAL (packed bytes, docmeta, ids and scores) to
    a batch build over the same corpus: the consolidation runs the batch
    build's own dedup, id, postings and merge phases."""
    from search_engine_spark.operators.pipeline import run_build
    from search_engine_spark.plans.wand import PackedQueryEngine
    from search_engine_spark.sources.pages import write_pages_parquet
    from search_engine_spark.streaming.ingest import (
        consolidate_stream, incremental_index,
    )

    src = tmp_path / "pages_in"
    src.mkdir()
    write_pages_parquet(src / "b0.parquet", 60)
    write_pages_parquet(src / "b1.parquet", 40, seed=43)

    swh = tmp_path / "wh_stream"
    incremental_index(spark, str(src), str(swh), str(tmp_path / "ck"))
    scat = IndexCatalog(spark, swh)
    consolidate_stream(scat, num_shards=8, salt_buckets=4, merge_factor=2)

    bwh = tmp_path / "wh_batch"
    both = spark.read.parquet(str(src / "b0.parquet")).unionByName(
        spark.read.parquet(str(src / "b1.parquet"))
    )
    bcat = run_build(spark, both, str(bwh), num_shards=8, salt_buckets=4,
                     merge_factor=2)

    assert _packed_fingerprint(scat) == _packed_fingerprint(bcat)
    meta = sorted(tuple(r) for r in scat.read("docmeta").collect())
    assert meta == sorted(tuple(r) for r in bcat.read("docmeta").collect())
    seng = PackedQueryEngine.from_catalog(scat)
    beng = PackedQueryEngine.from_catalog(bcat)
    for q in ("search", "search engine", "w1 | w2", '"search engine"'):
        got = [(r["doc_id"], r["url"], round(r["score"], 9))
               for r in seng.search(q, k=10).collect()]
        want = [(r["doc_id"], r["url"], round(r["score"], 9))
                for r in beng.search(q, k=10).collect()]
        assert got == want, q


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization must equal the batch
    gaps-and-islands query for sessions the watermark has closed."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.streaming import sessionize as S

    t0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

    def ev(eid, uid, minutes, value):
        return {"event_id": eid, "user_id": uid,
                "ts": t0 + dt.timedelta(minutes=minutes), "value": value}

    early = [
        ev(1, 1, 0, 1.0), ev(2, 1, 10, 2.0), ev(3, 1, 29, 3.0),   # session A
        ev(4, 1, 90, 4.0),                                        # session B
        ev(5, 2, 5, 10.0), ev(6, 2, 50, 20.0), ev(7, 2, 70, 30.0),  # two
    ]
    # far-future events advance the watermark past every early session
    late = [ev(100, 9, 10_000, 0.5), ev(101, 9, 10_001, 0.5)]

    schema = pa.schema([
        ("event_id", pa.int64()), ("user_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")), ("value", pa.float64()),
    ])
    src = tmp_path / "ev_in"
    src.mkdir()
    pq.write_table(pa.Table.from_pylist(early, schema=schema), src / "a.parquet")

    out = tmp_path / "sessions_out"

    def drain():
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, ts timestamp, value double"
            ).parquet(str(src))
        )
        q = (
            S.stream_sessionize(stream, gap_minutes=30, watermark="1 minute")
            .writeStream.format("parquet")
            .option("path", str(out))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    pq.write_table(pa.Table.from_pylist(late, schema=schema), src / "b.parquet")
    drain()

    got = {
        (r["user_id"], r["session_start"], r["session_end"],
         r["n_events"], round(r["total"], 6))
        for r in spark.read.parquet(str(out)).collect()
        if r["user_id"] != 9
    }
    batch_df = spark.createDataFrame(
        [(e["event_id"], e["user_id"], e["ts"], e["value"]) for e in early],
        "event_id long, user_id long, ts timestamp, value double",
    )
    want = {
        (r["user_id"], r["session_start"], r["session_end"],
         r["n_events"], round(r["total"], 6))
        for r in S.batch_sessionize(batch_df, gap_minutes=30).collect()
    }
    assert got == want
    assert len(want) == 4  # 2 sessions per user


def test_stateful_sessionize_out_of_order_within_watermark(spark, tmp_path):
    """A late-but-in-watermark event that PRECEDES the open session's start
    must min-update session_start (merge case) or emit its own earlier
    session (beyond-gap case) — matching batch_sessionize exactly."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.streaming import sessionize as S

    t0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

    def ev(eid, uid, minutes, value):
        return {"event_id": eid, "user_id": uid,
                "ts": t0 + dt.timedelta(minutes=minutes), "value": value}

    batch1 = [ev(1, 1, 10, 1.0), ev(2, 1, 20, 2.0),  # open session [10,20]
              ev(3, 2, 100, 5.0)]                    # open session [100,100]
    # out-of-order deliveries, all within the 3-hour watermark:
    batch2 = [ev(4, 1, 5, 4.0),    # within gap of session start → merge, start=5
              ev(5, 2, 10, 6.0)]   # >gap before [100,100] → own earlier session
    flush = [ev(100, 9, 10_000, 0.5), ev(101, 9, 10_001, 0.5)]

    schema = pa.schema([
        ("event_id", pa.int64()), ("user_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")), ("value", pa.float64()),
    ])
    src = tmp_path / "ev_in"
    src.mkdir()
    out = tmp_path / "sessions_out"

    def drain():
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, ts timestamp, value double"
            ).parquet(str(src))
        )
        q = (
            S.stream_sessionize(stream, gap_minutes=30, watermark="3 hours")
            .writeStream.format("parquet")
            .option("path", str(out))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for name, events in (("a", batch1), ("b", batch2), ("c", flush)):
        pq.write_table(pa.Table.from_pylist(events, schema=schema),
                       src / f"{name}.parquet")
        drain()

    got = {
        (r["user_id"], r["session_start"], r["session_end"],
         r["n_events"], round(r["total"], 6))
        for r in spark.read.parquet(str(out)).collect()
        if r["user_id"] != 9
    }
    all_events = batch1 + batch2
    batch_df = spark.createDataFrame(
        [(e["event_id"], e["user_id"], e["ts"], e["value"]) for e in all_events],
        "event_id long, user_id long, ts timestamp, value double",
    )
    want = {
        (r["user_id"], r["session_start"], r["session_end"],
         r["n_events"], round(r["total"], 6))
        for r in S.batch_sessionize(batch_df, gap_minutes=30).collect()
    }
    assert got == want
    # user 1: one merged session starting at the LATE event's ts (minute 5,
    # not 10) — collected timestamps are tz-naive, so compare minutes
    u1 = [w for w in want if w[0] == 1]
    assert len(u1) == 1
    _, s_start, s_end, n, total = u1[0]
    assert (s_start.minute, s_end.minute, n, total) == (5, 20, 3, 7.0)
    # user 2: the late event formed its own earlier session
    assert len([w for w in want if w[0] == 2]) == 2


def test_stateful_sessionize_late_burst_merges(spark, tmp_path):
    """TWO late events within a gap of EACH OTHER (a buffered burst) that
    both land more than a gap before the open session must form ONE earlier
    session — exactly as batch_sessionize merges them — not two singletons.
    Also covers a late event that merges into an ALREADY-CLOSED-looking
    earlier session (forward-closed sessions stay buffered until sealed)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.streaming import sessionize as S

    t0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

    def ev(eid, uid, minutes, value):
        return {"event_id": eid, "user_id": uid,
                "ts": t0 + dt.timedelta(minutes=minutes), "value": value}

    batch1 = [ev(1, 1, 200, 1.0),              # open session [200,200]
              ev(2, 2, 10, 1.0), ev(3, 2, 100, 2.0)]  # [10,10] closed by [100]
    # user 1: late burst at 20 and 40 — within the 30-min gap of each other,
    # both > gap before [200,200] → ONE session [20,40] in batch semantics.
    # user 2: late event at 30 merges into the earlier session [10,10] that a
    # naive open-session-only state would have emitted already.
    batch2 = [ev(4, 1, 20, 2.0), ev(5, 1, 40, 3.0),
              ev(6, 2, 30, 4.0)]
    flush = [ev(100, 9, 10_000, 0.5), ev(101, 9, 10_001, 0.5)]

    schema = pa.schema([
        ("event_id", pa.int64()), ("user_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")), ("value", pa.float64()),
    ])
    src = tmp_path / "ev_in"
    src.mkdir()
    out = tmp_path / "sessions_out"

    def drain():
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, ts timestamp, value double"
            ).parquet(str(src))
        )
        q = (
            S.stream_sessionize(stream, gap_minutes=30, watermark="6 hours")
            .writeStream.format("parquet")
            .option("path", str(out))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for name, events in (("a", batch1), ("b", batch2), ("c", flush)):
        pq.write_table(pa.Table.from_pylist(events, schema=schema),
                       src / f"{name}.parquet")
        drain()

    got = {
        (r["user_id"], r["session_start"], r["session_end"],
         r["n_events"], round(r["total"], 6))
        for r in spark.read.parquet(str(out)).collect()
        if r["user_id"] != 9
    }
    all_events = batch1 + batch2
    batch_df = spark.createDataFrame(
        [(e["event_id"], e["user_id"], e["ts"], e["value"]) for e in all_events],
        "event_id long, user_id long, ts timestamp, value double",
    )
    want = {
        (r["user_id"], r["session_start"], r["session_end"],
         r["n_events"], round(r["total"], 6))
        for r in S.batch_sessionize(batch_df, gap_minutes=30).collect()
    }
    assert got == want
    # user 1: the late burst is ONE session [20,40] + the open [200,200]
    u1 = sorted((w for w in want if w[0] == 1), key=lambda w: w[1])
    assert [(w[1].minute, w[2].minute, w[3]) for w in u1] == [(20, 40, 2),
                                                              (20, 20, 1)]
    # user 2: [10,30(merged)] and [100,100]
    u2 = sorted((w for w in want if w[0] == 2), key=lambda w: w[1])
    assert [(w[1].minute, w[2].minute, w[3]) for w in u2] == [(10, 30, 2),
                                                              (40, 40, 1)]


def test_ingest_metrics_window(spark, stream_dirs):
    src, wh, ckpt = stream_dirs
    write_pages_parquet(src / "b.parquet", 50)
    docs = ingest.stream_docs(spark, str(src))
    # complete mode: append would hold windows open until the watermark
    # passes their end, which a drained availableNow run never reaches
    q = (
        ingest.ingest_metrics(docs)
        .writeStream.format("memory")
        .queryName("ingest_metrics_t")
        .outputMode("complete")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from ingest_metrics_t").collect()
    assert sum(r["n_docs"] for r in rows) == 50
    assert all(r["bytes_text"] > 0 for r in rows)


def test_incremental_consolidation_equals_batch_build(spark, tmp_path):
    """Round-5 (VERDICT r4 item 5): after the first full consolidation, new
    stream micro-batches route through the incremental APPEND path
    (apply_delta) — O(delta) work, optionally a tiered metadata-only
    commit — and the streamed-then-appended warehouse still answers
    queries IDENTICALLY (ids and scores) to a batch build of the same
    corpus.  Delta urls sort after the base's (zzz > aaa), the same
    bit-identity precondition run_append documents."""
    from search_engine_spark.operators.pipeline import run_build
    from search_engine_spark.plans.wand import PackedQueryEngine
    from search_engine_spark.streaming.ingest import (
        consolidate_stream_incremental, incremental_index,
    )

    words = lambda i: " ".join(  # noqa: E731
        ["common engine"] + [f"word{j}" for j in (i % 7, i % 11, i % 13)]
    )
    batch1 = [(f"http://aaa{i:03d}.com/p", words(i)) for i in range(58)]
    batch2 = [(f"http://zzz{i:03d}.com/p", words(100 + i)) for i in range(30)]

    src = tmp_path / "pages_in"
    src.mkdir()
    swh, ckpt = tmp_path / "wh_stream", tmp_path / "ck"
    _drop_file(_mk_pages(spark, batch1), src / "b0.parquet")
    incremental_index(spark, str(src), str(swh), str(ckpt))
    scat = IndexCatalog(spark, swh)

    # first consolidation: the full build path, watermark recorded
    assert consolidate_stream_incremental(
        scat, num_shards=8, salt_buckets=4, merge_factor=2) == "full"
    wm0 = int(scat.get_prop("stream_consolidated_through"))
    # no new batches → no-op
    assert consolidate_stream_incremental(scat) is None

    # second drain brings a new micro-batch; consolidate INCREMENTALLY
    # with the tiered metadata-only commit
    _drop_file(_mk_pages(spark, batch2), src / "b1.parquet")
    incremental_index(spark, str(src), str(swh), str(ckpt))
    base_files = {
        p: p.stat().st_mtime
        for p in scat.path("postings_packed").rglob("*.parquet")
    }
    label = consolidate_stream_incremental(scat, compaction="tiered")
    assert label and label.startswith("stream_b")
    assert int(scat.get_prop("stream_consolidated_through")) > wm0
    # metadata-only: the base packed files were never rewritten
    man = scat.read_manifest("postings_packed")
    assert man is not None and len(man["generations"]) == 2
    for p, mt in base_files.items():
        assert p.exists() and p.stat().st_mtime == mt

    # batch build of the SAME corpus answers identically
    bwh = tmp_path / "wh_batch"
    width = int(scat.get_prop("p6a_bucket_width"))
    bcat = run_build(spark, _mk_pages(spark, batch1 + batch2), str(bwh),
                     num_shards=8, salt_buckets=4, merge_factor=2,
                     bucket_width=width)
    seng = PackedQueryEngine.from_catalog(scat)
    beng = PackedQueryEngine.from_catalog(bcat)
    for q in ("common engine", "word3 | word5", "engine - word4",
              '"common engine"'):
        got = [(r["doc_id"], r["url"], round(r["score"], 9))
               for r in seng.search(q, k=10).collect()]
        want = [(r["doc_id"], r["url"], round(r["score"], 9))
                for r in beng.search(q, k=10).collect()]
        assert got == want, q


def test_recrawl_after_delete_is_reindexed(spark, tmp_path):
    """A url deleted and then recrawled is indexed again by incremental
    stream consolidation, as ``run_append`` indexes it
    (test_deletes.py::test_readd_deleted_url_via_append): the first-wins
    reference set is the ALIVE docmeta, the recrawl gets a fresh doc id,
    and queries equal the oracle over the live pages."""
    from search_engine_spark.operators.pipeline import run_delete
    from search_engine_spark.oracle.bm25_oracle import OracleIndex
    from search_engine_spark.plans.wand import PackedQueryEngine
    from search_engine_spark.streaming.ingest import (
        consolidate_stream_incremental, incremental_index,
    )

    base = [(f"http://a{i:03d}.com/p", f"common engine word{i % 5}")
            for i in range(20)]
    victim = base[3][0]
    recrawl = [(victim, "common zebra")]

    src = tmp_path / "pages_in"
    src.mkdir()
    swh, ckpt = tmp_path / "wh_stream", tmp_path / "ck"
    _drop_file(_mk_pages(spark, base), src / "b0.parquet")
    incremental_index(spark, str(src), str(swh), str(ckpt))
    cat = IndexCatalog(spark, swh)
    assert consolidate_stream_incremental(
        cat, num_shards=4, salt_buckets=4, merge_factor=2) == "full"
    run_delete(spark, spark.createDataFrame([(victim,)], "url string"),
               str(swh))
    _drop_file(_mk_pages(spark, recrawl), src / "b1.parquet")
    incremental_index(spark, str(src), str(swh), str(ckpt))
    assert consolidate_stream_incremental(cat).startswith("stream_b")

    eng = PackedQueryEngine.from_catalog(cat)
    got = eng.search("zebra", k=5).collect()
    assert [(r["doc_id"], r["url"]) for r in got] == [(len(base), victim)]
    live = [r.asDict() for r in _mk_pages(
        spark, [b for b in base if b[0] != victim] + recrawl).collect()]
    oracle = OracleIndex(live)
    for q in ("zebra", "common", "common engine"):
        got = [(r["url"], r["score"]) for r in eng.search(q, k=25).collect()]
        want = [(u, s) for _d, s, u, _t in oracle.topk(q, k=25)]
        assert [u for u, _ in got] == [u for u, _ in want], q
        assert [s for _, s in got] == pytest.approx(
            [s for _, s in want], rel=1e-9, abs=1e-12), q
