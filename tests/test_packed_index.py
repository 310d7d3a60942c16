"""Packed physical index correctness (SURVEY.md §5.2 layer 4, M3):
the salted pack + shuffle-merge must preserve the docs' postings exactly,
and the lineage/metrics + checkpoint/resume contract must hold."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import codec
from tests.helpers import _mk_pages, _packed_fingerprint


@pytest.fixture(scope="module")
def packed_rows(catalog):
    return {
        (r["term"], r["bucket"]): r
        for r in catalog.read("postings_packed").collect()
    }


def test_packed_matches_logical_postings(catalog, packed_rows):
    from search_engine_spark.operators import build as B

    logical = {
        r["term"]: r
        for r in B.build_postings(catalog.read("docs"))
        .groupBy("term")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "tf"))).alias("p"),
            F.count("*").alias("df"),
        )
        .collect()
    }
    # reassemble each term from its (possibly several) bucket rows
    by_term: dict[str, list] = {}
    for (term, bucket), r in packed_rows.items():
        by_term.setdefault(term, []).append(r)
    assert set(by_term) == set(logical)
    for term, rows in by_term.items():
        rows.sort(key=lambda r: r["bucket"])
        ids, tfs = [], []
        for r in rows:
            # each row's delta stream starts absolute → decode standalone
            ids.append(codec.decode_docids(bytes(r["doc_ids"])))
            tfs.append(codec.decode_tfs(bytes(r["tfs"])))
            assert r["df"] == logical[term]["df"]  # global df on every row
        got_ids = np.concatenate(ids)
        got_tfs = np.concatenate(tfs)
        want = logical[term]["p"]
        assert np.array_equal(got_ids, np.array([x["doc_id"] for x in want]))
        assert np.array_equal(got_tfs, np.array([x["tf"] for x in want]))


def test_block_headers_bound_weights(catalog, packed_rows):
    from search_engine_spark.plans import bm25

    stats = catalog.read("index_stats").collect()[0]
    avgdl = float(stats["avgdl"])
    dl = {r["doc_id"]: r["dl"] for r in catalog.read("docmeta").collect()}
    checked = 0
    for r in list(packed_rows.values())[:200]:
        ids = codec.decode_docids(bytes(r["doc_ids"]))
        tfs = codec.decode_tfs(bytes(r["tfs"]))
        last = np.asarray(r["block_last"])
        maxw = np.asarray(r["block_maxw"])
        assert int(last[-1]) == int(ids[-1])
        w = np.array([bm25.weight(t, dl[d], avgdl) for d, t in zip(ids, tfs)])
        bidx = np.searchsorted(last, ids)
        assert (w <= maxw[bidx] + 1e-12).all()
        checked += 1
    assert checked


def test_bucket_rows_respect_doc_ranges(catalog, packed_rows):
    width = catalog.get_prop("bucket_width")
    for (term, bucket), r in packed_rows.items():
        ids = codec.decode_docids(bytes(r["doc_ids"]))
        assert (ids // width == bucket).all()
        assert (np.diff(ids) > 0).all()
        assert r["n_docs"] == ids.size


def test_head_term_salting_bounds_groups(catalog, packed_rows):
    """North rule: explicit skew handling.  The doc-range salt must split
    head terms (df ≫ bucket width) across multiple rows, each bounded by
    the bucket width — no task ever materializes a whole head posting
    list."""
    props_width = catalog.get_prop("bucket_width")
    assert props_width
    by_term: dict[str, list] = {}
    for (term, bucket), r in packed_rows.items():
        by_term.setdefault(term, []).append(r)
    head = max(by_term.items(), key=lambda kv: sum(x["n_docs"] for x in kv[1]))
    term, rows = head
    df = sum(r["n_docs"] for r in rows)
    assert df > props_width  # corpus genuinely has a head term
    assert len(rows) > 1, f"head term {term} not salted"
    for r in rows:
        assert r["n_docs"] <= props_width
        # and the bucket's doc range matches its id
        ids = codec.decode_docids(bytes(r["doc_ids"]))
        assert ids[0] // props_width == r["bucket"]
        assert ids[-1] // props_width == r["bucket"]


def test_shard_partitioning(catalog):
    """term → one shard (df is complete per term) + hive layout on disk."""
    packed = catalog.read("postings_packed")
    multi = (
        packed.groupBy("term")
        .agg(F.countDistinct("shard").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert multi == 0
    assert any(p.name.startswith("shard=") for p in catalog.path("postings_packed").iterdir()
               if p.is_dir())


def test_doclens_dense(catalog):
    meta = {r["doc_id"]: r["dl"] for r in catalog.read("docmeta").collect()}
    seen = 0
    for r in catalog.read("doclens").collect():
        start = r["start"]
        for i, dl in enumerate(r["dls"]):
            assert meta[start + i] == dl
            seen += 1
    assert seen == len(meta)


def test_lineage_records_phases(catalog):
    phases = {rec["phase"] for rec in catalog.lineage_records()}
    assert {"p1_docs_raw", "p2a_docs_sorted", "p2b_docs", "p3_docmeta", "p4_postings", "p5_stats",
            "p6b_doclens", "p6_packed"} <= phases
    for rec in catalog.lineage_records():
        assert rec["total_rows"] == sum(p["rows"] for p in rec["partitions"])


def test_resume_after_midbuild_kill(spark, pages_path, tmp_path):
    """SURVEY §5.2 layer 6: a build killed between phases continues from
    the last durable phase and produces identical final tables."""
    import shutil

    from search_engine_spark.operators.pipeline import run_build

    wh = tmp_path / "wh_kill"
    pages = spark.read.parquet(pages_path)
    cat = run_build(spark, pages, str(wh), num_shards=8, salt_buckets=4,
                    merge_factor=2)
    # "killed" before pack: drop every p6 output, phases 1-5 stay durable
    for t in ("postings_partial", "doclens", "postings_packed"):
        cat.drop(t)
    assert not cat.exists("postings_packed")
    docs_mtime = (wh / "docs" / "_SUCCESS").stat().st_mtime
    # resume: completes pack without touching earlier phases
    cat = run_build(spark, pages, str(wh), num_shards=8, salt_buckets=4,
                    merge_factor=2)
    assert (wh / "docs" / "_SUCCESS").stat().st_mtime == docs_mtime
    assert cat.exists("postings_packed")
    n = cat.read("postings_packed").count()
    assert n > 0
    shutil.rmtree(wh, ignore_errors=True)


def test_metrics_tables(catalog):
    """lineage + metrics sidecar TABLES (north rule) materialized from the
    per-phase records, queryable like any other table."""
    from pyspark.sql import functions as F

    lin = {r["phase"]: r for r in catalog.read("lineage").collect()}
    assert {"p1_docs_raw", "p2a_docs_sorted", "p4_postings", "p6_packed"} <= set(lin)
    met = catalog.read("metrics")
    per_phase = {
        r["phase"]: r["rows"]
        for r in met.groupBy("phase").agg(F.sum("rows").alias("rows")).collect()
    }
    for phase, row in lin.items():
        assert per_phase[phase] == row["total_rows"], phase


def test_resume_skips_completed_phases(catalog, spark, pages_path, tmp_path):
    """Re-running the build over an existing warehouse must not rewrite
    completed phases (checkpoint resume, north-rule requirement)."""
    from search_engine_spark.operators.pipeline import run_build

    before = {
        t: (catalog.path(t) / "_SUCCESS").stat().st_mtime
        for t in ("docs", "docmeta", "postings_packed")
    }
    pages = spark.read.parquet(pages_path)
    run_build(spark, pages, str(catalog.warehouse), num_shards=8, salt_buckets=4)
    after = {
        t: (catalog.path(t) / "_SUCCESS").stat().st_mtime
        for t in ("docs", "docmeta", "postings_packed")
    }
    assert before == after


# ---------------------------------------------------------------------------
# incremental append (crawl refresh): new partials + ONE merge pass must
# converge bit-identically to a from-scratch build of the union corpus
# ---------------------------------------------------------------------------

def test_incremental_append_converges_to_from_scratch(spark, tmp_path):
    from search_engine_spark.operators.pipeline import run_append, run_build

    rng_words = lambda i: " ".join(  # noqa: E731
        ["common engine"] + [f"word{j}" for j in (i % 7, i % 11, i % 13)]
    )
    # batch2 urls sort strictly AFTER batch1's, so the delta's url-rank ids
    # continue the base build's id space exactly as a union build would
    batch1 = [(f"http://aaa{i:03d}.com/p", rng_words(i)) for i in range(58)]
    batch2 = [(f"http://zzz{i:03d}.com/p", rng_words(100 + i))
              for i in range(40)]

    base = run_build(
        spark, _mk_pages(spark, batch1), str(tmp_path / "wh_inc"),
        num_shards=8, salt_buckets=4, merge_factor=2,
    )
    width = int(base.get_prop("p6a_bucket_width"))
    assert 58 % width != 0          # the append genuinely straddles a bucket

    inc = run_append(
        spark, _mk_pages(spark, batch2), str(tmp_path / "wh_inc")
    )
    full = run_build(
        spark, _mk_pages(spark, batch1 + batch2), str(tmp_path / "wh_full"),
        num_shards=8, salt_buckets=4, merge_factor=2,
        bucket_width=width,         # appends inherit the base build's grid
    )

    assert _packed_fingerprint(inc) == _packed_fingerprint(full)
    # forward index + stats converge too
    dl_inc = {r["bucket"]: (r["start"], list(r["dls"]))
              for r in inc.read("doclens").collect()}
    dl_full = {r["bucket"]: (r["start"], list(r["dls"]))
               for r in full.read("doclens").collect()}
    assert dl_inc == dl_full
    s_inc = inc.read("index_stats").collect()[0]
    s_full = full.read("index_stats").collect()[0]
    assert (s_inc["n_docs"], s_inc["avgdl"]) == (s_full["n_docs"], s_full["avgdl"])

    # the append is guarded: re-running it is a no-op, not a double-append
    n_meta = inc.read("docmeta").count()
    run_append(spark, _mk_pages(spark, batch2), str(tmp_path / "wh_inc"))
    assert inc.read("docmeta").count() == n_meta

    # and queries over the appended warehouse equal the union build's
    from search_engine_spark.plans.wand import PackedQueryEngine

    e_inc = PackedQueryEngine.from_catalog(inc)
    e_full = PackedQueryEngine.from_catalog(full)
    for q in ("common engine", "word3 | word5", '"alpha t1"'):
        got = [(r["doc_id"], round(r["score"], 9))
               for r in e_inc.search(q, k=10).collect()]
        want = [(r["doc_id"], round(r["score"], 9))
                for r in e_full.search(q, k=10).collect()]
        assert got == want, q


def test_adversarial_head_term_salting_torture(spark, tmp_path):
    """North-rule skew handling at the adversarial extreme (beyond Zipf):
    ONE stem present in 100% of documents.  The salted pack must bound
    every task's group by bucket_width (no task ever sees the whole
    posting list) and the merge must see exactly salt_buckets partials for
    that term, folded into salt_buckets/merge_factor packed rows."""
    from search_engine_spark.operators.pipeline import run_build

    n = 64
    specs = [(f"http://h{i:03d}.com/p",
              f"everywhere filler{i % 9} tail{i % 5}") for i in range(n)]
    cat = run_build(
        spark, _mk_pages(spark, specs), str(tmp_path / "wh_skew"),
        num_shards=8, salt_buckets=4, merge_factor=2,
    )
    width = int(cat.get_prop("p6a_bucket_width"))
    assert width == 16                     # ceil(64/4)

    partials = cat.read("postings_partial").collect()
    # the head stem is the one with global df == n
    df_by_term = {}
    for r in partials:
        df_by_term[r["term"]] = df_by_term.get(r["term"], 0) + r["n_docs"]
    head = [t for t, d in df_by_term.items() if d == n and not t.startswith("@")]
    assert head, "expected a stem present in every doc"
    ht = head[0]

    hrows = [r for r in partials if r["term"] == ht]
    # exactly one bounded partial per doc bucket — the whole list never
    # materializes in one task
    assert len(hrows) == 4                 # == salt_buckets
    assert all(r["n_docs"] == width for r in hrows)
    assert sorted(r["bucket"] for r in hrows) == [0, 1, 2, 3]

    packed = [r for r in cat.read("postings_packed").collect()
              if r["term"] == ht]
    assert len(packed) == 2                # salt_buckets / merge_factor
    assert all(r["df"] == n for r in packed)
    assert sorted(r["n_docs"] for r in packed) == [32, 32]
    # every posting survived the two-level aggregation
    got = np.concatenate([
        codec.decode_docids(bytes(r["doc_ids"]))
        for r in sorted(packed, key=lambda r: r["bucket"])
    ])
    assert np.array_equal(got, np.arange(n))


def test_force_rebuild_clears_stale_append_flags(spark, tmp_path):
    """A force rebuild must not inherit the old warehouse's properties:
    an append_<label>_applied flag surviving the rebuild would make a
    later append that reuses the label silently no-op against the NEW
    base (the delta's docs would simply be missing from the index)."""
    from search_engine_spark.operators.pipeline import run_append, run_build

    batch1 = [(f"http://aaa{i:02d}.com/p", f"alpha beta w{i % 5}")
              for i in range(20)]
    batch2 = [(f"http://zzz{i:02d}.com/p", f"gamma delta w{i % 3}")
              for i in range(10)]
    wh = str(tmp_path / "wh")

    run_build(spark, _mk_pages(spark, batch1), wh,
              num_shards=8, salt_buckets=4, merge_factor=2)
    cat = run_append(spark, _mk_pages(spark, batch2), wh, label="refresh")
    assert cat.read("docmeta").count() == 30
    assert cat.get_prop("append_refresh_applied")

    # force-rebuild the SAME warehouse path from scratch…
    cat2 = run_build(spark, _mk_pages(spark, batch1), wh,
                     num_shards=8, salt_buckets=4, merge_factor=2,
                     force=True)
    assert cat2.get_prop("append_refresh_applied") is None  # flag cleared
    assert cat2.read("docmeta").count() == 20

    # …and the same-label append must REALLY apply, not no-op
    cat3 = run_append(spark, _mk_pages(spark, batch2), wh, label="refresh")
    assert cat3.read("docmeta").count() == 30
    assert cat3.read("index_stats").collect()[0]["n_docs"] == 30


def test_tiered_append_equals_full_append_results(spark, tmp_path):
    """Tiered compaction copies untouched buckets (df patched, bounds
    scaled) and re-merges only the delta-touched tail: query results must
    EQUAL full compaction's exactly (same ids, same scores), the copied
    rows' payload bytes must be byte-identical to the pre-append base
    (never re-encoded), their df must reflect the union corpus, and every
    stored bound must still dominate the true weights under the NEW
    avgdl (lossless WAND)."""
    import numpy as np

    from search_engine_spark.operators import codec
    from search_engine_spark.operators.pipeline import run_append, run_build
    from search_engine_spark.plans import bm25
    from search_engine_spark.plans.wand import PackedQueryEngine

    rng_words = lambda i: " ".join(  # noqa: E731
        ["common engine"] + [f"word{j}" for j in (i % 7, i % 11, i % 13)]
    )
    batch1 = [(f"http://aaa{i:03d}.com/p", rng_words(i)) for i in range(58)]
    # delta docs are much longer: avgdl grows, so the copied buckets'
    # bound correction (ratio > 1) is actually exercised
    batch2 = [(f"http://zzz{i:03d}.com/p",
               rng_words(100 + i) + " filler" * 30) for i in range(40)]

    from search_engine_spark.sources.catalog import IndexCatalog

    wh_full, wh_tier = str(tmp_path / "wh_full"), str(tmp_path / "wh_tier")
    for wh in (wh_full, wh_tier):
        run_build(spark, _mk_pages(spark, batch1), wh,
                  num_shards=8, salt_buckets=4, merge_factor=2)
    base_bytes = {
        (r["term"], r["bucket"]): (bytes(r["doc_ids"]), bytes(r["tfs"]),
                                   bytes(r["pos"]), r["df"])
        for r in IndexCatalog(spark, wh_tier).read("postings_packed").collect()
    }

    full = run_append(spark, _mk_pages(spark, batch2), wh_full,
                      compaction="full")
    tier = run_append(spark, _mk_pages(spark, batch2), wh_tier,
                      compaction="tiered")

    # 1) same corpus stats, same row universe
    sf, st = (c.read("index_stats").collect()[0] for c in (full, tier))
    assert (sf["n_docs"], sf["avgdl"]) == (st["n_docs"], st["avgdl"])
    avgdl = float(st["avgdl"])

    rows_f = {(r["term"], r["bucket"]): r
              for r in full.read("postings_packed").collect()}
    rows_t = {(r["term"], r["bucket"]): r
              for r in tier.read("postings_packed").collect()}
    assert rows_f.keys() == rows_t.keys()

    # 2) payloads and df identical everywhere between the two modes
    for key, rt in rows_t.items():
        rf = rows_f[key]
        assert bytes(rt["doc_ids"]) == bytes(rf["doc_ids"])
        assert bytes(rt["tfs"]) == bytes(rf["tfs"])
        assert bytes(rt["pos"]) == bytes(rf["pos"])
        assert rt["df"] == rf["df"], key
    # …and at least one base bucket was copied verbatim (payload bytes
    # byte-identical to the pre-append base row)
    copied_buckets = [(t, b) for (t, b), v in base_bytes.items()
                      if (t, b) in rows_t
                      and bytes(rows_t[(t, b)]["doc_ids"]) == v[0]
                      and bytes(rows_t[(t, b)]["pos"]) == v[2]]
    assert copied_buckets, "no untouched bucket was copied"

    # 3) df on a copied row counts the union corpus ('common' is in every
    # doc of both batches)
    common_rows = [r for (t, _), r in rows_t.items() if t == "common"]
    assert common_rows and all(r["df"] == 98 for r in common_rows)

    # 4) stored bounds still dominate true weights under the new avgdl
    dl = {r["doc_id"]: r["dl"] for r in tier.read("docmeta").collect()}
    for r in rows_t.values():
        ids = codec.decode_docids(bytes(r["doc_ids"]))
        tfs = codec.decode_tfs(bytes(r["tfs"]))
        last = np.asarray(r["block_last"])
        maxw = np.asarray(r["block_maxw"])
        w = np.array([bm25.weight(t, dl[d], avgdl) for d, t in zip(ids, tfs)])
        bidx = np.searchsorted(last, ids)
        assert (w <= maxw[bidx] + 1e-12).all(), r["term"]

    # 5) query results exactly equal
    ef, et = (PackedQueryEngine.from_catalog(c) for c in (full, tier))
    for q in ("common engine", "word3 | word5", "engine - word4",
              '"common engine"'):
        got = [(r["doc_id"], round(r["score"], 9))
               for r in et.search(q, k=10).collect()]
        want = [(r["doc_id"], round(r["score"], 9))
                for r in ef.search(q, k=10).collect()]
        assert got == want, q


# ---------------------------------------------------------------------------
# round 5: manifest-based tiered appends — file reuse, compaction debt,
# crash-retry idempotence (VERDICT r4 items 3/4 + ADVICE fixes)
# ---------------------------------------------------------------------------

def _search_sig(cat, queries=("common engine", "word3 | word5",
                              "engine - word4", '"common engine"')):
    from search_engine_spark.plans.wand import PackedQueryEngine

    eng = PackedQueryEngine.from_catalog(cat)
    return {
        q: [(r["doc_id"], round(r["score"], 9))
            for r in eng.search(q, k=10).collect()]
        for q in queries
    }


def _batches(sizes, prefixes=("aaa", "mmm", "qqq", "zzz")):
    """Successive url batches in strictly increasing sort order, so each
    delta's ids continue the previous corpus's exactly as a union build's
    would (the bit-identity precondition documented on run_append)."""
    rng_words = lambda i: " ".join(  # noqa: E731
        ["common engine"] + [f"word{j}" for j in (i % 7, i % 11, i % 13)]
    )
    out, n0 = [], 0
    for p, n in zip(prefixes, sizes):
        out.append([(f"http://{p}{i:03d}.com/p", rng_words(n0 + i))
                    for i in range(n)])
        n0 += n
    return out


def test_three_tiered_appends_reuse_files_and_match_scratch(spark, tmp_path):
    """Three successive tiered appends: (a) every parquet file of the base
    packed table is REFERENCED, never rewritten (metadata-only commit —
    same path, same mtime); (b) the manifest grows one generation per
    append; (c) query results stay exactly rank- and score-identical to a
    from-scratch build of the full union corpus."""
    from search_engine_spark.operators.pipeline import run_append, run_build

    b0, d1, d2, d3 = _batches([58, 20, 20, 20])
    wh = str(tmp_path / "wh_multi")
    cat = run_build(spark, _mk_pages(spark, b0), wh,
                    num_shards=8, salt_buckets=4, merge_factor=2)
    width = int(cat.get_prop("p6a_bucket_width"))
    base_files = {
        p: p.stat().st_mtime
        for p in cat.path("postings_packed").rglob("*.parquet")
    }
    assert base_files

    for i, d in enumerate((d1, d2, d3), start=1):
        cat = run_append(spark, _mk_pages(spark, d), wh, label=f"d{i}",
                         compaction="tiered")
        man = cat.read_manifest("postings_packed")
        assert man is not None and len(man["generations"]) == i + 1
        # base generation files untouched on disk
        for p, mt in base_files.items():
            assert p.exists() and p.stat().st_mtime == mt
        # older generations carry the df patches of every later append
        assert man["generations"][0]["patches"] == \
            [f"postings_df_patch_d{j}" for j in range(1, i + 1)]

    scratch = run_build(
        spark, _mk_pages(spark, b0 + d1 + d2 + d3),
        str(tmp_path / "wh_scratch"),
        num_shards=8, salt_buckets=4, merge_factor=2, bucket_width=width,
    )
    assert _search_sig(cat) == _search_sig(scratch)
    # df seen through the query view (stored df + the generation's df
    # delta) counts the union corpus everywhere
    view = cat.query_view()
    df_man = {(r["term"], r["bucket"]):
              r["df"] + view.df_delta.at(r["bucket"]).get(r["term"], 0)
              for r in view.packed.collect()}
    df_scr = {(r["term"], r["bucket"]): r["df"]
              for r in scratch.read("postings_packed").collect()}
    assert df_man == df_scr


def test_compaction_debt_promotes_to_full(spark, tmp_path):
    """The debt policy: once the manifest would exceed max_generations (or
    bound inflation the limit), a tiered request is auto-promoted to a
    full merge that retires the manifest and reclaims the tail/patch
    files — and the result still matches a from-scratch union build."""
    from search_engine_spark.operators.pipeline import run_append, run_build

    b0, d1, d2 = _batches([58, 20, 20])
    wh = str(tmp_path / "wh_debt")
    cat = run_build(spark, _mk_pages(spark, b0), wh,
                    num_shards=8, salt_buckets=4, merge_factor=2)
    width = int(cat.get_prop("p6a_bucket_width"))

    cat = run_append(spark, _mk_pages(spark, d1), wh, label="d1",
                     compaction="tiered", max_generations=2)
    assert len(cat.read_manifest("postings_packed")["generations"]) == 2

    # third generation would exceed the cap → promoted to full
    cat = run_append(spark, _mk_pages(spark, d2), wh, label="d2",
                     compaction="tiered", max_generations=2)
    assert cat.read_manifest("postings_packed") is None
    assert not cat.path("postings_packed_tail_d1").exists()
    assert not cat.path("postings_df_patch_d1").exists()
    rec = [r for r in cat.lineage_records() if r["phase"] == "a6_merge_d2"][-1]
    assert rec["compaction"] == "full" and rec["promoted_from_tiered"]

    scratch = run_build(
        spark, _mk_pages(spark, b0 + d1 + d2), str(tmp_path / "wh_scr2"),
        num_shards=8, salt_buckets=4, merge_factor=2, bucket_width=width,
    )
    assert _packed_fingerprint(cat) == _packed_fingerprint(scratch)


def test_bound_inflation_promotes_to_full(spark, tmp_path):
    """avgdl drift beyond bound_inflation_limit trips the same promotion:
    much-longer delta docs raise avgdl so max(1, new/gen) > limit."""
    from search_engine_spark.operators.pipeline import run_append, run_build

    b0, d1 = _batches([58, 30])
    d1 = [(u, w + " filler" * 40) for u, w in d1]   # avgdl jumps
    wh = str(tmp_path / "wh_infl")
    run_build(spark, _mk_pages(spark, b0), wh,
              num_shards=8, salt_buckets=4, merge_factor=2)
    cat = run_append(spark, _mk_pages(spark, d1), wh, label="d1",
                     compaction="tiered", bound_inflation_limit=1.05)
    # base avgdl ~8, union avgdl far above 1.05× that → promoted
    assert cat.read_manifest("postings_packed") is None
    rec = [r for r in cat.lineage_records() if r["phase"] == "a6_merge_d1"][-1]
    assert rec["compaction"] == "full" and rec["promoted_from_tiered"]


def test_append_retry_after_merge_crash_never_double_applies(
        spark, tmp_path, monkeypatch):
    """ADVICE r4 (medium): a crash between the delta appends and the merge
    (e.g. merge OOM) followed by a re-run must resume WITHOUT re-appending
    docmeta/postings/partials — per-sub-step markers, not one end flag."""
    from search_engine_spark.operators import merge as M
    from search_engine_spark.operators.pipeline import run_append, run_build

    b0, d1 = _batches([58, 20])
    wh = str(tmp_path / "wh_crash")
    run_build(spark, _mk_pages(spark, b0), wh,
              num_shards=8, salt_buckets=4, merge_factor=2)

    real = M.merge_partials
    calls = {"n": 0}

    def boom(*a, **kw):
        calls["n"] += 1
        raise MemoryError("injected merge OOM")

    monkeypatch.setattr(
        "search_engine_spark.operators.merge.merge_partials", boom)
    with pytest.raises(MemoryError):
        run_append(spark, _mk_pages(spark, d1), wh, label="d1")
    assert calls["n"] == 1
    monkeypatch.setattr(
        "search_engine_spark.operators.merge.merge_partials", real)

    cat = run_append(spark, _mk_pages(spark, d1), wh, label="d1")
    assert cat.read("docmeta").count() == 78            # 58 + 20, no dupes
    assert cat.read("docmeta").select("url").distinct().count() == 78
    # postings/partials not doubled either: df of the everywhere-term
    # equals the union corpus size exactly
    common = [r for r in cat.read("postings_packed").collect()
              if r["term"] == "common"]
    assert common and all(r["df"] == 78 for r in common)
    n_part = cat.read("postings_partial").count()
    # and the final state matches a clean one-shot append
    clean = run_build(
        spark, _mk_pages(spark, b0), str(tmp_path / "wh_clean"),
        num_shards=8, salt_buckets=4, merge_factor=2,
    )
    clean = run_append(spark, _mk_pages(spark, d1),
                       str(tmp_path / "wh_clean"), label="d1")
    assert n_part == clean.read("postings_partial").count()
    assert _packed_fingerprint(cat) == _packed_fingerprint(clean)


def test_empty_delta_append_is_noop(spark, tmp_path):
    """ADVICE r4: an all-duplicate delta (every url already indexed) must
    be a guarded no-op in BOTH compaction modes, not a TypeError."""
    from search_engine_spark.operators.pipeline import run_append, run_build

    b0, _ = _batches([30, 1])
    wh = str(tmp_path / "wh_empty")
    base = run_build(spark, _mk_pages(spark, b0), wh,
                     num_shards=8, salt_buckets=4, merge_factor=2)
    fp = _packed_fingerprint(base)
    for i, mode in enumerate(("tiered", "full")):
        cat = run_append(spark, _mk_pages(spark, b0), wh,
                         label=f"dup{i}", compaction=mode)
        assert cat.get_prop(f"append_dup{i}_applied")
        assert cat.read("docmeta").count() == 30
        assert _packed_fingerprint(cat) == fp
