"""Checkpointed, resumable index-build pipeline (SURVEY.md §3.1 Spark
lifecycle).

Phases, each writing one catalog table and a lineage record:

  p1_docs_raw  pages → extract UDF → docs_raw        (narrow map, no shuffle;
               per-doc posting entries pre-aggregated inside the UDF)
  p2a_sorted   first-wins dedup in one range shuffle (url shuffle — the
               build's only corpus-wide shuffle)
  p2b_docs     dense doc-id stamp from parquet
               footer offsets                        (narrow)
  p3_docmeta   docmeta                               (narrow)
  p4_postings  per-doc postings (narrow explode) packed
               straight into per-(term, doc bucket)
               partials: postings_partial            (salted pack shuffle)
  p5_stats     index_stats from docmeta + partials   (tiny agg)
  p6_packed    doclens + shuffle-merge into the
               term-sharded postings_packed          (see merge.py)

streaming/ingest.py runs the same phases: its full consolidation runs
p2a–p6 over the streamed doc rows, its incremental one run_append's
a1–a2b and apply_delta — one dedup rule and one id assigner for every
ingest path.

The partials are the one postings table later passes read and write:
appends add partial rows, deletes decode the tombstoned buckets' rows,
and compaction decodes, masks, re-stamps and re-packs them
(merge.unpack_partials).

Resume: a phase whose output table exists (complete _SUCCESS) is skipped,
so a killed build continues from the last durable phase — the reference has
no equivalent (its chunks are never merged; csolver re-reads everything,
SURVEY.md §2.4 A6).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from search_engine_spark.operators import build as B
from search_engine_spark.operators import docids, extract, merge
from search_engine_spark.sources.catalog import IndexCatalog


def run_build(
    spark: SparkSession,
    pages: DataFrame,
    warehouse: str,
    num_shards: int = 32,
    salt_buckets: int = 16,
    merge_factor: int | None = None,
    force: bool = False,
    bucket_width: int | None = None,
) -> IndexCatalog:
    cat = IndexCatalog(spark, warehouse)

    if force:
        _drop_build(cat)

    if not cat.exists("docs_raw"):
        # extraction is a pure narrow map; materializing it FIRST means the
        # id-assignment range shuffle (whose partitioner samples its input)
        # scans cheap parquet instead of re-running the extraction UDF
        def p1() -> str:
            raw = extract.extract_docs(pages)
            raw = extract.drop_overlong_titles(raw)
            cat.write("docs_raw", raw)
            return "docs_raw"

        _timed(cat, "p1_docs_raw", p1)

    _index_docs(cat, cat.read("docs_raw"), num_shards, salt_buckets,
                merge_factor, bucket_width)
    return cat


_BUILD_TABLES = ("docs_raw", "docs_sorted", "docs", "docmeta",
                 "index_stats", "postings_partial", "doclens",
                 "postings_packed", "postings_packed_next", "tombstones",
                 "df_patch_deletes", "index_stats_next", "docmeta_next",
                 "postings_partial_next")
# name prefixes of the per-label tables appends write: the stages
# docs_raw_<label>, docs_sorted_<label> and docs_<label>, the tiered tail
# and df patch.  docs_stream (the stream sink's doc rows) is not one.
_LABEL_PREFIXES = ("docs_", "postings_packed_tail_", "postings_df_patch_")


def _drop_build(cat: IndexCatalog) -> None:
    """Drop every table a build or an append writes, and the properties
    describing them (layout params, append idempotence flags) — stale
    ones must not outlive a rebuild: once the flags are cleared, a
    leftover stage of an append label would be applied again."""
    labelled = [p.name for p in cat.warehouse.iterdir()
                if p.name.startswith(_LABEL_PREFIXES)
                and p.name != "docs_stream"]
    for t in (*_BUILD_TABLES, *labelled):
        cat.drop(t)
    cat.clear_props()


def _timed(cat: IndexCatalog, phase: str, fn, **extra) -> None:
    """Run ``fn`` (which returns the table it wrote) and log its lineage
    record with the wall time."""
    t0 = time.perf_counter()
    table = fn()
    cat.log_phase(
        phase, cat.read(table),
        {"seconds": round(time.perf_counter() - t0, 2), **extra},
    )


def _index_docs(cat: IndexCatalog, raw: DataFrame, num_shards: int,
                salt_buckets: int, merge_factor: int | None,
                bucket_width: int | None) -> None:
    """Build phases p2a–p6 over ``raw`` (extracted doc rows, p1's
    shape) — shared by ``run_build`` and the stream consolidator."""
    if not cat.exists("docs_sorted"):
        # pass A: the build's ONE corpus-wide shuffle (range by url) with
        # in-partition sort + first-wins dedup; bookkeeping columns carry
        # everything id assignment needs
        def p2a() -> str:
            cat.write("docs_sorted", docids.sorted_dedup(raw))
            return "docs_sorted"

        _timed(cat, "p2a_docs_sorted", p2a)

    if not cat.exists("docs"):
        # pass B: narrow id stamp; offsets from parquet footers (no job)
        def p2b() -> str:
            offsets = docids.partition_offsets_from_footers(
                cat.path("docs_sorted"), spark=cat.spark
            )
            cat.write(
                "docs", docids.stamp_doc_ids(cat.read("docs_sorted"), offsets)
            )
            return "docs"

        _timed(cat, "p2b_docs", p2b)

    docs = cat.read("docs")

    if not cat.exists("docmeta"):
        def p3() -> str:
            cat.write("docmeta", B.build_docmeta(docs))
            return "docmeta"

        _timed(cat, "p3_docmeta", p3)

    if not cat.exists("postings_partial"):
        # the docs' posting rows go straight into the salted pack: the
        # bucket grid is sized from n_docs, which docmeta already knows
        def p4() -> str:
            merge.write_partials(
                cat, B.build_postings(docs),
                merge.pack_layout(cat.read("docmeta").count(), num_shards,
                                  salt_buckets, merge_factor, bucket_width),
            )
            return "postings_partial"

        _timed(cat, "p4_postings", p4)

    if not cat.exists("index_stats"):
        def p5() -> str:
            cat.write(
                "index_stats",
                B.build_index_stats(cat.read("docmeta"),
                                    cat.read("postings_partial")),
            )
            return "index_stats"

        _timed(cat, "p5_stats", p5)

    if not cat.exists("postings_packed"):
        def p6() -> str:
            merge.pack_and_merge(
                cat, num_shards=num_shards, salt_buckets=salt_buckets,
                merge_factor=merge_factor, bucket_width=bucket_width,
            )
            return "postings_packed"

        _timed(cat, "p6_packed", p6)

    cat.write_metrics_tables()


def run_append(
    spark: SparkSession,
    pages: DataFrame,
    warehouse: str,
    label: str = "delta1",
    compaction: str = "full",
    max_generations: int = 8,
    bound_inflation_limit: float = 1.25,
) -> IndexCatalog:
    """Incrementally index a NEW pages batch into an EXISTING packed
    warehouse — the crawl-refresh shape at 100 TB: extract + id-stamp only
    the delta, append its packed partials, then run ONE merge pass over
    all partials (old + new).  Nothing from the base build
    is re-extracted, re-shuffled, or re-packed; the merge pass is the
    LSM-style compaction (stream concatenation, positions never decoded).

    Layout (bucket_width / merge_factor / num_shards) is inherited from the
    base build's persisted catalog properties, so new partials land on the
    same doc-bucket grid.  Doc ids continue densely from the base build's
    max (url-rank WITHIN the delta); urls alive in the index are dropped
    (first batch wins; the stream consolidator's incremental mode runs
    these same phases over its new micro-batches).  Corpus stats
    (n_docs/avgdl) and doclens are recomputed over the union, and the
    merge recomputes every block-max
    header against the NEW avgdl — which is why an append converges
    bit-identically to a from-scratch build of the union corpus (asserted
    by tests/test_packed_index.py) whenever the delta's urls sort after the
    base corpus's (otherwise ids permute and results are rank-identical by
    url rather than byte-identical).

    The expensive delta phases (extract, dedup shuffle, id stamp) are
    checkpointed per ``label``; every apply sub-step (the docmeta and
    partials appends) is guarded by its OWN catalog marker, so
    a retry after a mid-apply crash (e.g. a merge OOM) resumes without
    double-appending; the final ``append_<label>_applied`` property marks
    the whole append complete.  An empty delta (every url already
    indexed) is a guarded no-op.

    ``compaction``:
    * ``"full"`` (default) — ONE merge pass over every partial; every
      block-max header is recomputed exactly for the new avgdl, and the
      result is bit-identical to a from-scratch union build.  The new
      table is written ASIDE and snapshot-swapped in, so a crash never
      leaves the warehouse without a packed table.
    * ``"tiered"`` — the LSM lever for when the merge pass dominates:
      doc ids grow densely, so every packed bucket strictly BELOW the
      delta's first doc bucket is untouched — those buckets' parquet
      FILES are REFERENCED, not rewritten: the append writes only the
      re-merged tail (buckets >= the delta's first merged bucket, exact
      headers from partials) plus a delta-vocab-sized df-patch table,
      then commits a new GENERATION to the table manifest with one
      atomic rename (``sources/catalog.py`` manifest contract — the
      Iceberg metadata-only commit).  The reader reconstructs the exact
      union: stale ``df`` is corrected by the patch tables and old
      generations' ``block_maxw`` is scaled by
      max(1, avgdl_now/avgdl_gen) — a provable upper-bound correction
      (w is monotone in avgdl with ratio at most avgdl_now/avgdl_gen),
      so WAND pruning stays LOSSLESS, merely a little looser until the
      next full compaction.  Query results are exactly equal to full
      compaction (same scores, same ids); the bit-identity claim
      applies to full mode alone.

    Compaction-debt policy: each tiered append adds a generation (one
    more read-time union branch + patch join) and, when avgdl drifted
    up, looser bounds on old generations.  Both are tracked and bounded:
    a tiered request is auto-promoted to ``"full"`` once the manifest
    would exceed ``max_generations`` or the worst generation's bound
    inflation max(1, avgdl_new/avgdl_gen) exceeds
    ``bound_inflation_limit`` — full compaction rewrites everything with
    exact headers and retires the manifest, resetting the debt to zero.
    """
    cat = IndexCatalog(spark, warehouse)
    for t in ("docmeta", "postings_partial", "postings_packed"):
        if not cat.exists(t):
            raise ValueError(f"run_append needs an existing warehouse ({t} missing)")
    raw = extract.drop_overlong_titles(extract.extract_docs(pages))
    _append_docs(cat, raw, label, compaction=compaction,
                 max_generations=max_generations,
                 bound_inflation_limit=bound_inflation_limit)
    return cat


def _append_docs(cat: IndexCatalog, raw: DataFrame, label: str,
                 **apply_kw) -> None:
    """Append phases a1–a2b plus ``apply_delta`` (``apply_kw``: its
    compaction options) over ``raw`` (extracted doc rows, p1's shape) —
    shared by ``run_append`` and the stream consolidator's incremental
    mode."""
    spark = cat.spark
    if cat.get_prop(f"append_{label}_applied"):
        return

    # fail early if the base build never persisted its layout props
    for k in ("p6a_num_shards", "p6a_bucket_width", "p6a_merge_factor"):
        if cat.get_prop(k) is None:
            raise ValueError(f"run_append needs layout property {k}")

    raw_t, sorted_t, docs_t = (f"{t}_{label}" for t in
                               ("docs_raw", "docs_sorted", "docs"))

    if not cat.exists(raw_t):
        def p1() -> str:
            # urls the base build (or an earlier append) already indexed
            # lose first-wins against the existing corpus — but a DELETED
            # url is re-indexable: the first-wins reference set is the
            # ALIVE docmeta (tombstoned docs excluded), so a recrawl of a
            # deleted page re-enters with a fresh doc id
            indexed = cat.read("docmeta")
            if cat.exists("tombstones"):
                indexed = indexed.join(
                    F.broadcast(cat.read("tombstones").select("doc_id")),
                    "doc_id", "left_anti",
                )
            cat.write(raw_t, raw.join(indexed.select("url"), "url",
                                      "left_anti"))
            return raw_t

        _timed(cat, f"a1_{raw_t}", p1, append=label)

    if not cat.exists(sorted_t):
        def p2a() -> str:
            cat.write(sorted_t, docids.sorted_dedup(cat.read(raw_t)))
            return sorted_t

        _timed(cat, f"a2a_{sorted_t}", p2a, append=label)

    if not cat.exists(docs_t):
        def p2b() -> str:
            # dense url-rank ids WITHIN the delta, offset to continue the
            # base build's id space (1-row max job over docmeta)
            base = cat.read("docmeta").agg(
                F.max("doc_id").alias("m")).collect()[0]["m"] + 1
            offsets = docids.partition_offsets_from_footers(
                cat.path(sorted_t), spark=spark
            )
            stamped = docids.stamp_doc_ids(cat.read(sorted_t), offsets)
            cat.write(docs_t, stamped.withColumn(
                "doc_id", F.col("doc_id") + F.lit(int(base))))
            return docs_t

        _timed(cat, f"a2b_{docs_t}", p2b, append=label)

    delta = cat.read(docs_t)
    apply_delta(spark, cat, B.build_docmeta(delta), B.build_postings(delta),
                label=label, **apply_kw)
    # apply_delta commits append_<label>_applied last: the stages are spent
    for t in (raw_t, sorted_t, docs_t):
        cat.drop(t)


def apply_delta(
    spark: SparkSession,
    cat: IndexCatalog,
    delta_meta: DataFrame,
    delta_posts: DataFrame,
    label: str,
    compaction: str = "full",
    max_generations: int = 8,
    bound_inflation_limit: float = 1.25,
) -> None:
    """Apply a PRE-EXTRACTED delta (docmeta rows + posting rows of the
    build_postings shape, with doc ids already stamped densely after the
    base corpus's max) to an existing packed warehouse: marker-guarded
    appends, stats/doclens refresh, one merge pass (full or
    tiered-manifest).  The last phase of every append — ``run_append``'s
    page batches and the stream consolidator's micro-batches alike."""
    num_shards = int(cat.get_prop("p6a_num_shards"))
    bucket_width = int(cat.get_prop("p6a_bucket_width"))
    merge_factor = int(cat.get_prop("p6a_merge_factor"))
    applied_key = f"append_{label}_applied"

    if delta_meta.isEmpty():
        # every url lost first-wins against the existing corpus — nothing
        # to apply; mark done so retries stay no-ops
        cat.set_prop(applied_key, 1)
        return

    # ---- apply: append delta tables, refresh stats, one merge pass -------
    # Each append sub-step commits its own marker, so a retry after a
    # mid-apply crash never double-appends (the stats/doclens overwrites
    # between them are idempotent recomputations and need no marker).
    def once(step: str, fn) -> None:
        step_key = f"append_{label}_{step}_done"
        if cat.get_prop(step_key):
            return
        fn()
        cat.set_prop(step_key, 1)

    once("docmeta", lambda: cat.write("docmeta", delta_meta, mode="append"))
    # new partials only over the delta's postings (doc ids > base max)
    once("partials", lambda: cat.write(
        "postings_partial",
        merge.pack_partials(delta_posts, num_shards, bucket_width)
        .repartition(num_shards, "shard"),
        partition_by=["shard"], mode="append",
    ))

    cat.write("index_stats", _live_index_stats(cat))
    stats = cat.read("index_stats").collect()[0]
    avgdl = float(stats["avgdl"])

    mwidth = bucket_width * merge_factor
    cat.write("doclens", merge.build_doclens(cat.read("docmeta"), mwidth))

    timed_t0 = time.perf_counter()
    old_avgdl = cat.get_prop("packed_avgdl")
    manifest = cat.read_manifest("postings_packed")
    promoted = False
    if compaction == "tiered":
        # compaction-debt policy: generations and bound looseness are both
        # bounded; past either limit this append pays for a full rewrite
        # with exact headers and the manifest retires.  A manifest-less
        # warehouse still has one implicit generation (the packed table at
        # its write-time avgdl), so even a FIRST tiered append promotes
        # when the delta moves avgdl past the inflation limit.
        gens = (manifest["generations"] if manifest is not None
                else [{"avgdl": float(old_avgdl)}])
        inflation = max(
            max(1.0, avgdl / float(g["avgdl"])) for g in gens
        )
        if (len(gens) + 1 > max_generations
                or inflation > bound_inflation_limit):
            compaction, promoted = "full", True

    if compaction == "tiered":
        # doc ids continue densely from the base max, so the delta can
        # only touch packed buckets >= m0; everything below stays ON DISK
        # untouched — this append writes only the re-merged tail and a
        # df-patch table, then commits a new generation to the manifest
        # (metadata-only; the reader applies the lossless bound scaling,
        # and IndexCatalog.query_view folds the df patch into the
        # engine's per-generation df delta, see sources/catalog.py)
        first_delta_id = int(
            delta_meta.agg(F.min("doc_id")).collect()[0][0])
        m0 = (first_delta_id // bucket_width) // merge_factor
        tail_t = f"postings_packed_tail_{label}"
        patch_t = f"postings_df_patch_{label}"
        if not cat.exists(tail_t):
            tail = merge.merge_partials(
                cat.read("postings_partial"), merge_factor, avgdl,
                bucket_min=m0 * merge_factor,
            )
            cat.write(
                tail_t,
                tail.repartition(num_shards, "shard"),
                partition_by=["shard"],
            )
        if not cat.exists(patch_t):
            # the delta's own partial rows (ids >= its first id; every base
            # row sits below) already count its postings per term, so the
            # posting explode is not run a second time
            cat.write(
                patch_t,
                cat.read("postings_partial")
                .filter(F.col("first_docid") >= first_delta_id)
                .groupBy("term").agg(
                    F.sum("n_docs").cast("long").alias("df_add")),
            )
        if manifest is None:
            manifest = {"generations": [{
                "dir": "postings_packed", "avgdl": float(old_avgdl),
                "bucket_hi": None, "patches": [],
            }]}
        if manifest["generations"][-1]["dir"] != tail_t:  # retry guard
            manifest["generations"][-1]["bucket_hi"] = m0
            for g in manifest["generations"]:
                g["patches"].append(patch_t)
            manifest["generations"].append({
                "dir": tail_t, "avgdl": avgdl,
                "bucket_hi": None, "patches": [],
            })
            # the atomic manifest rename IS the commit of this generation
            cat.write_manifest("postings_packed", manifest)
        log_table = tail_t
    else:
        merged = merge.merge_partials(
            cat.read("postings_partial"), merge_factor, avgdl
        )
        # write aside + snapshot-swap: a crash mid-write leaves the live
        # table untouched; the swap retires the manifest (if any) and
        # reclaims the generations it referenced
        cat.write(
            "postings_packed_next",
            merged.repartition(num_shards, "shard"),
            partition_by=["shard"],
        )
        cat.swap("postings_packed_next", "postings_packed")
        log_table = "postings_packed"
    cat.set_prop("packed_avgdl", repr(avgdl))
    cat.log_phase(
        f"a6_merge_{label}", log_table,
        {"seconds": round(time.perf_counter() - timed_t0, 2),
         "append": label, "compaction": compaction,
         **({"promoted_from_tiered": True} if promoted else {})},
    )
    cat.set_prop(applied_key, 1)
    cat.write_metrics_tables()


def _decoded_buckets(cat: IndexCatalog,
                     ids: DataFrame) -> tuple[DataFrame, DataFrame]:
    """postings_partial split by the doc buckets holding ``ids`` (a
    delta-sized doc_id frame): the partial rows of every other bucket, and
    the decoded posting rows (merge.unpack_partials) of those buckets —
    so deletes decode only the buckets they touch."""
    width = int(cat.get_prop("p6a_bucket_width"))
    hit = sorted({r["doc_id"] // width for r in ids.collect()})
    parts = cat.read("postings_partial")
    inside = F.col("bucket").isin(hit)
    return parts.filter(~inside), merge.unpack_partials(parts.filter(inside))


def _live_index_stats(cat: IndexCatalog) -> DataFrame:
    """index_stats over the live corpus: tombstoned docs stay out of
    n_docs, avgdl and the posting counts (their partial rows stay until
    compaction), or an append after a delete would resurrect them."""
    meta, parts = cat.read("docmeta"), cat.read("postings_partial")
    if cat.exists("tombstones"):
        tombs = cat.read("tombstones").select("doc_id")
        meta = meta.join(F.broadcast(tombs), "doc_id", "left_anti")
        clean, decoded = _decoded_buckets(cat, tombs)
        parts = clean.select("term", "n_docs").unionByName(
            decoded.join(F.broadcast(tombs), "doc_id", "left_anti")
            .select("term", F.lit(1).cast("long").alias("n_docs")))
    return B.build_index_stats(meta, parts)


def run_delete(
    spark: SparkSession,
    urls: DataFrame,
    warehouse: str,
    label: str = "del1",
) -> IndexCatalog:
    """Delete pages BY URL from an existing warehouse — the other half of
    the crawl-refresh story next to ``run_append`` (pages get taken down,
    de-listed, or re-crawled as gone at 10^12-doc scale daily).

    Deletes are LOGICAL until the next compaction, the LSM/Lucene
    live-docs shape: nothing in the packed index is rewritten.  Three
    delta-proportional side effects make every query engine behave as if
    the docs were never indexed:

    * ``tombstones`` (doc_id, label) — the kernels mask decoded postings
      and bucket complements against the per-bucket tombstone arrays
      (plans/wand.py ``_decode_rows``, plans/packed_exec.py);
    * ``df_patch_deletes`` (term, df_sub, label) — per-term df
      decrements, counted from the decoded partial rows of the victims'
      doc buckets only; ``IndexCatalog.query_view`` folds them into the
      engine's df delta when it opens, and the kernels subtract them
      from the packed rows' df, so idf matches a survivor-only corpus
      exactly;
    * ``index_stats`` recomputed over survivors (n_docs, avgdl), written
      aside and snapshot-swapped.

    Scoring equivalence is EXACT: BM25 inputs (tf, dl, df, n_docs,
    avgdl) all equal a from-scratch build of the surviving corpus, so
    results are rank-identical by url (doc ids differ from a re-stamped
    scratch build — same contract as run_append).  WAND pruning stays
    lossless: stored block_maxw values remain upper bounds when docs are
    removed.

    Crash safety mirrors run_append: each sub-step commits its own
    catalog marker keyed by ``label`` and recomputes its inputs from the
    durable tombstone rows, so a retry after a mid-delete crash never
    double-applies; ``delete_<label>_applied`` marks completion.  Urls
    not indexed (or already deleted) are dropped; an all-empty delete is
    a marked no-op.  A deleted url can be re-indexed by a later
    ``run_append`` (it leaves the first-wins reference set).
    """
    cat = IndexCatalog(spark, warehouse)
    for t in ("docmeta", "postings_partial", "index_stats"):
        if not cat.exists(t):
            raise ValueError(f"run_delete needs an existing warehouse ({t} missing)")
    applied_key = f"delete_{label}_applied"
    if cat.get_prop(applied_key):
        return cat

    def once(step: str, fn) -> None:
        step_key = f"delete_{label}_{step}_done"
        if cat.get_prop(step_key):
            return
        fn()
        cat.set_prop(step_key, 1)

    # -- victims: indexed docs matching the urls, not already tombstoned --
    def _tombstone() -> None:
        victims = (
            cat.read("docmeta")
            .join(urls.select("url").distinct(), "url", "left_semi")
            .select("doc_id")
        )
        if cat.exists("tombstones"):
            victims = victims.join(
                cat.read("tombstones").select("doc_id"), "doc_id",
                "left_anti",
            )
        cat.write(
            "tombstones",
            victims.withColumn("label", F.lit(label)),
            mode="append",
        )

    once("tombs", _tombstone)

    victims = (
        cat.read("tombstones")
        .filter(F.col("label") == label)
        .select("doc_id")
        if cat.exists("tombstones") else None
    )
    if victims is None or victims.isEmpty():
        cat.set_prop(applied_key, 1)
        return cat

    # -- df decrements: every (term, @term) posting the victims carried --
    def _df_patch() -> None:
        patch = (
            _decoded_buckets(cat, victims)[1]
            .join(F.broadcast(victims), "doc_id", "left_semi")
            .groupBy("term")
            .agg(F.count("*").cast("long").alias("df_sub"))
            .withColumn("label", F.lit(label))
        )
        cat.write("df_patch_deletes", patch, mode="append")

    once("dfpatch", _df_patch)

    # -- survivor corpus stats (idempotent recomputation; aside + swap) --
    cat.write("index_stats_next", _live_index_stats(cat))
    cat.swap("index_stats_next", "index_stats")

    cat.log_phase(
        f"d1_delete_{label}", "tombstones",
        {"delete": label},
    )
    cat.set_prop(applied_key, 1)
    cat.write_metrics_tables()
    return cat


def compact_deletes(spark: SparkSession, warehouse: str) -> IndexCatalog:
    """Physically drop every tombstoned doc and retire the tombstones —
    the delete-debt twin of the tiered-append full compaction: rewrite
    docmeta and the partials without the victims (partials are decoded,
    masked, re-stamped and re-packed; position and flag streams are cut
    out and re-concatenated, never decoded), re-merge, and delete the
    tombstone/df-patch side tables.  Queries before and after are
    EXACTLY equal (the masked view already behaved as survivor-only);
    what compaction buys back is the kernels' masking work, the
    broadcast side tables, and the dead bytes on disk.

    Surviving doc ids are RE-STAMPED densely: ids were url-rank assigned,
    survivors keep their relative order, so new_id = old_id − |victims
    below| — which closes the id holes the masked view tolerated (the
    dense-id invariant ``dls[doc_id - start]`` is load-bearing in the
    kernels) and makes the compacted warehouse BIT-identical to a
    from-scratch build of the surviving corpus, not merely
    rank-identical.  Externally held doc ids are invalidated by
    compaction (the Lucene-segment-renumbering contract); urls are the
    stable key.  The per-row shift is two-level so its cost is
    delta-proportional PER ROW, not |victims|: a literal
    victim-BUCKET prefix array gives victims-below-my-bucket (scan over
    distinct victim buckets only), and a broadcast (bucket → in-bucket
    victims) join covers the remainder (scan over one bucket's victims,
    ~pct × bucket_width) — measured 20×+ less per-row work than the
    naive full-victim-array scan at 1% deletes.

    O(corpus) by design — this is the scheduled debt-retirement pass, as
    in any LSM.  Crash-safe: the filtered tables are written ASIDE and
    snapshot-swapped (the live warehouse stays queryable until each
    swap), and the tombstones are dropped LAST.  The re-stamp commits a
    catalog marker keyed by the tombstones' delete labels (a label is
    applied once, so each compaction's key is new): a re-run after the
    marker skips the re-stamp — re-stamping the survivors against the
    old victim ids would drop live docs — swaps in whichever aside table
    is left and finishes the rebuild.
    """
    cat = IndexCatalog(spark, warehouse)
    if not cat.exists("tombstones"):
        return cat
    tomb_rows = cat.read("tombstones").collect()
    victim_ids = sorted(r["doc_id"] for r in tomb_rows)
    if not victim_ids:  # every delete label was empty — nothing to compact
        cat.drop("tombstones")
        cat.drop("df_patch_deletes")
        return cat
    tombs = F.broadcast(cat.read("tombstones").select("doc_id"))

    layout = {k: int(cat.get_prop(k)) for k in merge.LAYOUT_PROPS}

    # two-level shift tables (see docstring): victim buckets on the merged
    # grid, their prefix counts, and per-bucket victim arrays
    mwidth = int(cat.get_prop("bucket_width"))
    per_bucket: dict[int, list[int]] = {}
    for v in victim_ids:
        per_bucket.setdefault(v // mwidth, []).append(v)
    vbuckets = sorted(per_bucket)
    cum, c = [], 0
    for bkt in vbuckets:
        c += len(per_bucket[bkt])
        cum.append(c)
    inbucket_df = F.broadcast(spark.createDataFrame(
        [(bkt, per_bucket[bkt]) for bkt in vbuckets],
        "_vb long, _varr array<long>",
    ))
    vb_lit, cum_lit = F.lit(vbuckets), F.lit(cum)
    my_bucket = F.floor(F.col("doc_id") / mwidth).cast("long")
    idx = F.size(F.filter(vb_lit, lambda x: x < my_bucket))
    prefix = F.when(idx > 0, F.element_at(cum_lit, idx)).otherwise(F.lit(0))
    inbucket = F.size(F.filter(
        F.coalesce(F.col("_varr"), F.array().cast("array<long>")),
        lambda v: v < F.col("doc_id"),
    ))

    def restamp(df: DataFrame) -> DataFrame:
        return (
            df.join(tombs, "doc_id", "left_anti")
            .join(inbucket_df, my_bucket == F.col("_vb"), "left")
            .withColumn(
                "doc_id",
                (F.col("doc_id") - prefix - inbucket).cast("long"),
            )
            .drop("_vb", "_varr")
        )

    restamped_key = "compact_{}_restamped".format(
        "+".join(sorted({r["label"] for r in tomb_rows})))
    if not cat.get_prop(restamped_key):
        cat.write("docmeta_next", restamp(cat.read("docmeta")))
        merge.write_partials(
            cat, restamp(merge.unpack_partials(cat.read("postings_partial"))),
            layout, table="postings_partial_next",
        )
        cat.set_prop(restamped_key, 1)
    for t in ("docmeta", "postings_partial"):
        if cat.exists(f"{t}_next"):
            cat.swap(f"{t}_next", t)

    # survivor-only rebuild of everything derived: stats, doclens, packed
    # (pack_and_merge recomputes stats first because the table was
    # dropped, its manifest generations with it; the layout props keep
    # the original grid)
    for t in ("index_stats", "doclens", "postings_packed"):
        cat.drop(t)
    merge.pack_and_merge(
        cat, num_shards=layout["p6a_num_shards"],
        salt_buckets=layout["p6a_salt_buckets"],
        merge_factor=layout["p6a_merge_factor"],
        bucket_width=layout["p6a_bucket_width"],
    )

    # retire the delete debt LAST: markers stay (labels are applied —
    # their effect is now physical), side tables go
    cat.drop("tombstones")
    cat.drop("df_patch_deletes")
    cat.log_phase("d2_compact_deletes", "postings_packed", {})
    cat.write_metrics_tables()
    return cat
