"""Physical-plan shape checks for the newest driver-contract operators:
the properties that keep them viable at 10^12 docs — 1-row corpus stats
enter as BROADCAST side plans (never a driver collect, never a shuffled
join), and the only nested-loop joins are those broadcast 1-row sides."""

import contextlib
import io

from search_engine_spark.catalog.ir import (
    _PFX_K, q_prefix_suggest, q_snippet_extract, q_spell_correct,
    q_tfidf_keywords, _scored, _SPELL_LEN_BAND, _SPELL_NQ,
)
from search_engine_spark.catalog.dedup import (
    q_dedup_incremental, q_doc_similarity, q_dup_spans, q_paragraph_dedup,
)
from search_engine_spark.catalog.ann import (
    q_ann_quantized_recall, q_embedding_quantize, q_rrf_fusion,
)
from search_engine_spark.catalog.quality import (
    _DSIR_BUCKETS, q_bigram_logprob, q_dsir_select, q_pmi_bigrams,
    q_quality_classifier, q_unigram_logprob,
)
from search_engine_spark.catalog.corpus import q_crawl_frontier

SF_DIR = "/root/testdata/sf0.001"


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _broadcast_only_nested_loops(plan: str) -> bool:
    """Every nested-loop join must be broadcast (1-row stats sides); a bare
    CartesianProduct would be the unbounded-blowup plan."""
    return "CartesianProduct" not in plan


def test_bm25_scored_stats_are_broadcast(spark):
    plan = _explain(_scored(spark, SF_DIR, ["merge"]))
    assert "BroadcastExchange" in plan
    assert _broadcast_only_nested_loops(plan)
    # pushing the term filter below the tf agg: the literal must appear in
    # a Filter above the scan, BEFORE any aggregate sees full vocabulary
    assert "merge" in plan


def test_pmi_bigrams_totals_are_broadcast(spark):
    plan = _explain(q_pmi_bigrams(spark, SF_DIR))
    assert plan.count("BroadcastExchange") >= 2     # nbi and nuni sides
    assert _broadcast_only_nested_loops(plan)


def test_doc_similarity_query_vector_is_broadcast(spark):
    plan = _explain(q_doc_similarity(spark, SF_DIR))
    # query-doc weight vector + its norm + n_docs all broadcast
    assert plan.count("BroadcastExchange") >= 2
    assert _broadcast_only_nested_loops(plan)


def test_bigram_logprob_total_is_broadcast(spark):
    plan = _explain(q_bigram_logprob(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert _broadcast_only_nested_loops(plan)


def test_quality_classifier_is_single_aggregation(spark):
    """Classifier inference must add NO shuffle beyond the feature agg:
    exactly one exchange pair (partial/final agg), no joins at all."""
    plan = _explain(q_quality_classifier(spark, SF_DIR))
    assert "Join" not in plan
    assert _broadcast_only_nested_loops(plan)


def test_dup_spans_has_no_pair_join(spark):
    """ExactSubstr dedup must stay linear: a count-then-join on the gram
    hash (HashAggregate with partial agg + an equi-join), never a pair
    self-join or cartesian; the island merge is a per-doc window."""
    plan = _explain(q_dup_spans(spark, SF_DIR))
    assert _broadcast_only_nested_loops(plan)
    assert "Window" in plan
    # partial (map-side) aggregation on the gram-hash count
    assert "HashAggregate" in plan


def _analyzed(df) -> str:
    """Analyzed LOGICAL plan — the surface where AUTHORED broadcast hints
    (ResolvedHint) are visible, as opposed to size-based choices the
    planner/AQE makes on its own (which only show physically)."""
    return df._jdf.queryExecution().analyzed().toString()


def test_dsir_select_broadcasts_only_the_fixed_bucket_table(spark):
    """The importance-ratio table is hashed into a FIXED feature space
    (_DSIR_BUCKETS buckets, the DSIR paper's own construction), so its
    broadcast is bounded at any corpus scale; the md5 bucket hash must
    appear in the plan (proof the vocab never reaches the broadcast),
    and the top-k is a TakeOrdered, not a global sort."""
    df = q_dsir_select(spark, SF_DIR)
    plan = _explain(df)
    assert "BroadcastExchange" in plan
    assert "md5" in plan          # hashed feature buckets, not raw terms
    assert _broadcast_only_nested_loops(plan)
    assert "TakeOrderedAndProject" in plan
    # the ratio table the hint applies to is bounded by construction
    assert _DSIR_BUCKETS == 10_000


def test_tfidf_keywords_vocab_join_is_unhinted(spark):
    """The df table's cardinality is the corpus vocabulary — unbounded on
    raw web text — so the AUTHORED plan must not force-broadcast it; the
    only authored hint is the 1-row n_docs side.  (The planner may still
    broadcast df at toy scale from its size stats — that's its call, not
    a forced OOM at 100 TB.)  The keyword rank is a per-doc window (hash
    shuffle on doc_id), never a rangepartitioned global sort."""
    df = q_tfidf_keywords(spark, SF_DIR)
    assert _analyzed(df).count("ResolvedHint") == 1      # ndocs only
    plan = _explain(df)
    assert _broadcast_only_nested_loops(plan)
    assert "Window" in plan
    assert "rangepartitioning" not in plan


def test_unigram_logprob_vocab_join_is_unhinted(spark):
    """Same contract for the unigram LM: only the 1-row corpus total is
    an authored broadcast; the vocab-sized count table joins unhinted."""
    df = q_unigram_logprob(spark, SF_DIR)
    assert _analyzed(df).count("ResolvedHint") == 1      # tot only
    assert _broadcast_only_nested_loops(_explain(df))


def test_embedding_quantize_is_shuffle_free(spark):
    """Quantization is one narrow pass: no Exchange of any kind."""
    plan = _explain(q_embedding_quantize(spark, SF_DIR))
    assert "Exchange" not in plan


def test_dedup_incremental_no_self_join_blowup(spark):
    """Delta-vs-base is one equi-join on the text hash (base side distinct
    first) + a per-hash window — no cartesian, no global sort."""
    plan = _explain(q_dedup_incremental(spark, SF_DIR))
    assert _broadcast_only_nested_loops(plan)
    assert "Window" in plan
    assert "rangepartitioning" not in plan


def test_ann_quantized_recall_queries_are_broadcast(spark):
    """Both ranking sides join the query sample via broadcast; the ranks
    are per-query windows, never a global sort."""
    plan = _explain(q_ann_quantized_recall(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert _broadcast_only_nested_loops(plan)
    assert "Window" in plan


def test_spell_correct_queries_are_broadcast(spark):
    """The misspelled-query set is tiny and must broadcast against the
    term dictionary — the vocabulary is never shuffled for a lookup."""
    plan = _explain(q_spell_correct(spark, SF_DIR))
    assert "Broadcast" in plan
    assert _broadcast_only_nested_loops(plan)


def test_spell_correct_candidates_are_pruned(spark):
    """Every emitted suggestion obeys the candidate band (first char
    kept, length within the band) and minimality sanity: dist 0 iff the
    'misspelling' happens to be a real vocab term."""
    rows = q_spell_correct(spark, SF_DIR).collect()
    assert len(rows) == _SPELL_NQ
    for r in rows:
        assert r["miss"][0] == r["suggestion"][0]
        assert abs(len(r["miss"]) - len(r["suggestion"])) <= _SPELL_LEN_BAND
        assert (r["dist"] == 0) == (r["miss"] == r["suggestion"])


def test_paragraph_dedup_is_linear(spark):
    """Paragraph dedup is two shuffles (chunk agg + hash window) and no
    join at all — never a pairwise comparison."""
    plan = _explain(q_paragraph_dedup(spark, SF_DIR))
    assert "Join" not in plan
    assert "Window" in plan
    assert "HashAggregate" in plan


def test_paragraph_dedup_finds_real_duplicates(spark):
    """The synthetic corpus repeats phrases, so aligned chunks collide:
    at least one duplicate paragraph must be elided, and per-doc counts
    must be consistent (n_dup <= n_par)."""
    rows = q_paragraph_dedup(spark, SF_DIR).collect()
    assert sum(r["n_dup"] for r in rows) > 0
    assert all(0 <= r["n_dup"] <= r["n_par"] for r in rows)


def test_prefix_suggest_is_joinless_topk(spark):
    plan = _explain(q_prefix_suggest(spark, SF_DIR))
    assert "Join" not in plan
    assert "Window" in plan
    rows = q_prefix_suggest(spark, SF_DIR).collect()
    by_pfx = {}
    for r in rows:
        by_pfx.setdefault(r["prefix"], []).append(r)
    for pfx, grp in by_pfx.items():
        assert len(grp) <= _PFX_K
        grp.sort(key=lambda r: r["rnk"])
        dfs = [r["df"] for r in grp]
        assert dfs == sorted(dfs, reverse=True)


def test_crawl_frontier_is_takeordered_not_global_sort(spark):
    """The next-K pick must be a distributed TakeOrdered over the per-host
    windows, never a full global Sort+Limit."""
    plan = _explain(q_crawl_frontier(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert _broadcast_only_nested_loops(plan)


def test_snippet_extract_is_narrow_scan(spark):
    """Snippet extraction must be joinless and windowless — one narrow
    projection over the documents scan, then a TakeOrdered-10."""
    plan = _explain(q_snippet_extract(spark, SF_DIR))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan


def test_rrf_fusion_rank_windows_are_post_limit(spark):
    """The two single-partition rank windows are legal ONLY because each
    runs after a TakeOrdered-50: assert both cuts are TakeOrdered (the
    distributed top-k), so the windows see ≤ _RRF_DEPTH rows each."""
    plan = _explain(q_rrf_fusion(spark, SF_DIR))
    assert plan.count("TakeOrderedAndProject") >= 2
    assert _broadcast_only_nested_loops(plan)
