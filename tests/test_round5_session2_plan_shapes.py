"""Physical-plan shape checks for the batch-23..30 operators: the
properties that keep each viable at 10^12 rows — pure-aggregate plans
stay join-free, 1-row/bounded sides enter as broadcasts, and no plan
ever contains a bare CartesianProduct (the unbounded-blowup shape).
Explain-only: these tests never execute the plans."""

import contextlib
import io

from search_engine_spark.catalog.dedup import (
    q_dedup_keeper_policy, q_dedup_threshold_sensitivity,
    q_source_overlap_matrix,
)
from search_engine_spark.catalog.ann import q_embedding_anisotropy
from search_engine_spark.catalog.quality import q_token_fertility
from search_engine_spark.catalog.events import (
    q_click_entropy, q_event_transitions, q_interevent_burstiness,
    q_jackknife_ctr, q_kaplan_meier, q_sprt_stopping,
)
from search_engine_spark.catalog.corpus import (
    q_benford_digits, q_corpus_size_estimate, q_term_coverage,
)

SF_DIR = "/root/testdata/sf0.001"


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _no_cartesian(plan: str) -> bool:
    return "CartesianProduct" not in plan


def test_embedding_anisotropy_is_join_free(spark):
    """The n^2-pair statistic must be computed WITHOUT any join — the
    whole point of the sum-vector identity."""
    plan = _explain(q_embedding_anisotropy(spark, SF_DIR))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert _no_cartesian(plan)


def test_corpus_size_estimate_is_join_free(spark):
    """Overlap is flag conjunction in one narrow pass — no set
    intersection join anywhere."""
    plan = _explain(q_corpus_size_estimate(spark, SF_DIR))
    assert "Join" not in plan
    assert _no_cartesian(plan)


def test_token_fertility_is_join_free(spark):
    plan = _explain(q_token_fertility(spark, SF_DIR))
    assert "Join" not in plan
    assert _no_cartesian(plan)


def test_sprt_walk_has_no_join(spark):
    """The LLR walk is a window prefix sum + one reduce."""
    plan = _explain(q_sprt_stopping(spark, SF_DIR))
    assert "Join" not in plan
    assert "Window" in plan
    assert _no_cartesian(plan)


def test_interevent_burstiness_is_window_plus_agg(spark):
    plan = _explain(q_interevent_burstiness(spark, SF_DIR))
    assert "Join" not in plan
    assert "Window" in plan
    assert _no_cartesian(plan)


def test_kaplan_meier_risk_set_is_metadata_sized(spark):
    """The heavy work is the per-user aggregate; the survival windows
    run over the per-duration relation, and the horizon is a broadcast
    1-row side."""
    plan = _explain(q_kaplan_meier(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert _no_cartesian(plan)


def test_benford_total_is_broadcast(spark):
    plan = _explain(q_benford_digits(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert _no_cartesian(plan)


def test_term_coverage_total_is_broadcast(spark):
    plan = _explain(q_term_coverage(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert _no_cartesian(plan)


def test_jackknife_totals_are_broadcast(spark):
    """The leave-one-out identity needs totals beside every user row —
    as a broadcast, never a shuffled join or a driver collect."""
    plan = _explain(q_jackknife_ctr(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert _no_cartesian(plan)


def test_click_entropy_totals_are_broadcast(spark):
    plan = _explain(q_click_entropy(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert _no_cartesian(plan)


def test_source_overlap_join_is_keyed(spark):
    """The source-pair join must be an equi-join on the shingle, never
    a cartesian of the source sets."""
    plan = _explain(q_source_overlap_matrix(spark, SF_DIR))
    assert _no_cartesian(plan)


def test_dedup_keeper_policy_is_one_hash_window(spark):
    plan = _explain(q_dedup_keeper_policy(spark, SF_DIR))
    assert "Window" in plan
    assert _no_cartesian(plan)


def test_dedup_threshold_sweep_broadcasts_taus(spark):
    """The tau sweep must broadcast the 8-row threshold table over the
    bounded pair set."""
    plan = _explain(q_dedup_threshold_sensitivity(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert _no_cartesian(plan)


def test_event_transitions_is_partitioned_window(spark):
    plan = _explain(q_event_transitions(spark, SF_DIR))
    assert "Window" in plan
    assert _no_cartesian(plan)
