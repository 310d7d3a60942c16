"""Physical-plan shape checks for the round-5 closing-session operators:
the properties that keep them viable at web scale — small sides enter
BROADCAST, dominance/reciprocity tests stay bounded self-joins, and no
bare CartesianProduct appears anywhere."""

from search_engine_spark.catalog.quality import q_unimax_allocation
from tests.helpers import _explain

SF_DIR = "/root/testdata/sf0.001"


def _no_cartesian(plan: str) -> bool:
    return "CartesianProduct" not in plan


def test_unimax_allocation_single_token_aggregate(spark):
    """The planner's corpus-scale work is exactly one token count per
    language; everything after runs over the |langs|-row table."""
    plan = _explain(q_unimax_allocation(spark, SF_DIR))
    assert _no_cartesian(plan)
    assert "BroadcastExchange" in plan      # totals/agg sides
