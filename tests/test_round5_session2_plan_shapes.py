"""Physical-plan shape checks for the batch-23..30 operators: the
properties that keep each viable at 10^12 rows — pure-aggregate plans
stay join-free, 1-row/bounded sides enter as broadcasts, and no plan
ever contains a bare CartesianProduct (the unbounded-blowup shape).
Explain-only: these tests never execute the plans."""

from search_engine_spark.catalog.dedup import q_dedup_threshold_sensitivity
from search_engine_spark.catalog.ann import q_embedding_anisotropy
from search_engine_spark.catalog.quality import q_token_fertility
from tests.helpers import _explain

SF_DIR = "/root/testdata/sf0.001"


def _no_cartesian(plan: str) -> bool:
    return "CartesianProduct" not in plan


def test_embedding_anisotropy_is_join_free(spark):
    """The n^2-pair statistic must be computed WITHOUT any join — the
    whole point of the sum-vector identity."""
    plan = _explain(q_embedding_anisotropy(spark, SF_DIR))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert _no_cartesian(plan)


def test_token_fertility_is_join_free(spark):
    plan = _explain(q_token_fertility(spark, SF_DIR))
    assert "Join" not in plan
    assert _no_cartesian(plan)


def test_dedup_threshold_sweep_broadcasts_taus(spark):
    """The tau sweep must broadcast the 8-row threshold table over the
    bounded pair set."""
    plan = _explain(q_dedup_threshold_sensitivity(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert _no_cartesian(plan)
