"""Pure-Python twins for curriculum_select, plus a plan-shape check (no
global single-task window in the curriculum prefix sum)."""

import math
import re

from search_engine_spark.catalog.quality import _CURR_FRAC, q_curriculum_select
from tests.helpers import _explain

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# curriculum_select
# ---------------------------------------------------------------------------

def test_curriculum_matches_naive_cumsum(spark, tmp_path):
    # deterministic synthetic corpus: per-doc token length varies so the
    # difficulty ordering differs from the doc_id ordering
    rows = [
        (i, " ".join(["x" * (1 + (i * 13 + j) % 7)
                      for j in range(5 + (i * 3) % 11)]))
        for i in range(200)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    docs = {}
    for doc_id, text in rows:
        toks = [x for x in re.split(r"[^a-z0-9]+", text.lower()) if x]
        docs[doc_id] = (len(toks), sum(len(t) for t in toks) / len(toks))
    total = sum(n for n, _d in docs.values())
    budget = math.floor(_CURR_FRAC * total)
    want, cum = [], 0
    for doc_id, (n, diff) in sorted(
        docs.items(), key=lambda kv: (kv[1][1], kv[0])
    ):
        cum += n
        if cum > budget:
            break
        want.append((doc_id, n, round(diff, 4), cum))
    got = [
        (r.doc_id, r.n_tok, r.difficulty, r.cum_tokens)
        for r in q_curriculum_select(spark, str(tmp_path)).collect()
    ]
    assert got == want
    assert 0 < len(got) < len(rows)   # the budget genuinely cuts
    assert got[-1][3] <= budget


def test_curriculum_prefix_sum_is_distributed(spark):
    """The running total must come from the two-level range-partitioned
    scan: a range exchange exists, and no window runs with an empty
    partition spec over the full corpus (the k-row base-offset side
    plan is the only global window and it sees ≤ #ranges rows)."""
    plan = _explain(q_curriculum_select(spark, SF_DIR))
    assert "rangepartitioning" in plan.lower()
    assert "BroadcastHashJoin" in plan
