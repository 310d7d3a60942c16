"""Pure-Python twins for kaplan_meier, benford_digits and term_coverage."""

import math
import re
from collections import Counter, defaultdict

import duckdb

from search_engine_spark.catalog.events import (
    _KM_CENSOR_DAYS, q_kaplan_meier, _US_PER_DAY,
)
from search_engine_spark.catalog.corpus import (
    _COVERAGE_KS, q_benford_digits, q_term_coverage,
)

SF_DIR = "/root/testdata/sf0.001"


def _doc_tokens():
    rows = duckdb.connect().execute(
        f"SELECT doc_id, text "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    return {
        d: [t for t in re.split(r"[^a-z0-9]+", txt.lower()) if t]
        for d, txt in rows
    }


def test_kaplan_meier_matches_twin(spark):
    rows = duckdb.connect().execute(
        f"SELECT user_id, epoch_us(ts) "
        f"FROM read_parquet('{SF_DIR}/events.parquet')"
    ).fetchall()
    end = max(us for _u, us in rows)
    cut = end - _KM_CENSOR_DAYS * _US_PER_DAY
    first, last = {}, {}
    for u, us in rows:
        first[u] = min(first.get(u, us), us)
        last[u] = max(last.get(u, us), us)
    per = [
        ((last[u] - first[u]) // _US_PER_DAY, 1 if last[u] < cut else 0)
        for u in first
    ]
    g = defaultdict(lambda: [0, 0])
    for d, c in per:
        g[d][0] += 1
        g[d][1] += c
    expected = []
    s = 1.0
    s_log = 0.0
    hit_zero = False
    for d in sorted(g):
        n_risk = sum(na for dd, (na, _c) in g.items() if dd >= d)
        n_ev = g[d][1]
        if n_ev == 0:
            continue
        if n_ev == n_risk:
            hit_zero = True
        else:
            s_log += math.log(1.0 - n_ev / n_risk)
        s = 0.0 if hit_zero else round(math.exp(s_log), 4)
        expected.append((d, n_risk, n_ev, s))
    got = [
        (r.duration_days, r.n_risk, r.n_events, r.survival)
        for r in q_kaplan_meier(spark, SF_DIR).collect()
    ]
    assert got == expected
    # survival is monotonically non-increasing from at most 1
    survs = [s for _d, _n, _e, s in got]
    assert all(a >= b for a, b in zip(survs, survs[1:]))
    assert survs[0] <= 1.0


def test_benford_digits_matches_twin(spark):
    vals = duckdb.connect().execute(
        f"SELECT value FROM read_parquet('{SF_DIR}/events.parquet')"
    ).fetchall()
    cents = [
        int(round(v * 100)) for (v,) in vals if int(round(v * 100)) > 0
    ]
    obs = Counter(int(str(c)[0]) for c in cents)
    t = sum(obs.values())
    rows = q_benford_digits(spark, SF_DIR).collect()
    assert [r.digit for r in rows] == list(range(1, 10))
    chi2 = 0.0
    for r in rows:
        n = obs.get(r.digit, 0)
        exp_p = math.log10(1.0 + 1.0 / r.digit)
        assert r.n == n
        assert r.obs_p == round(n / t, 4)
        assert r.exp_p == round(exp_p, 4)
        term = (n - t * exp_p) ** 2 / (t * exp_p)
        assert abs(r.chi2_term - term) < 1e-3
        chi2 += term
    # Benford expected proportions are themselves a distribution
    assert abs(sum(math.log10(1 + 1 / d) for d in range(1, 10)) - 1.0) < 1e-12
    # pin the full statistic against the twin (sum of the table's terms)
    assert abs(sum(r.chi2_term for r in rows) - chi2) < 1e-2
    assert chi2 >= 0.0


def test_term_coverage_matches_twin(spark):
    counts = Counter()
    for toks in _doc_tokens().values():
        counts.update(toks)
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(counts.values())
    cum = 0
    expected = []
    for i, (_t, c) in enumerate(ordered, start=1):
        cum += c
        if i in _COVERAGE_KS:
            expected.append((i, cum, total, round(cum / total, 4)))
    got = [
        (r.k, r.cum_tokens, r.total_tokens, r.coverage)
        for r in q_term_coverage(spark, SF_DIR).collect()
    ]
    assert got == expected
    # coverage is monotone in k and ends at most 1
    covs = [c for _k, _c, _t, c in got]
    assert all(a <= b for a, b in zip(covs, covs[1:]))
    assert covs[-1] <= 1.0
