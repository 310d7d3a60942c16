"""Pure-Python twins for round-5 batch 27: classifier_gains,
source_overlap_matrix, dedup_keeper_policy."""

import hashlib
from collections import defaultdict

import duckdb

from search_engine_spark.catalog.dedup import (
    q_dedup_keeper_policy, q_source_overlap_matrix,
)
from search_engine_spark.catalog.quality import (
    q_classifier_gains, q_gopher_quality, q_quality_classifier,
)

SF_DIR = "/root/testdata/sf0.001"


def test_classifier_gains_matches_twin(spark):
    score = {
        r.doc_id: r.p_keep
        for r in q_quality_classifier(spark, SF_DIR).collect()
    }
    label = {
        r.doc_id: int(r.keep)
        for r in q_gopher_quality(spark, SF_DIR).collect()
    }
    ranked = sorted(score, key=lambda d: (-score[d], d))
    n = len(ranked)
    base, extra = divmod(n, 10)
    deciles = []
    for i in range(10):
        sz = base + (1 if i < extra else 0)
        deciles.append(sz)
    got = q_classifier_gains(spark, SF_DIR).collect()
    assert [r.decile for r in got] == list(range(1, 11))
    tp = sum(label.values())
    idx = 0
    cum_n = cum_pos = 0
    for r, sz in zip(got, deciles):
        chunk = ranked[idx:idx + sz]
        idx += sz
        pos = sum(label[d] for d in chunk)
        cum_n += sz
        cum_pos += pos
        assert (r.n, r.n_pos) == (sz, pos)
        assert r.gain == round(cum_pos / tp, 4)
        assert r.cum_lift == round((cum_pos / cum_n) / (tp / n), 4)
    # gains curve is monotone and ends at 1
    assert got[-1].gain == 1.0
    gains = [r.gain for r in got]
    assert all(a <= b for a, b in zip(gains, gains[1:]))


def _doc_rows():
    return duckdb.connect().execute(
        f"SELECT doc_id, source, n_chars, md5(text) "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()


def test_source_overlap_matrix_matches_twin(spark):
    import re
    rows = duckdb.connect().execute(
        f"SELECT source, text "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    per = defaultdict(set)
    for src, txt in rows:
        toks = [t for t in re.split(r"[^a-z0-9]+", txt.lower()) if t]
        per[src].update(
            " ".join(toks[i:i + 3]) for i in range(len(toks) - 2)
        )
    srcs = sorted(per)
    expected = []
    for i, sa in enumerate(srcs):
        for sb in srcs[i + 1:]:
            shared = len(per[sa] & per[sb])
            if shared:
                j = shared / len(per[sa] | per[sb])
                expected.append(
                    (sa, sb, len(per[sa]), len(per[sb]), shared,
                     round(j, 4))
                )
    got = [
        (r.src_a, r.src_b, r.n_a, r.n_b, r.n_shared, r.jaccard)
        for r in q_source_overlap_matrix(spark, SF_DIR).collect()
    ]
    assert got == expected


def test_dedup_keeper_policy_matches_twin(spark):
    groups = defaultdict(list)
    chars = {}
    for d, _src, nc, h in _doc_rows():
        groups[h].append(d)
        chars[d] = nc
    f_chars, q_chars, differs = [], [], 0
    for h, members in groups.items():
        if len(members) < 2:
            continue
        kf = min(members)
        kq = sorted(members, key=lambda d: (-chars[d], d))[0]
        differs += kf != kq
        f_chars.append(chars[kf])
        q_chars.append(chars[kq])
    r = q_dedup_keeper_policy(spark, SF_DIR).collect()[0]
    assert r.n_dup_groups == len(f_chars)
    if f_chars:
        assert r.n_keeper_differs == differs
        assert r.mean_chars_first_wins == round(
            sum(f_chars) / len(f_chars), 4
        )
        assert r.mean_chars_quality_wins == round(
            sum(q_chars) / len(q_chars), 4
        )
        # quality-wins can never keep SHORTER docs on average
        assert r.mean_chars_quality_wins >= r.mean_chars_first_wins
