"""Pure-Python twins for classifier_gains."""

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
