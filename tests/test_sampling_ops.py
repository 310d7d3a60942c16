"""stratified_sample / domain_mix / pii_scrub: the mixture-rebalance and
cleanup stages of a training-data pipeline.  The sf corpus contains no PII,
so the scrub behavior is validated here on fixture docs that do."""

from search_engine_spark.catalog.quality import (
    q_domain_mix, q_dsir_select, q_pii_scrub, q_stratified_sample, _SAMPLE_MOD,
)


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_stratified_sample_deterministic_and_weighted(spark, tmp_path):
    rows = [
        (i, "tok tok tok", "en" if i % 2 == 0 else "fr", f"s{i % 3}")
        for i in range(400)
    ]
    sf = _write_docs(spark, tmp_path, rows)
    a = {r["doc_id"]: r for r in q_stratified_sample(spark, sf).collect()}
    b = {r["doc_id"]: r for r in q_stratified_sample(spark, sf).collect()}
    assert a.keys() == b.keys()          # pure function of doc_id: reproducible
    # non-en kept in full, en downsampled to ~rate (hash is uniform-ish)
    n_fr = sum(1 for r in a.values() if r["lang"] == "fr")
    n_en = sum(1 for r in a.values() if r["lang"] == "en")
    assert n_fr == 200
    assert 0 < n_en < 200 * 0.6
    for r in a.values():
        assert r["weight"] == (round(1 / 0.3, 4) if r["lang"] == "en" else 1.0)
    # the decision matches the documented hash exactly
    for i in range(0, 400, 2):
        keep = (i * 2654435761) % _SAMPLE_MOD < 0.3 * _SAMPLE_MOD
        assert (i in a) == keep


def test_domain_mix_shares_and_weights(spark, tmp_path):
    rows = [(i, " ".join(["w"] * (10 if i % 4 == 0 else 5)),
             "en", f"src{i % 4}") for i in range(80)]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r["source"]: r for r in q_domain_mix(spark, sf).collect()}
    assert set(out) == {"src0", "src1", "src2", "src3"}
    total = sum(r["n_tokens"] for r in out.values())
    assert total == 20 * 10 + 60 * 5
    for r in out.values():
        assert r["n_docs"] == 20
        assert abs(r["share"] - r["n_tokens"] / total) < 1e-3
        # uniform target: hot domain weighted down, cold domains up
        assert abs(r["mix_weight"] - 0.25 / (r["n_tokens"] / total)) < 1e-2
    assert out["src0"]["mix_weight"] < 1.0 < out["src1"]["mix_weight"]
    assert abs(sum(r["share"] for r in out.values()) - 1.0) < 1e-2


def test_pii_scrub_redacts(spark, tmp_path):
    rows = [
        (0, "contact alice.smith+x@example.co.uk or bob@test.io today",
         "en", "s"),
        (1, "call 555-867-5309 or 555.123.4567 now", "en", "s"),
        (2, "clean text with no pii at all", "en", "s"),
        (3, "mixed: eve@corp.com and 123-456-7890", "en", "s"),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r["doc_id"]: r for r in q_pii_scrub(spark, sf).collect()}
    assert (out[0]["n_emails"], out[0]["n_phones"]) == (2, 0)
    assert (out[1]["n_emails"], out[1]["n_phones"]) == (0, 2)
    assert (out[2]["n_emails"], out[2]["n_phones"]) == (0, 0)
    assert (out[3]["n_emails"], out[3]["n_phones"]) == (1, 1)
    # md5 is over the scrubbed bytes: recompute doc 3's expectation locally
    import hashlib
    want = hashlib.md5(b"mixed: <EMAIL> and <PHONE>").hexdigest()
    assert out[3]["scrubbed_md5"] == want
    # clean doc passes through untouched
    want2 = hashlib.md5(rows[2][1].encode()).hexdigest()
    assert out[2]["scrubbed_md5"] == want2


def test_dsir_select_prefers_target_like_docs(spark, tmp_path):
    """Hand-model of the DSIR importance weights: docs that look like the
    target domain (sources src0/src1) outscore docs that don't, and the
    weights match the add-one-smoothed two-LM formula exactly."""
    import math

    rows = [
        (0, "cat cat dog", "en", "src0"),          # target
        (1, "cat fish", "en", "src1"),             # target
        (2, "dog dog fish fish", "en", "src2"),    # raw-only
        (3, "bird bird bird", "en", "src2"),       # raw-only, OOV for target
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = q_dsir_select(spark, sf).collect()
    got = {r["doc_id"]: r for r in out}
    assert set(got) == {0, 1, 2, 3}                # K=50 > corpus: all ranked

    # hand model
    toks = {i: t.split() for i, t, _, _ in rows}
    tgt: dict[str, int] = {}
    raw: dict[str, int] = {}
    for i, ts in toks.items():
        for t in ts:
            raw[t] = raw.get(t, 0) + 1
            if i in (0, 1):
                tgt[t] = tgt.get(t, 0) + 1
    tt, tr, v = sum(tgt.values()), sum(raw.values()), len(raw)
    def lr(t):
        return (math.log((tgt.get(t, 0) + 1) / (tt + v))
                - math.log((raw[t] + 1) / (tr + v)))
    for i, ts in toks.items():
        want = round(sum(lr(t) for t in ts), 4)
        assert abs(got[i]["logw"] - want) < 1e-9, i
        assert got[i]["n_tokens"] == len(ts)

    # target-like docs outrank the OOV doc; result order is weight-desc
    assert got[0]["logw"] > got[3]["logw"]
    assert got[1]["logw"] > got[3]["logw"]
    ordered = [r["doc_id"] for r in out]
    weights = [r["logw"] for r in out]
    assert weights == sorted(weights, reverse=True)
    assert ordered[-1] == 3                         # pure-OOV doc ranks last
