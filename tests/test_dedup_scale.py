"""Scale-safety of the dedup pair generators: hot keys must be capped so a
boilerplate cluster of M near-identical docs can never emit M²/2 candidate
pairs in one join task (the unbounded-key failure mode at 10^12 docs)."""

import pytest

from search_engine_spark.catalog.dedup import (
    _LSH_BAND_CAP, q_minhash_lsh_pairs, q_ngram_jaccard, q_simhash_pairs,
    _SIMHASH_BAND_CAP,
)


@pytest.fixture(scope="module")
def boiler_dir(spark, tmp_path_factory):
    """documents.parquet with an M-doc boilerplate cluster (M > both caps),
    a genuine small near-dup pair, and distinct filler docs."""
    d = tmp_path_factory.mktemp("boiler")
    m = _LSH_BAND_CAP + 10
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler) for i in range(m)]
    rows += [
        (1000, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1001, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    ]
    rows += [(2000 + i, f"unique{i} solitary{i} text{i} body{i} words{i}")
             for i in range(5)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    return str(d)


def test_lsh_band_cap_bounds_boilerplate_pairs(spark, boiler_dir):
    m = _LSH_BAND_CAP + 10
    pairs = q_minhash_lsh_pairs(spark, boiler_dir).collect()
    boiler_pairs = [p for p in pairs if p["da"] < m and p["db"] < m]
    # every band of the boilerplate cluster has M > cap members → dropped
    # before the self-join: zero of the M·(M−1)/2 quadratic pairs emitted
    assert boiler_pairs == []
    # the genuine near-dup pair (9/10 shingle bands overlap) still surfaces
    assert any((p["da"], p["db"]) == (1000, 1001) for p in pairs)
    assert len(pairs) < m  # nowhere near quadratic


@pytest.fixture(scope="module")
def simhash_boiler_dir(spark, tmp_path_factory):
    """A boilerplate cluster bigger than _SIMHASH_BAND_CAP: identical docs
    share a simhash, so both of its band buckets exceed the cap."""
    d = tmp_path_factory.mktemp("shboiler")
    m = _SIMHASH_BAND_CAP + 10
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler) for i in range(m)]
    rows += [(9000 + i, f"unique{i} solitary{i} text{i} body{i} words{i}")
             for i in range(8)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    return str(d)


def test_simhash_band_cap_bounds_boilerplate_pairs(spark, simhash_boiler_dir):
    m = _SIMHASH_BAND_CAP + 10
    pairs = q_simhash_pairs(spark, simhash_boiler_dir).collect()
    # both band buckets of the cluster's shared signature have M > cap
    # members → dropped before the self-join: none of the M·(M−1)/2
    # hamming-0 pairs reach the join or the output
    assert all(not (p["da"] < m and p["db"] < m) for p in pairs)


def test_shingle_df_cap_bounds_boilerplate_pairs(spark, boiler_dir):
    m = _LSH_BAND_CAP + 10
    top = q_ngram_jaccard(spark, boiler_dir).collect()
    # boilerplate shingles have df = M > _SHINGLE_DF_CAP → no intra-cluster
    # pair can reach the top-k through them
    assert all(not (r["da"] < m and r["db"] < m) for r in top)
    assert any((r["da"], r["db"]) == (1000, 1001) for r in top)
