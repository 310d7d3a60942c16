"""pack_sequences: the two-level distributed prefix sum must equal the
naive global cumulative sum (which a bare Window.orderBy would compute
through one task — the shape we refuse to ship at 10^12 rows)."""

from search_engine_spark.catalog.quality import _PACK_LEN, q_pack_sequences


def test_pack_offsets_match_naive_cumsum(spark, tmp_path):
    rows = [(i, " ".join(f"w{j}" for j in range(3 + (i * 7) % 40)))
            for i in range(257)]
    rows.append((500, "   "))          # whitespace-only doc: filtered out
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = {
        r["doc_id"]: r
        for r in q_pack_sequences(spark, str(tmp_path)).collect()
    }
    assert 500 not in got
    # naive oracle: cumsum in doc_id order
    off = 0
    for i in range(257):
        n = 3 + (i * 7) % 40
        r = got[i]
        assert r["n_tokens"] == n
        assert r["start_offset"] == off
        assert r["first_chunk"] == off // _PACK_LEN
        assert r["last_chunk"] == (off + n - 1) // _PACK_LEN
        off += n


def test_pack_chunks_are_contiguous(spark, tmp_path):
    rows = [(i, " ".join(["tok"] * 100)) for i in range(64)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    out = q_pack_sequences(spark, str(tmp_path)).orderBy("doc_id").collect()
    # stream is gapless: each doc starts where the previous one ended
    for prev, cur in zip(out, out[1:]):
        assert cur["start_offset"] == prev["start_offset"] + prev["n_tokens"]
    total = out[-1]["start_offset"] + out[-1]["n_tokens"]
    assert out[-1]["last_chunk"] == (total - 1) // _PACK_LEN
