"""Pure-Python twins for bpe_pairs — independent of both the Spark plan
under test and its DuckDB oracle."""

import re
from collections import Counter

import duckdb

from search_engine_spark.catalog.quality import _BPE_EOW, q_bpe_pairs

SF_DIR = "/root/testdata/sf0.001"


def _docs():
    con = duckdb.connect()
    return con.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()


def _toks(text):
    return [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]


# ---------------------------------------------------------------------------
# bpe_pairs
# ---------------------------------------------------------------------------

def test_bpe_pairs_matches_python_twin(spark):
    wf = Counter()
    for _id, text in _docs():
        wf.update(_toks(text))
    pc = Counter()
    for word, freq in wf.items():
        for a, b in zip(word, word[1:]):
            pc[a + b] += freq
        pc[word[-1] + _BPE_EOW] += freq
    want = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [(r.pair, r.cnt) for r in q_bpe_pairs(spark, SF_DIR).collect()]
    assert got == want


def test_bpe_pairs_key_space_is_alphabet_bounded(spark):
    """Every pair is 2 chars or char+EOW — the agg key space is bounded by
    |alphabet|^2 regardless of corpus size (the map-side-combine bound)."""
    for r in q_bpe_pairs(spark, SF_DIR).collect():
        assert len(r.pair) == 2 or (
            len(r.pair) == 1 + len(_BPE_EOW)
            and r.pair.endswith(_BPE_EOW)
        )
