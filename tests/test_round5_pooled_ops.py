"""Pure-Python twins for token_fertility."""

import re
from collections import defaultdict

import duckdb

from search_engine_spark.catalog.quality import q_token_fertility

SF_DIR = "/root/testdata/sf0.001"


def test_token_fertility_matches_twin(spark):
    rows = duckdb.connect().execute(
        f"SELECT lang, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    agg = defaultdict(lambda: [0, 0, 0, 0])
    for lang, txt in rows:
        low = txt.lower()
        ws = len([t for t in re.split(r"\s+", low) if t])
        bpe = len(re.findall(r"[a-z0-9]+|[^a-z0-9\s]", low))
        a = agg[lang]
        a[0] += 1
        a[1] += ws
        a[2] += bpe
        a[3] += len(txt)
    got = q_token_fertility(spark, SF_DIR).collect()
    assert [r.lang for r in got] == sorted(agg)
    for r in got:
        n, ws, bpe, ch = agg[r.lang]
        assert (r.n_docs, r.ws_tokens, r.bpe_tokens) == (n, ws, bpe)
        assert r.chars_per_ws == round(ch / ws, 4)
        assert r.chars_per_bpe == round(ch / bpe, 4)
        assert r.fertility == round(bpe / ws, 4)
        # the BPE-ish segmentation can only split further
        assert r.fertility >= 1.0
