"""Pure-Python twins for entropy_quality."""

import math
import re
from collections import Counter

import duckdb

from search_engine_spark.catalog.quality import q_entropy_quality

SF_DIR = "/root/testdata/sf0.001"


def _con():
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


# ---------------------------------------------------------------------------
# entropy_quality
# ---------------------------------------------------------------------------

def test_entropy_quality_matches_python_twin(spark):
    con = _con()
    rows = con.execute("SELECT doc_id, text, lang FROM documents").fetchall()
    per_lang = {}
    for _d, text, lang in rows:
        s = re.sub(r"[^a-z0-9]", "", (text or "").lower())
        if not s:
            continue
        cnt = Counter(s)
        n = len(s)
        h = -sum((c / n) * math.log2(c / n) for c in cnt.values())
        per_lang.setdefault(lang, []).append(h)
    want = {
        lang: (
            len(hs),
            round(sum(hs) / len(hs), 4),
            sum(1 for h in hs if h < 2.5),
        )
        for lang, hs in per_lang.items()
    }
    got = {
        r.lang: (r.n_docs, r.avg_entropy, r.n_low)
        for r in q_entropy_quality(spark, SF_DIR).collect()
    }
    assert got == want


def test_entropy_bounded_by_log_alphabet(spark):
    """Shannon entropy over a 36-char alphabet is at most log2(36)."""
    for r in q_entropy_quality(spark, SF_DIR).collect():
        assert 0.0 <= r.avg_entropy <= math.log2(36) + 1e-9
