"""The seven ``engine_*`` entries of ``__spark_entry__.queries()`` run the
real engine (build + packed query paths) over the synthetic pages corpus
and self-check against ``fixtures/golden_engine.json``: ``_check_golden``
raises on any drift.  No oracle SQL covers them, so this module is what
runs those checks in the suite; the guards make sure a check cannot pass
by being switched off."""

import json

import pytest

import __spark_entry__ as entry

_ENGINE = sorted(n for n in entry.queries() if n.startswith("engine_"))
_GOLDEN = json.loads(entry._GOLDEN_PATH.read_text())


def test_golden_check_is_armed():
    assert len(_ENGINE) == 7
    assert set(_ENGINE) <= set(_GOLDEN)
    assert entry._SKIP_GOLDEN_CHECK is False


@pytest.mark.parametrize("name", _ENGINE)
def test_engine_entry_matches_golden(spark, monkeypatch, name):
    # the session's workers already import the package from the repo
    # (get_spark puts it on their path); shipping a zipped copy with
    # addPyFile would change every later test's worker path
    monkeypatch.setattr(entry, "_ensure_pythonpath", lambda spark: None)
    rows = entry.queries()[name](spark, "").collect()  # sf_dir unused
    assert len(rows) == len(_GOLDEN[name]["rows"])
