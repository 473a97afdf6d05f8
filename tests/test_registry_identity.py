"""The queries/ package split (VERDICT r5 #7) must preserve the
registry EXACTLY: same names, same registration order, same oracle
SQL. The committed snapshot pins it; regenerate with
``python tools/registry_snapshot.py --write`` when adding queries."""

import json
from pathlib import Path

from tools.registry_snapshot import snapshot

FIXTURE = Path(__file__).parent / "fixtures" / "registry_snapshot.json"


def test_registry_matches_committed_snapshot():
    want = json.loads(FIXTURE.read_text())
    got = snapshot()
    assert got["registration_order"] == want["registration_order"]
    assert got["oracles_md5"] == want["oracles_md5"]
    assert got["n_queries"] == want["n_queries"]


def test_every_query_has_an_oracle_or_documented_exemption():
    from zzzarchived_arxiv_fulltext_spark.queries import ORACLES, QUERIES

    assert set(ORACLES) <= set(QUERIES)
    # currently every registered query carries a SQL twin
    assert set(QUERIES) == set(ORACLES)


def test_registry_order_is_registration_order():
    """``QUERIES`` stays in registration order: nothing outside the
    package (no file at the repo root) reorders it at import."""
    from zzzarchived_arxiv_fulltext_spark.queries import (
        QUERIES, REGISTRATION_ORDER)

    want = json.loads(FIXTURE.read_text())["registration_order"]
    assert list(QUERIES) == list(REGISTRATION_ORDER) == want
