"""Oracle-text gate: every registered query's DuckDB oracle SQL is
byte-identical to the recorded digest.

``oracle_sql_sha256.json`` maps each query name to the sha256 of its
``oracle`` string, or ``null`` for rows-only queries. A refactor that
shares CTE text between oracles must leave every digest unchanged;
a deliberate oracle change re-records the file in the same commit.
"""

from __future__ import annotations

import hashlib
import json
import pathlib

from dataframe_differ_spark.queries import load_all

DIGESTS = pathlib.Path(__file__).with_name("oracle_sql_sha256.json")


def test_oracle_sql_digests_unchanged():
    expected = json.loads(DIGESTS.read_text())
    actual = {
        name: None if q.oracle is None else hashlib.sha256(q.oracle.encode()).hexdigest()
        for name, q in load_all().items()
    }
    assert sorted(actual) == sorted(expected)
    changed = sorted(n for n in expected if actual[n] != expected[n])
    assert not changed, f"oracle SQL changed for: {changed}"
