"""The DuckDB oracle contract: ``__spark_entry__.oracle_sql()`` is the SQL
every oracle check runs, so its text is locked byte for byte.

``oracle_sql.sha256.json`` maps every oracle name to the sha256 of its SQL.
A refactor of how the oracles are written (shared fragments in
``plans/oracle_sql.py``) must leave every digest unchanged. An intended SQL
change regenerates the manifest in the same commit:

    python -c "import json, hashlib, __spark_entry__ as e; \
json.dump({k: hashlib.sha256(v.encode()).hexdigest() for k, v in \
e.oracle_sql().items()}, open('tests/oracle_sql.sha256.json', 'w'), \
indent=1, sort_keys=True)"
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

_MANIFEST = os.path.join(os.path.dirname(__file__), "oracle_sql.sha256.json")


@pytest.mark.fast
def test_oracle_sql_matches_manifest():
    import __spark_entry__ as entry

    with open(_MANIFEST) as f:
        want = json.load(f)
    got = {
        name: hashlib.sha256(sql.encode()).hexdigest()
        for name, sql in entry.oracle_sql().items()
    }
    assert sorted(got) == sorted(want)
    changed = sorted(name for name in want if got[name] != want[name])
    assert not changed, f"oracle SQL changed for {changed}"
