"""Local mirror of the driver's correctness gate: run every declared query
on Spark AND its DuckDB oracle at the same scale factor; compare schema
(column names), row count, and the order-insensitive multiset of values.

Comparison is EXACT (no float tolerance) — the engine's catalog is designed
for bit-identical cross-engine results (see plans/catalog.py docstring).
"""

from __future__ import annotations

import math

import pytest

from bigdata_retailrocket_recsys_spark.plans import QUERIES
from tests.conftest import SF_ORACLE

ORACLE_QUERIES = sorted(n for n, q in QUERIES.items() if q.oracle)
ROWS_ONLY_QUERIES = sorted(n for n, q in QUERIES.items() if not q.oracle)


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, int):
        return v
    return v


def _sortable(row):
    return tuple((x is None, str(type(x)), str(x)) for x in row)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(spark, duck, name):
    q = QUERIES[name]
    sdf = q.fn(spark, SF_ORACLE)
    spark_cols = sorted(sdf.columns)
    rel = duck.sql(q.oracle)
    duck_cols = sorted(rel.columns)
    assert spark_cols == duck_cols, f"{name}: schema mismatch {spark_cols} vs {duck_cols}"

    # Type-pair lock (catalog.py docstring rule 6): both engines' result
    # columns must stringify identically under str(), pandas AND arrow
    # conversion. DuckDB HUGEINT (integer SUM) → pandas float64 ("123.0")
    # was the root cause of the r1/r2 driver hash-fails; only these pairs
    # are stringification-safe under every conversion path.
    # NOTE deliberately NO ("date", "DATE") pair: DuckDB DATE converts to
    # pandas datetime64 ("2024-01-01 00:00:00") while Spark DateType stays
    # datetime.date ("2024-01-01") — route dates through epoch-day ints or
    # ISO strings instead. Same for timestamps (epoch-µs bigint, rule 1).
    # And NO ("boolean", "BOOLEAN"): a NULL boolean renders 'nan' from
    # DuckDB pandas conversion but 'None' from Spark's — flags must be INT
    # (NULL ints agree: both sides go float64/'nan').
    _TYPE_OK = {
        ("bigint", "BIGINT"), ("bigint", "INTEGER"),
        ("int", "INTEGER"), ("int", "BIGINT"),
        ("double", "DOUBLE"), ("string", "VARCHAR"),
    }
    stypes = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    dtypes = dict(zip(rel.columns, [str(t) for t in rel.types]))
    bad_types = [
        (c, stypes[c], dtypes[c])
        for c in stypes
        if (stypes[c], dtypes[c]) not in _TYPE_OK
    ]
    assert not bad_types, (
        f"{name}: cross-engine type pairs outside the stringification-safe "
        f"whitelist (col, spark, duckdb): {bad_types}"
    )

    srows = [
        tuple(_norm(r[c]) for c in spark_cols) for r in sdf.collect()
    ]
    idx = [rel.columns.index(c) for c in duck_cols]
    drows = [tuple(_norm(r[i]) for i in idx) for r in rel.fetchall()]

    assert len(srows) == len(drows), (
        f"{name}: row count {len(srows)} vs {len(drows)}"
    )
    srows.sort(key=_sortable)
    drows.sort(key=_sortable)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(srows, drows)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)}/{len(srows)} rows differ; first 3: "
        f"{mismatches[:3]}"
    )


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(spark, name):
    q = QUERIES[name]
    df = q.fn(spark, SF_ORACLE)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_contract_shapes():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 40


@pytest.mark.slow
def test_stream_entries_leave_the_callers_session_alone(spark):
    """Stream entries run in the caller's stream session: a caller with a
    non-UTC time zone and 200 shuffle partitions gets the same rows as
    the test session, and its conf is the same afterwards, over memory
    sinks (stateful sessionize, stream-stream join) and a foreachBatch
    sink (upsert merge)."""
    names = [
        "q_stream_stateful_sessionize",
        "q_stream_stream_join",
        "q_stream_upsert_merge",
    ]
    caller = spark.newSession()
    caller.conf.set("spark.sql.session.timeZone", "America/New_York")
    caller.conf.set("spark.sql.shuffle.partitions", "200")
    before = caller.conf.getAll
    for name in names:
        fn = QUERIES[name].fn
        got = sorted(map(_sortable, fn(caller, SF_ORACLE).collect()))
        want = sorted(map(_sortable, fn(spark, SF_ORACLE).collect()))
        assert got == want, name
    assert caller.conf.getAll == before
