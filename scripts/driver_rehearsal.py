"""Driver-style rehearsal of the FULL catalog: vanilla SparkSession (no
engine confs — the external driver builds its own), every ``queries()``
entry executed and compared against its ``oracle_sql()`` twin in DuckDB
using the driver's compare (sorted column names, stringified rows).

The driver samples ~50 of the catalog per round and rotates; this runs all
of them, so a rotation can't surprise us. Each result line carries the
entry's Spark-side wall (build, collect and the pandas/arrow conversions;
DuckDB excluded), and the run ends with the ten slowest entries. Usage:

    python scripts/driver_rehearsal.py [sf_dir]     # default /root/testdata/sf0.01
    python scripts/driver_rehearsal.py tests/_advdata   # adversarial fixture
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else "/root/testdata/sf0.01"

from pyspark.sql import SparkSession  # noqa: E402

spark = (
    SparkSession.builder.master("local[8]").appName("driver-rehearsal").getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e  # noqa: E402

qs, os_ = e.queries(), e.oracle_sql()

import duckdb  # noqa: E402

con = duckdb.connect()
for t in (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split():
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

# BDRR_ONLY=q_a,q_b restricts the sweep for spot-checking new/changed
# queries with the exact driver compare (both fixtures, both paths)
_only = set(filter(None, os.environ.get("BDRR_ONLY", "").split(",")))
if _only:
    qs = {k: v for k, v in qs.items() if k in _only}

def _storage_now() -> tuple[int, int]:
    """(bytes, n_rdds) currently pinned in executor storage — caches AND
    eager localCheckpoints (both surface in getRDDStorageInfo)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos), len(infos)


# Rehearsal-long executor-storage ledger (VERDICT r10 #9): corpus-sized
# caches that legitimately outlive one call (documented in their
# operators) must not ACCUMULATE across a full-catalog session. The
# external driver never calls clearCache between queries, so neither do
# we — instead the peak and final pinned bytes are asserted bounded.
_peak_bytes = 0
_peak_after = ""
_spark_s: dict[str, float] = {}


def _spark(name, fn):
    """Run a Spark-side call, charging its wall to entry ``name``."""
    t0 = time.perf_counter()
    try:
        return fn()
    finally:
        _spark_s[name] = _spark_s.get(name, 0.0) + time.perf_counter() - t0


bad = []
for i, name in enumerate(sorted(qs)):
    try:
        sdf = _spark(name, lambda: qs[name](spark, SF_DIR))
        rows = _spark(name, sdf.collect)
        if name not in os_:
            print(
                f"{i + 1:3d} {name}: rows-only {len(rows)}"
                f" [spark {_spark_s[name]:.1f}s]",
                flush=True,
            )
            continue
        scols = sorted(sdf.columns)
        srows = sorted(tuple(str(r[c]) for c in scols) for r in rows)
        rel = con.sql(os_[name])
        idx = [rel.columns.index(c) for c in sorted(rel.columns)]
        drows = sorted(tuple(str(r[j]) for j in idx) for r in rel.fetchall())
        ok = srows == drows
        # Second compare through the PANDAS conversion path: the driver's
        # hash may stringify pandas frames, where type asymmetries invisible
        # to fetchall()+str() surface (DuckDB HUGEINT → float64 "123.0" vs
        # Spark int64 "123" — the r1/r2 driver hash-fail root cause).
        pdf_s = _spark(name, sdf.toPandas)
        pdf_d = con.sql(os_[name]).df()
        prows_s = sorted(
            tuple(str(v) for v in t)
            for t in pdf_s[scols].itertuples(index=False, name=None)
        )
        prows_d = sorted(
            tuple(str(v) for v in t)
            for t in pdf_d[scols].itertuples(index=False, name=None)
        )
        pok = prows_s == prows_d
        # Third compare through the ARROW conversion path: catalog rule 6
        # (plans/catalog.py docstring) names str(), pandas AND arrow as the
        # paths a driver hash may take; r1/r2 proved an unrehearsed path can
        # hide a type asymmetry for rounds. Spark 4 DataFrame.toArrow() vs
        # DuckDB .arrow(), both flattened via to_pylist() and stringified.
        at_s = _spark(name, sdf.toArrow)
        at_d = con.sql(os_[name]).arrow()

        def _arrow_rows(tbl, cols):
            data = {c: tbl.column(c).to_pylist() for c in cols}
            return sorted(
                tuple(str(data[c][j]) for c in cols)
                for j in range(tbl.num_rows)
            )

        arows_s = _arrow_rows(at_s, scols)
        arows_d = _arrow_rows(at_d, scols)
        aok = arows_s == arows_d
        print(
            f"{i + 1:3d} {name}: {'OK' if ok else 'MISMATCH'}"
            f"{'' if pok else ' PANDAS-MISMATCH'}"
            f"{'' if aok else ' ARROW-MISMATCH'}"
            f" ({len(srows)} vs {len(drows)})"
            f" [spark {_spark_s[name]:.1f}s]",
            flush=True,
        )
        if not (ok and pok and aok):
            bad.append(name)
    except Exception as ex:  # noqa: BLE001 — rehearsal must visit every query
        print(
            f"{i + 1:3d} {name}: ERROR {type(ex).__name__}: {str(ex)[:150]}"
            f" [spark {_spark_s.get(name, 0.0):.1f}s]",
            flush=True,
        )
        bad.append(name)
    finally:
        _b, _n = _storage_now()
        if _b > _peak_bytes:
            _peak_bytes, _peak_after = _b, name
_final_bytes, _final_rdds = _storage_now()
_bound = int(os.environ.get("BDRR_STORAGE_BOUND_MB", "512")) * 1024 * 1024
print(
    f"STORAGE: final {_final_bytes / 1048576:.1f} MiB across "
    f"{_final_rdds} pinned RDDs; peak {_peak_bytes / 1048576:.1f} MiB "
    f"(after {_peak_after}); bound {_bound / 1048576:.0f} MiB",
    flush=True,
)
_slowest = sorted(_spark_s.items(), key=lambda kv: -kv[1])[:10]
print(
    f"SLOWEST: spark total {sum(_spark_s.values()):.1f}s; "
    + ", ".join(f"{n} {s:.1f}s" for n, s in _slowest),
    flush=True,
)
if _peak_bytes > _bound:
    bad.append(f"__storage_peak_{_peak_bytes}")
print("BAD:", bad)
sys.exit(1 if bad else 0)
