from __future__ import annotations

import os
import re
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("BDRR_TEST_SF_DIR", "/root/testdata/sf0.01")

# fast/slow split (VERDICT r3 #8): `pytest -m fast` is the <90 s inner loop;
# the full gate (no -m) is unchanged. Slow = whole-catalog sweeps, streaming
# lifecycles (seconds of trigger latency each), ML fits, the e2e pipeline,
# and hypothesis property sweeps. Everything else is auto-marked fast.
_SLOW_MODULES = {
    "test_catalog_oracle",   # 155-query DuckDB sweep
    "test_pipeline_golden",  # e2e pipeline + W2V fit
    "test_properties",       # hypothesis sweeps + iterative algorithms
}
_SLOW_NAME_RE = re.compile(
    r"stream|w2v|word2vec|pagerank|ivf|kmeans|zorder|persisted"
    r"|compaction|upsert|connected|clusters|skew|soak"
    # whole-catalog sweep (156 plans) + individually-measured >2.5 s tests —
    # keeps `-m fast` under 90 s; all still run in the full gate
    r"|no_row_python_udf|generator|observation_metrics|lsh_recall"
    r"|jaccard_prefix|compact_parquet|multimodal_stub"
    r"|sessionize_gap_boundary|tfidf_hand|hll_sketch"
    r"|multimodal_resize|spreads_hot_key|asof_join_nearest"
    r"|load_table_normalizes|covis_pairs_dedup|salted_join_matches"
    r"|minhash_estimates|all_pairs_guard|tie_determinism"
    r"|association_rules|hash_split_deterministic"
    # round-6 operator tests measured >10 s each (Spark job latency)
    r"|k_core_peels|bfs_distances|frequent_sequences"
    r"|jsonl_audit|edge_jaccard|arrow_matches_pandas|boilerplate_spans"
)


def pytest_collection_modifyitems(config, items):
    for item in items:
        if "slow" in item.keywords or "fast" in item.keywords:
            continue
        mod = item.module.__name__.rsplit(".", 1)[-1]
        if mod in _SLOW_MODULES or _SLOW_NAME_RE.search(item.name):
            item.add_marker(pytest.mark.slow)
        else:
            item.add_marker(pytest.mark.fast)


@pytest.fixture(scope="session")
def spark():
    # VANILLA session, like the external driver's (VERDICT r2 #4): no engine
    # semantic confs (no UTC tz pin, no nanosAsLong, no inferTimestampNTZ) —
    # the engine must self-pin those at read time (sources/readers). Only
    # perf-neutral knobs are set so "pytest green" means "green under driver
    # conditions".
    from pyspark.sql import SparkSession

    s = (
        # BDRR_TEST_MASTER=local-cluster[2,4,8192] reruns the suite with
        # real executor boundaries (serialized broadcasts, per-executor
        # shuffle dirs) — the r7 validation mode for the skew/broadcast
        # claims; default stays the driver-like local[8]
        SparkSession.builder.master(
            os.environ.get("BDRR_TEST_MASTER", "local[8]")
        )
        .appName("bdrr-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn`` under a job group of its own and
    returns ``(fn(), number of Spark jobs it started)``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    yield con
    con.close()
