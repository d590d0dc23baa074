"""Property-based tests (hypothesis) for the semantics-critical operators.

Each property runs a handful of randomized examples (Spark jobs are ~1s
each, so max_examples stays small); the point is adversarial inputs —
duplicate timestamps, empty groups, single-event users, exact-gap
boundaries — that hand-written fixtures miss.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

PROP_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,  # CI determinism: same examples every run
)

GAP_S = 1800

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # user_id
        st.integers(min_value=0, max_value=6 * GAP_S),  # ts offset sec
        st.integers(min_value=1, max_value=5),  # item_id
    ),
    min_size=1,
    max_size=60,
)


@given(events=events_strategy)
@settings(**PROP_SETTINGS)
def test_sessionize_invariants(spark, events):
    from pyspark.sql import functions as F

    from bigdata_retailrocket_recsys_spark.operators.sessionize import sessionize

    df = spark.createDataFrame(
        [(u, t * 1_000_000, i) for u, t, i in events],
        "user_id bigint, ts_us bigint, item_id bigint",
    ).select("user_id", F.timestamp_micros("ts_us").alias("ts"), "item_id")

    out = sessionize(
        df,
        user_col="user_id",
        ts_col="ts",
        gap_minutes=GAP_S // 60,
        tiebreak_cols=["item_id"],
    ).collect()

    # 1) row count preserved
    assert len(out) == len(events)

    # 2) intra-session gaps <= GAP; session spans one user only
    by_sess: dict[str, list] = {}
    for r in out:
        by_sess.setdefault(r.session_id, []).append(r)
    for sess_rows in by_sess.values():
        assert len({r.user_id for r in sess_rows}) == 1
        ts_sorted = sorted(r.ts for r in sess_rows)
        for a, b in zip(ts_sorted, ts_sorted[1:]):
            assert (b - a).total_seconds() <= GAP_S

    # 3) consecutive sessions of one user are separated by > GAP
    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    for rows in by_user.values():
        sessions = {}
        for r in rows:
            sessions.setdefault(r.session_id, []).append(r.ts)
        spans = sorted((min(v), max(v)) for v in sessions.values())
        for (_, prev_end), (nxt_start, _) in zip(spans, spans[1:]):
            assert (nxt_start - prev_end).total_seconds() > GAP_S


@given(events=events_strategy)
@settings(**PROP_SETTINGS)
def test_covis_array_equals_selfjoin(spark, events):
    """The 2-shuffle array strategy must be value-identical to the
    relational self-join on arbitrary inputs (incl. duplicate rows,
    singleton groups)."""
    from bigdata_retailrocket_recsys_spark.operators.joins import covis_pairs

    df = spark.createDataFrame(
        [(u, t * 1_000_000, i) for u, t, i in events],
        "grp bigint, ts bigint, item bigint",
    )

    def rows(out):
        return sorted(
            (r.item_a, r.item_b, r.covis)
            for r in out.collect()
        )

    for cap in (None, 2):
        kwargs = dict(
            group_col="grp",
            item_col="item",
            min_count=1,
            max_per_group=cap,
            ts_col="ts" if cap else None,
        )
        a = rows(covis_pairs(df, pair_strategy="array", **kwargs))
        s = rows(covis_pairs(df, pair_strategy="selfjoin", **kwargs))
        assert a == s, f"cap={cap}: {a} != {s}"


@given(events=events_strategy)
@settings(**PROP_SETTINGS)
def test_topk_per_group_bounds(spark, events):
    from pyspark.sql import functions as F

    from bigdata_retailrocket_recsys_spark.operators.windows import topk_per_group

    df = spark.createDataFrame(
        [(u, t, i) for u, t, i in events], "grp bigint, score bigint, it bigint"
    )
    k = 3
    out = topk_per_group(
        df,
        group_cols=["grp"],
        order_by=[F.col("score").desc(), F.col("it").asc()],
        k=k,
        rank_col="rank",
    ).collect()

    per_group: dict[int, list] = {}
    for r in out:
        per_group.setdefault(r.grp, []).append(r)
    src_count: dict[int, int] = {}
    for u, _, _ in events:
        src_count[u] = src_count.get(u, 0) + 1
    for g, rows_ in per_group.items():
        assert len(rows_) == min(k, src_count[g])
        assert sorted(r.rank for r in rows_) == list(range(1, len(rows_) + 1))
        # rank order respects (score desc, it asc)
        ordered = sorted(rows_, key=lambda r: r.rank)
        keys = [(-r.score, r.it) for r in ordered]
        assert keys == sorted(keys)


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # user
            st.integers(min_value=0, max_value=20),  # ts
        ),
        min_size=1,
        max_size=25,
    ),
    anchors=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=20),
        ),
        min_size=1,
        max_size=12,
    ),
)
@settings(**PROP_SETTINGS)
def test_asof_join_equals_bruteforce(spark, events, anchors):
    """The union+window as-of join must equal the quadratic definition —
    for every anchor, the max-(ts, id) event strictly before it — on
    adversarial inputs (duplicate timestamps, ties at the anchor instant,
    users with no events)."""
    from bigdata_retailrocket_recsys_spark.operators.joins import asof_join

    ev_rows = [(u, t, i) for i, (u, t) in enumerate(events)]
    an_rows = [(u, t, 1000 + i) for i, (u, t) in enumerate(anchors)]
    ev = spark.createDataFrame(
        ev_rows, "user_id bigint, ts bigint, event_id bigint"
    )
    an = spark.createDataFrame(
        an_rows, "user_id bigint, ts bigint, anchor_id bigint"
    )
    got = {
        r.anchor_id: r.prev_event_id
        for r in asof_join(
            an,
            ev,
            key_cols=["user_id"],
            anchor_ts="ts",
            event_ts="ts",
            value_cols=["event_id"],
            tiebreak_col="event_id",
        ).collect()
    }
    for u, t, aid in an_rows:
        cand = [(et, eid) for eu, et, eid in ev_rows if eu == u and et < t]
        expect = max(cand)[1] if cand else None
        assert got[aid] == expect, (aid, got[aid], expect)


@given(
    n_nodes=st.integers(min_value=1, max_value=12),
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ),
        max_size=15,
    ),
)
@settings(**PROP_SETTINGS)
def test_connected_components_equals_union_find(spark, n_nodes, edges):
    """Min-label propagation must produce the same partition as a
    driver-side union-find on arbitrary graphs (self-loops, duplicate
    edges, edges to nodes outside the node set are clipped)."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        connected_components,
    )

    edges = [(a % n_nodes, b % n_nodes) for a, b in edges]
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "node bigint")
    edf = spark.createDataFrame(
        edges or [(0, 0)], "src bigint, dst bigint"
    )
    got = {
        r.node: r.cluster_id for r in connected_components(nodes, edf).collect()
    }

    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {i: find(i) for i in range(n_nodes)}
    # canonicalize: min node id per component
    comp_min: dict[int, int] = {}
    for i in range(n_nodes):
        r = find(i)
        comp_min[r] = min(comp_min.get(r, i), i)
    expect = {i: comp_min[find(i)] for i in range(n_nodes)}
    assert got == expect


def test_approx_percentile_rank_error(spark):
    """GK sketch guarantee: the approximate p-quantile's true rank is
    within n/accuracy of ceil(p*n) — checked against the exact sorted
    ranks at accuracy=1000 on the oracle scale factor. The catalog query
    now emits this check as hashable flags (r7 oracle graduation); here
    we assert the flags AND re-derive the bound from raw
    percentile_approx values, and lock flag stability across
    partitionings (raw sketch VALUES may legally shift with merge order
    — the flags must not)."""
    from pyspark.sql import functions as F

    from bigdata_retailrocket_recsys_spark.plans import QUERIES
    from bigdata_retailrocket_recsys_spark.sources.readers import load_table
    from tests.conftest import SF_ORACLE

    flag_rows = (
        QUERIES["q_agg_approx_percentile"].fn(spark, SF_ORACLE).collect()
    )
    assert flag_rows
    assert all(
        r.median_rank_ok == 1 and r.p90_rank_ok == 1 for r in flag_rows
    )

    li = load_table(spark, SF_ORACLE, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    # partitioning stability: the sketch's accuracy contract must hold
    # under any merge order even if raw values shift
    from bigdata_retailrocket_recsys_spark.plans.catalog import (
        approx_percentile_flags,
    )

    for parts in (1, 13):
        df = li.repartition(parts)
        ranks = {
            r.l_returnflag: (r.median_rank_ok, r.p90_rank_ok)
            for r in approx_percentile_flags(df).collect()
        }
        assert all(v == (1, 1) for v in ranks.values()), (parts, ranks)
    approx = {
        r.l_returnflag: (r.mq, r.pp)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                F.col("l_quantity").cast("double"), F.lit(0.5), F.lit(1000)
            ).alias("mq"),
            F.percentile_approx(
                F.col("l_extendedprice").cast("double"), F.lit(0.9), F.lit(1000)
            ).alias("pp"),
        )
        .collect()
    }
    rows = li.collect()
    by_flag: dict = {}
    for r in rows:
        by_flag.setdefault(r.l_returnflag, ([], []))
        by_flag[r.l_returnflag][0].append(float(r.l_quantity))
        by_flag[r.l_returnflag][1].append(float(r.l_extendedprice))
    for flag, (qty, price) in by_flag.items():
        for vals, est, p in (
            (sorted(qty), approx[flag][0], 0.5),
            (sorted(price), approx[flag][1], 0.9),
        ):
            n = len(vals)
            import bisect

            lo = bisect.bisect_left(vals, est)
            hi = bisect.bisect_right(vals, est)
            target = p * n
            slack = n / 1000 + 1
            assert lo - slack <= target <= hi + slack, (
                flag,
                p,
                est,
                lo,
                hi,
                target,
            )


def test_corr_moments_close_to_builtin(spark):
    """The exact-moments Pearson r agrees with Spark's streaming F.corr
    to float tolerance (the moments form is the deterministic one; corr()
    is the fast-and-loose one — they must describe the same statistic)."""
    from pyspark.sql import functions as F

    from bigdata_retailrocket_recsys_spark.plans import QUERIES
    from bigdata_retailrocket_recsys_spark.sources.readers import load_table
    from tests.conftest import SF_ORACLE

    ours = {
        r.l_returnflag: r.corr_e9 / 1e9  # query emits floor(corr*1e9)
        for r in QUERIES["q_agg_corr_moments"].fn(spark, SF_ORACLE).collect()
    }
    builtin = {
        r.l_returnflag: r.c
        for r in load_table(spark, SF_ORACLE, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.corr("l_quantity", "l_extendedprice").alias("c"))
        .collect()
    }
    assert set(ours) == set(builtin)
    for flag in ours:
        assert abs(ours[flag] - builtin[flag]) < 2e-9, flag  # + 1e-9 floor step


def test_pagerank_invariants(spark):
    """Rank mass is conserved (Σ = 1) and ranks match a dense NumPy power
    iteration of the same formulation on a small digraph with a dangling
    node."""
    import numpy as np

    from bigdata_retailrocket_recsys_spark.operators.graph import pagerank

    # 0→1, 0→2, 1→2, 2→0, 3→2 ; node 4 dangling (edge 2→4 gives it rank)
    edge_list = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 4)]
    edges = spark.createDataFrame(edge_list, "src bigint, dst bigint")
    got = {
        r.node: r.rank
        for r in pagerank(edges, iters=10).collect()
    }
    assert abs(sum(got.values()) - 1.0) < 1e-9

    n, d = 5, 0.85
    M = np.zeros((n, n))
    outdeg = {}
    for s, t in edge_list:
        outdeg[s] = outdeg.get(s, 0) + 1
    for s, t in edge_list:
        M[t, s] = 1.0 / outdeg[s]
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        dangling = sum(r[i] for i in range(n) if i not in outdeg)
        r = (1 - d) / n + d * (M @ r + dangling / n)
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])


@given(
    intervals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),     # key
            st.integers(min_value=0, max_value=500),   # start
            st.integers(min_value=1, max_value=400),   # length
        ),
        min_size=1,
        max_size=14,
    )
)
@settings(**PROP_SETTINGS)
def test_interval_overlap_equals_bruteforce(spark, intervals):
    """The grid-cell interval join must equal the quadratic definition —
    each overlapping pair exactly once, on adversarial inputs (nested,
    identical, touching, and many-cell-spanning intervals; cell size
    deliberately smaller than max interval length)."""
    from pyspark.sql import functions as F

    from bigdata_retailrocket_recsys_spark.operators.joins import (
        interval_overlap_join,
    )

    rows = [
        (k, i, s, s + ln) for i, (k, s, ln) in enumerate(intervals)
    ]
    df = spark.createDataFrame(
        rows, "key bigint, iid bigint, start_us bigint, end_us bigint"
    )
    got = sorted(
        (r.a_iid, r.b_iid)
        for r in interval_overlap_join(
            df,
            df,
            start_col="start_us",
            end_col="end_us",
            cell=64,
            key_cols=["key"],
            extra_cond=F.col("a_iid") < F.col("b_iid"),
        ).collect()
    )
    want = sorted(
        (a[1], b[1])
        for a in rows
        for b in rows
        if a[1] < b[1] and a[0] == b[0] and a[2] < b[3] and b[2] < a[3]
    )
    assert got == want


def test_approx_distinct_within_rsd(spark):
    """HLL++ at rsd=0.02 must land within a conservative 5× the relative
    standard deviation of the exact distinct count on the oracle SF."""
    from pyspark.sql import functions as F

    from bigdata_retailrocket_recsys_spark.plans import QUERIES
    from bigdata_retailrocket_recsys_spark.sources.readers import load_table
    from tests.conftest import SF_ORACLE

    # the catalog entry now emits the contract FLAGS (r7 graduation) —
    # assert them, then re-derive the raw-estimate property directly
    flags = QUERIES["q_agg_approx_distinct"].fn(spark, SF_ORACLE).collect()
    assert flags and all(r.within_bound == 1 for r in flags)
    approx = {
        r.event_type: r.approx_users
        for r in load_table(spark, SF_ORACLE, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("approx_users"))
        .collect()
    }
    exact = {
        r.event_type: r.n
        for r in load_table(spark, SF_ORACLE, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for et in exact:
        rel_err = abs(approx[et] - exact[et]) / exact[et]
        assert rel_err <= 0.10, (et, approx[et], exact[et])


def test_floordiv_expr_is_true_floor_both_engines(spark):
    """Every epoch division in the catalog goes through floordiv_expr
    (Spark) / _floordiv_sql (DuckDB), which must equal Python's true floor
    division for ANY sign — Spark `div` truncates toward zero and DuckDB
    1.0's `//` truncates too, so the exact-division forms are what make
    pre-1970 epochs bucket identically (VERDICT r2 #2/#3)."""
    import duckdb

    from bigdata_retailrocket_recsys_spark.plans.catalog import (
        _floordiv_sql,
        floordiv_expr,
    )

    xs = [
        -86400000001, -86400000000, -86399999999, -1000, -999, -1,
        0, 1, 999, 1000, 86399999999, 86400000000, 86400000001,
        -(2**45) - 7, 2**45 + 7,
    ]
    for n in (1000, 86400000000):
        want = [x // n for x in xs]
        got_spark = [
            r[0]
            for r in spark.createDataFrame([(x,) for x in xs], "x bigint")
            .selectExpr(f"{floordiv_expr('x', n)} AS f")
            .collect()
        ]
        assert got_spark == want, f"spark floordiv n={n}"
        con = duckdb.connect()
        got_duck = [
            con.sql(f"SELECT {_floordiv_sql(str(x), n)}").fetchone()[0]
            for x in xs
        ]
        assert got_duck == want, f"duckdb floordiv n={n}"


def test_nan_placement_never_decided_by_comparison(spark):
    """NaN classification must use explicit isnan() on both engines — a
    bare `NaN >= t` comparison is TRUE under total-order semantics (Spark,
    DuckDB >= 1.0) but FALSE under IEEE semantics (older DuckDB), the exact
    count-flip signature of the r1 driver hash-fail hypothesis. Assert the
    q_null_handling classification puts NaN in the not-null bucket on both
    engines, and that no comparison against the NaN-able column decides
    it."""
    import math

    import duckdb
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, float("nan")), (2, 7.0), (3, 1.0), (4, None)],
        "id bigint, value double",
    )
    is_big = F.col("value").isNotNull() & (
        F.isnan("value") | (F.col("value") >= 5)
    )
    got = {
        r.id: r.big
        for r in df.select("id", is_big.cast("int").alias("big")).collect()
    }
    assert got == {1: 1, 2: 1, 3: 0, 4: 0}

    con = duckdb.connect()
    duck = dict(
        con.sql(
            """
        SELECT id, CASE WHEN value IS NOT NULL
                         AND (isnan(value) OR value >= 5)
                        THEN 1 ELSE 0 END
        FROM (VALUES (1, CAST('nan' AS DOUBLE)), (2, 7.0),
                     (3, 1.0), (4, NULL)) t(id, value)
        """
        ).fetchall()
    )
    assert duck == {1: 1, 2: 1, 3: 0, 4: 0}


texts_strategy = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "x1", "y2"]),
        min_size=0,
        max_size=90,
    ),
    min_size=1,
    max_size=8,
)


@given(docs=texts_strategy)
@settings(**PROP_SETTINGS)
def test_chunk_tokens_covers_and_reconstructs(spark, docs):
    """Chunking properties for any doc length: (a) every token index lands
    in ≥1 chunk; (b) consecutive chunks overlap by exactly ``overlap``
    tokens (except a short tail); (c) dropping the first ``overlap`` tokens
    of every chunk after the first reconstructs the document exactly."""
    from bigdata_retailrocket_recsys_spark.operators.text import chunk_tokens

    size, overlap = 16, 4
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = chunk_tokens(df, size=size, overlap=overlap)
    by_doc: dict[int, list] = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, toks in enumerate(docs):
        # split('') yields [''] — a doc with zero tokens still produces the
        # single empty chunk (matches ws_tokens semantics)
        expected_tokens = toks if toks else [""]
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        assert chunks[0].chunk_idx == 0
        assert [r.chunk_idx for r in chunks] == list(range(len(chunks)))
        rebuilt = chunks[0].chunk_text.split(" ")
        for c in chunks[1:]:
            rebuilt += c.chunk_text.split(" ")[overlap:]
        assert rebuilt == expected_tokens, (toks, [c.chunk_text for c in chunks])
        assert all(r.n_tokens <= size for r in chunks)
        assert all(r.n_tokens >= 1 for r in chunks)


@given(
    bodies=st.lists(
        st.sampled_from(
            [
                "plain words only",
                "mail a@b.io now",
                "x@y.org and c.d+e@f-g.com twice",
                "call 555-123-4567 ok",
                "+1 555-000-1111 and text",
                "",
            ]
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(**PROP_SETTINGS)
def test_redact_idempotent_and_complete(spark, bodies):
    """Redaction properties: no pattern matches survive one pass (so a
    second pass is a no-op and counts drop to zero), and counts equal the
    matches present in the input."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        PII_PATTERNS,
        redact_patterns,
    )

    from pyspark.sql import functions as F2

    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(bodies)], "doc_id bigint, text string"
    )
    once = redact_patterns(df)
    again = redact_patterns(
        once.select(F2.col("doc_id"), F2.col("redacted").alias("text"))
    )
    for r in again.collect():
        assert r.n_email == 0 and r.n_phone == 0, r
    import re

    got = {r.doc_id: r for r in once.collect()}
    for i, b in enumerate(bodies):
        assert got[i].n_email == len(re.findall(PII_PATTERNS["email"], b))
        assert got[i].n_phone == len(re.findall(PII_PATTERNS["phone"], b))


def test_contamination_extremes(spark):
    """Eval corpus identical to train → every eval doc 100% contaminated;
    disjoint vocabulary → zero matches on every doc."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        contamination_check,
    )

    train = spark.createDataFrame(
        [(1, "aa bb cc dd ee"), (2, "ff gg hh ii")], "doc_id bigint, text string"
    )
    same = contamination_check(train, train).collect()
    assert all(r.n_matched == r.n_shingles and r.contaminated == 1 for r in same)
    disjoint = spark.createDataFrame(
        [(9, "zz yy xx ww vv")], "doc_id bigint, text string"
    )
    out = contamination_check(train, disjoint).collect()
    assert len(out) == 1 and out[0].n_matched == 0 and out[0].contaminated == 0


@given(
    n_nodes=st.integers(min_value=1, max_value=12),
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ),
        max_size=15,
    ),
)
@settings(**PROP_SETTINGS)
def test_connected_components_bigstar_equals_union_find(spark, n_nodes, edges):
    """Large-star/small-star must produce the same partition as a
    driver-side union-find on arbitrary graphs (self-loops, duplicate
    edges, clipped out-of-range endpoints) — the same contract the
    min-label operator is held to."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        connected_components_bigstar,
    )

    edges = [(a % n_nodes, b % n_nodes) for a, b in edges]
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "node bigint")
    edf = spark.createDataFrame(
        edges or [(0, 0)], "src bigint, dst bigint"
    )
    got = {
        r.node: r.cluster_id
        for r in connected_components_bigstar(nodes, edf).collect()
    }

    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {i: find(i) for i in range(n_nodes)}
    assert got == expect


def test_triangle_counts_random_graph_equivalence(spark):
    """Degree-oriented enumeration ≡ naive a<b<c enumeration on a random
    graph (seeded LCG edges, dense enough for many triangles)."""
    from pyspark.sql import functions as F

    from bigdata_retailrocket_recsys_spark.operators.graph import (
        triangle_counts,
    )

    seed, edges = 0x2545F491, []
    for _ in range(400):
        seed = (1103515245 * seed + 12345) % (2**31)
        a = (seed >> 16) % 40  # high bits — LCG low bits correlate
        seed = (1103515245 * seed + 12345) % (2**31)
        b = (seed >> 16) % 40
        edges.append((a, b))
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.vtx: r.n_tri for r in triangle_counts(df).collect()}

    und = (
        df.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .cache()
    )
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = und.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = und.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    naive = {
        r.vtx: r.n_tri
        for r in tri.select(F.explode(F.array("a", "b", "c")).alias("vtx"))
        .groupBy("vtx")
        .agg(F.count("*").cast("bigint").alias("n_tri"))
        .collect()
    }
    assert got == naive and len(got) > 5


def test_global_rank_matches_window_row_number(spark):
    """Sharded global_rank ≡ ROW_NUMBER over a global window, any shard
    count, total order with duplicates broken by id."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdata_retailrocket_recsys_spark.operators.windows import (
        global_rank,
    )

    df = spark.range(0, 257).select(
        "id", (F.col("id") * 13 % 7).alias("m")
    )
    order = [F.col("m").asc(), F.col("id").desc()]
    want = {
        r.id: r.rank
        for r in df.withColumn(
            "rank", F.row_number().over(Window.orderBy(*order)).cast("bigint")
        ).collect()
    }
    for shards in (1, 4, 64):
        got = {
            r.id: r.rank
            for r in global_rank(df, order, n_shards=shards).collect()
        }
        assert got == want, shards


@settings(**PROP_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_edge_jaccard_matches_bruteforce(spark, edges):
    """Oriented-wedge common-neighbor counts must equal the naive
    adjacency-set intersection for every edge, on arbitrary small
    graphs (duplicates, self-loops, reversed edges included)."""
    from bigdata_retailrocket_recsys_spark.operators.graph import edge_jaccard

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        (r["u"], r["v"]): (r["common"], r["deg_u"], r["deg_v"], r["jaccard"])
        for r in edge_jaccard(df).collect()
    }
    # brute force
    und = {
        (min(a, b), max(a, b)) for a, b in edges if a != b
    }
    adj: dict[int, set[int]] = {}
    for u, v in und:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    assert set(got) == und
    for (u, v), (common, du, dv, jac) in got.items():
        exp_common = len(adj[u] & adj[v])
        assert common == exp_common, (u, v)
        assert du == len(adj[u]) and dv == len(adj[v])
        assert abs(jac - exp_common / (du + dv - exp_common)) < 1e-12


@settings(**PROP_SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_boilerplate_spans_matches_bruteforce(spark, docs):
    """Row-prevalence counts of 3-gram spans must equal the naive
    per-row distinct n-gram recount (within-row repeats counted once,
    duplicate rows counted separately)."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        boilerplate_spans,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["ngram"]: (r["n_rows"], r["example_doc"])
        for r in boilerplate_spans(
            df, n=3, min_rows=1
        ).collect()
    }
    from collections import defaultdict

    exp_rows: dict[str, int] = defaultdict(int)
    exp_min: dict[str, int] = {}
    for i, toks in enumerate(docs):
        # empty text tokenizes to [""] just like split(\s+) does
        toks2 = toks if toks else [""]
        grams = {
            " ".join(toks2[j : j + 3]) for j in range(len(toks2) - 2)
        }
        for g in grams:
            exp_rows[g] += 1
            exp_min.setdefault(g, i)
    assert got == {g: (exp_rows[g], exp_min[g]) for g in exp_rows}


@settings(**PROP_SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["x", "y", "z", "w", "v"]),
            min_size=2,
            max_size=10,
        ),
        min_size=2,
        max_size=6,
    )
)
def test_simhash_pairs_banding_recall_equals_bruteforce(spark, docs):
    """Banding must find EXACTLY the pairs within the Hamming budget:
    no pair above the cap is emitted, and every pair at or under it IS
    (pigeonhole guarantee, max_hamming < n_bands)."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        simhash,
        simhash_near_pairs,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(df, max_hamming=3).collect()
    }
    sigs = {r["doc"]: r["sig0"] for r in simhash(df).collect()}
    exp = {}
    ids = sorted(sigs)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            h = bin((sigs[ids[i]] ^ sigs[ids[j]]) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                exp[(ids[i], ids[j])] = h
    assert got == exp
    # n_bands NOT dividing 64 (ADVICE r6 #3): remainder bits must still
    # be banded (widths 13,13,12,13,13 cover all 64), so the pigeonhole
    # recall guarantee holds for n_bands=5 too
    got5 = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(
            df, max_hamming=3, n_bands=5
        ).collect()
    }
    assert got5 == exp


@settings(**PROP_SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["x", "y", "z", "w", "v"]),
            min_size=2,
            max_size=10,
        ),
        min_size=2,
        max_size=6,
    )
)
def test_simhash128_banding_recall_equals_bruteforce(spark, docs):
    """128-bit tier: banding must emit EXACTLY the pairs within the
    Hamming budget over the concatenated 128-bit signature — for aligned
    bands (n_bands=4, 32-bit keys) AND for bands straddling the lo/hi
    word boundary (n_bands=5: widths 26,26,26,25,25 put band 2 across
    bit 64)."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        simhash,
        simhash_near_pairs,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = {
        r["doc"]: ((r["sig0"] & ((1 << 64) - 1)) | ((r["sig1"] & ((1 << 64) - 1)) << 64))
        for r in simhash(df, bits=128).collect()
    }
    exp = {}
    ids = sorted(sigs)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            h = bin(sigs[ids[i]] ^ sigs[ids[j]]).count("1")
            if h <= 3:
                exp[(ids[i], ids[j])] = h
    for nb in (4, 5):
        got = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in simhash_near_pairs(
                df, bits=128, max_hamming=3, n_bands=nb
            ).collect()
        }
        assert got == exp, (nb, got, exp)


def _hot_bucket_docs():
    """Planted hot-bucket corpus: one templated family of 120 IDENTICAL
    docs (identical shingle sets → identical signatures → every band is
    one 120-member bucket — the boilerplate-crawl adversary), 10 planted
    small true-dup pairs (identical text per pair, distinct across
    pairs), and 20 unique-word singleton docs."""
    fam_text = "the quick brown fox jumps over the lazy dog again today"
    rows = [(i, fam_text) for i in range(120)]
    for p in range(10):
        t = f"planted pair {p} shares every single one of its tokens p{p}"
        rows += [(1000 + 2 * p, t), (1000 + 2 * p + 1, t)]
    rows += [
        (2000 + i, " ".join(f"u{i}_{j}" for j in range(12))) for i in range(20)
    ]
    return rows


def test_lsh_hot_bucket_cap_minhash(spark):
    """VERDICT r10 #1 lock: the max_bucket guard bounds the in-bucket
    self-join LINEARLY on a planted hot bucket while (a) leaving every
    below-cap bucket byte-identical to the uncapped clique, (b) keeping
    recall on the planted small true dups unchanged (lsh_audit: every
    new miss is exactly a collapsed family non-hub pair), and (c)
    preserving CLUSTER recall — connected components over the verified
    capped pairs still put the whole family in ONE component."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        connected_components_bigstar,
        jaccard_verify,
        lsh_audit,
        minhash_lsh_candidates,
    )

    F_SZ = 120
    df = spark.createDataFrame(_hot_bucket_docs(), ["doc_id", "text"])
    unc = minhash_lsh_candidates(df).collect()
    cap = minhash_lsh_candidates(df, max_bucket=50).collect()
    fam_quad = F_SZ * (F_SZ - 1) // 2
    # uncapped: quadratic family clique (+ planted pairs + incidental
    # band-slice false alarms — inherent to LSH, verified away later)
    unc_fam = {
        (r.doc_a, r.doc_b) for r in unc if r.doc_a < F_SZ and r.doc_b < F_SZ
    }
    assert len(unc_fam) == fam_quad
    # capped: the family collapses to a LINEAR star from hub = min doc
    cap_fam = {
        (r.doc_a, r.doc_b) for r in cap if r.doc_a < F_SZ and r.doc_b < F_SZ
    }
    assert cap_fam == {(0, b) for b in range(1, F_SZ)}
    assert len(cap) < len(unc)
    planted = {(1000 + 2 * p, 1000 + 2 * p + 1) for p in range(10)}
    kept = {
        (r.doc_a, r.doc_b): (r.n_shared_bands, r.n_capped_bands) for r in cap
    }
    unc_bands = {(r.doc_a, r.doc_b): r.n_shared_bands for r in unc}
    for pr in planted:  # below-cap buckets: clique evidence unchanged
        assert kept[pr] == (unc_bands[pr], 0)
    # (b) audit: misses appear ONLY from the family's star collapse
    a_unc = lsh_audit(df).collect()[0]
    a_cap = lsh_audit(df, max_bucket=50).collect()[0]
    assert a_unc.n_misses == 0
    assert a_cap.n_misses == fam_quad - (F_SZ - 1)
    assert a_cap.n_hits == (F_SZ - 1) + 10
    # (c) cluster recall: CC over verified capped pairs = one family
    # component + 10 pair components
    ver = jaccard_verify(
        spark.createDataFrame(
            [(a, b) for (a, b) in kept], ["doc_a", "doc_b"]
        ),
        df,
        min_jaccard=0.8,
    )
    nodes = df.selectExpr("doc_id as node")
    comp = connected_components_bigstar(
        nodes, ver, src_col="doc_a", dst_col="doc_b"
    )
    from collections import Counter

    sizes = Counter(r["cluster_id"] for r in comp.collect())
    by_size = Counter(sizes.values())
    assert by_size[F_SZ] == 1  # the family is ONE component
    assert by_size[2] == 10  # planted pairs intact
    # high cap (never fires) == uncapped values, audit col all-zero
    hi = minhash_lsh_candidates(df, max_bucket=10**6).collect()
    assert {(r.doc_a, r.doc_b, r.n_shared_bands) for r in hi} == {
        (r.doc_a, r.doc_b, r.n_shared_bands) for r in unc
    }
    assert all(r.n_capped_bands == 0 for r in hi)


def test_lsh_hot_bucket_cap_simhash_and_vs_corpus(spark):
    """Same guard on the SimHash tiers (star edges verified by Hamming —
    an identical family has Hamming 0 to its hub, so connectivity
    survives) and on the bipartite vs-corpus path (deterministic
    min-doc-id representatives + overflow audit)."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        minhash_lsh_candidates_vs_corpus,
        minhash_signatures_table,
        simhash_near_pairs,
    )
    from bigdata_retailrocket_recsys_spark.sources.scratch import (
        session_scratch,
    )

    F_SZ = 120
    rows = _hot_bucket_docs()
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for bits in (64, 128):
        got = simhash_near_pairs(df, bits=bits, max_bucket=50).collect()
        fam = [r for r in got if r.doc_a < F_SZ and r.doc_b < F_SZ]
        assert {(r.doc_a, r.doc_b) for r in fam} == {
            (0, b) for b in range(1, F_SZ)
        }, bits
        assert all(r.hamming == 0 and r.from_capped_bucket == 1 for r in fam)
        planted = [
            r for r in got if r.doc_a >= 1000 and r.doc_b >= 1000
        ]
        assert len(planted) == 10 and all(
            r.from_capped_bucket == 0 for r in planted
        )
    # bipartite: batch doc colliding with the capped family meets exactly
    # the max_bucket smallest corpus ids, overflow audited
    p = session_scratch(spark, "hotbucket_sigs")
    minhash_signatures_table(df, p)
    sigs = spark.read.parquet(p)
    batch = spark.createDataFrame(
        [(9000, rows[0][1])], ["doc_id", "text"]
    )
    got = minhash_lsh_candidates_vs_corpus(
        batch, corpus_signatures=sigs, max_bucket=10
    ).collect()
    assert {r.corpus_doc for r in got} == set(range(10))
    assert all(
        r.n_shared_bands == 4 and r.max_bucket_overflow >= F_SZ - 10
        for r in got
    )


def test_lsh_hot_bucket_cap_embedding(spark):
    """The same guard on the embedding sign-LSH tier: a 200-strong
    identical-vector cluster collapses to a 199-edge star (hub = min
    id) instead of 19,900 clique pairs, star edges still pass the exact
    cosine verify, and a never-firing cap is value-identical to
    uncapped."""
    import random

    from bigdata_retailrocket_recsys_spark.operators.dedup import embed_lsh_pairs

    random.seed(3)
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(200)]
    rows += [
        (1000 + i, [random.gauss(0, 1) for _ in range(4)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    unc = {
        (r.id_a, r.id_b)
        for r in embed_lsh_pairs(
            df, dim=4, tables=12, bits=8, min_cosine=0.99
        ).collect()
    }
    capped = embed_lsh_pairs(
        df, dim=4, tables=12, bits=8, min_cosine=0.99, max_bucket=50
    ).collect()
    fam = [r for r in capped if r.id_a < 1000 and r.id_b < 1000]
    assert {(r.id_a, r.id_b) for r in fam} == {(0, b) for b in range(1, 200)}
    assert all(r.cosine >= 0.99 for r in capped)
    assert len(capped) < len(unc)
    hi = {
        (r.id_a, r.id_b)
        for r in embed_lsh_pairs(
            df, dim=4, tables=12, bits=8, min_cosine=0.99, max_bucket=10**6
        ).collect()
    }
    assert hi == unc


def test_capped_lsh_cache_discipline(spark):
    """r11 consolidation lock (VERDICT r11 #1): every capped LSH path
    runs through the shared _hot_bucket_edges producer, which (a)
    truncates the pair output's lineage at call time — the banding
    subtree is evaluated exactly ONCE, no consumer can re-run it — and
    (b) releases the docs×bands sized cache before returning, so the
    Spark cache manager is empty after the call (the dot_topk_int8
    materialize-then-unpersist rule; ADVICE r11 #1)."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        minhash_lsh_candidates,
        simhash_near_pairs,
    )

    spark.catalog.clearCache()
    df = spark.createDataFrame(_hot_bucket_docs(), ["doc_id", "text"])
    for fn in (
        lambda: minhash_lsh_candidates(df, max_bucket=50),
        lambda: simhash_near_pairs(df, max_bucket=50),
    ):
        out = fn()
        # lineage truncated: the returned plan is a checkpoint scan, not
        # the live banding subtree (which a cached-but-lazy form would
        # re-expose to every downstream consumer)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan, plan
        # sized cache released: nothing left in the cache manager
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
            "capped LSH left a pinned DataFrame cache behind"
        )
        assert out.count() > 0
