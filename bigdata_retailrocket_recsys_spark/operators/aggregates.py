"""Aggregation operators (SURVEY.md §2.4, A1-A8).

Most aggregates are direct built-ins; the two worth naming:

- ``two_level_agg`` (A5): re-aggregation, e.g. per-(user,session) duration →
  per-user avg duration (reference py:524-529). Two shuffles, second one
  strictly narrower; map-side partial aggregation applies at both levels.
- ``collect_ordered_seq`` (A6): the reference does ``orderBy`` *before*
  ``groupBy().collect_list`` (py:396-400), which does NOT guarantee
  intra-group order after the shuffle (SURVEY §4.4). The engine collects
  ``struct(order_key, value)`` and ``sort_array``s inside each group —
  deterministic, and still one shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def two_level_agg(
    df: DataFrame,
    *,
    fine_keys: list[str],
    fine_aggs: list[Column],
    coarse_keys: list[str],
    coarse_aggs: list[Column],
) -> DataFrame:
    """A5 — groupBy(fine).agg(...) → groupBy(coarse).agg(...)."""
    return df.groupBy(*fine_keys).agg(*fine_aggs).groupBy(*coarse_keys).agg(*coarse_aggs)


def collect_ordered_seq(
    df: DataFrame,
    *,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    out_col: str = "seq",
) -> DataFrame:
    """A6 — deterministic ordered sequence per group.

    Collects ``struct(order_cols..., value)`` then ``sort_array`` (struct
    comparison is lexicographic over fields, so order columns come first)
    and projects back to the bare value sequence.
    """
    packed = F.struct(*[F.col(c) for c in order_cols], F.col(value_col).alias("__v"))
    return df.groupBy(*group_cols).agg(
        F.transform(
            F.sort_array(F.collect_list(packed)), lambda s: s["__v"]
        ).alias(out_col)
    )


def time_decay_popularity(
    events: DataFrame,
    *,
    item_col: str,
    ts_col: str,
    half_life_days: int = 1,
    cap_half_lives: int = 30,
) -> DataFrame:
    """Exponentially time-decayed popularity with EXACT integer
    arithmetic — the recency-weighted complement of the reference's raw
    popularity candidates (prepare_training_data_pyspark.py:195-205): an
    event ``a`` half-lives old contributes weight ``2^(cap - a)`` (cap at
    ``cap_half_lives``; older events contribute the floor weight 1), so
    ratios between scores follow exact exponential decay with the chosen
    half-life and NOTHING is floating point: the per-event weight is a
    bigint shift, the per-item score a bigint sum — bit-identical across
    engines, partitionings, and summation orders (the float form
    ``sum(0.5^age)`` is partition-order dependent).

    The reference date is ``max(date(ts))`` over the input, computed as a
    1-row aggregate and broadcast (no driver collect, no wall-clock
    dependence — reruns on the same data give the same scores). NULL ts
    or NULL item rows are dropped (no age / no identity). Output:
    ``item_col``, ``decay_score`` (bigint), ``n_events`` (bigint).

    Plan: one 1-row agg broadcast back + one map-side-combinable groupBy —
    the fact rows shuffle once, as 16-byte (item, weight) partials.
    """
    if half_life_days < 1 or cap_half_lives < 1:
        raise ValueError("half_life_days and cap_half_lives must be >= 1")
    ev = events.filter(
        F.col(ts_col).isNotNull() & F.col(item_col).isNotNull()
    ).select(F.col(item_col), F.to_date(ts_col).alias("__d"))
    ref = ev.agg(F.max("__d").alias("__ref"))
    return (
        ev.crossJoin(F.broadcast(ref))
        .withColumn(
            "__w",
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), {cap_half_lives} - "
                f"CAST(least(datediff(__ref, __d) DIV {half_life_days}, "
                f"{cap_half_lives}) AS INT))"
            ),
        )
        .groupBy(item_col)
        .agg(
            F.sum("__w").cast("bigint").alias("decay_score"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
    )


def weighted_median(
    df: DataFrame,
    *,
    group_col: str,
    value_col: str,
    weight_col: str,
    n_shards: int = 32,
) -> DataFrame:
    """Exact WEIGHTED median per group (north-star extension, SURVEY
    §2.11 — no reference counterpart): the smallest value v whose
    cumulative weight reaches half the group total — the robust center
    when observations carry importance (token counts, revenue, sample
    weights), where a plain median over rows is wrong.

    ALL-INTEGER for integer weights: the halving is the
    cross-multiplication ``2·cum ≥ W`` (never a /2), so the result is
    exact on any engine. Shape: one map-side-combinable pre-aggregation
    to (group, value) grain — which also makes the cumsum's order key
    unique, the `_sharded_prefix_sum` precondition — then a sharded
    range prefix sum (group-leading contiguous shards + broadcast
    offsets; never a single-reducer group window), then one min-over-
    qualifying aggregate. NULL groups form their own group (null-safe
    machinery); NULL values/weights are dropped.

    Output: (group, w_median, total_w).
    """
    from bigdata_retailrocket_recsys_spark.operators.windows import (
        _sharded_prefix_sum,
    )

    collapsed = (
        df.filter(
            F.col(value_col).isNotNull() & F.col(weight_col).isNotNull()
        )
        .groupBy(group_col, value_col)
        .agg(F.sum(weight_col).cast("bigint").alias("__w"))
    )
    cum = _sharded_prefix_sum(
        collapsed, [F.col(value_col).asc()], "__w", n_shards, [group_col]
    )
    return cum.groupBy(group_col).agg(
        F.min(
            F.when(2 * F.col("__cum") >= F.col("__tot"), F.col(value_col))
        ).alias("w_median"),
        F.max(F.col("__tot")).cast("bigint").alias("total_w"),
    )


def rolling_distinct_actives(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """DAU / WAU-style rolling distinct actives: for every calendar day
    with activity, the distinct users that day (dau) and over the
    trailing ``window_days`` window (wau) plus the stickiness ratio
    (dau/wau in ppm) — the growth-analytics curve a sliding-window
    DISTINCT cannot express as a plain window aggregate (distinct
    window aggs are banned; the trailing-range window trick only sums).

    Shape chosen for 100 TB: facts collapse to DISTINCT (user, day)
    pairs FIRST (the only corpus-sized shuffle, 8-byte keys); each pair
    then explodes to the ``window_days`` window-END days it contributes
    to (constant ×7 inflation — an equi-join shape, never a
    BroadcastNestedLoop band join), is semi-joined to the bounded
    REAL-activity-day set (a window ending on a day with no events is
    not a reporting row), re-distinct-ed at (user, end_day) grain and
    counted. All integers; days render as epoch days (dates are outside
    the stringify-safe type pairs — CLAUDE.md).

    Output: (epoch_day, dau, wau, stickiness_ppm), one row per active
    day.
    """
    pairs = (
        events.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(user_col).alias("__u"),
            F.unix_date(F.to_date(F.col(ts_col))).cast("bigint").alias("__d"),
        )
        .distinct()
    )
    days = pairs.select("__d").distinct()
    dau = pairs.groupBy("__d").agg(
        F.countDistinct("__u").cast("bigint").alias("dau")
    )
    ends = pairs.select(
        "__u",
        F.explode(
            F.sequence(
                F.col("__d"), F.col("__d") + F.lit(int(window_days) - 1)
            )
        ).alias("__e"),
    ).join(days.select(F.col("__d").alias("__e")), "__e", "semi")
    wau = ends.groupBy("__e").agg(
        # countDistinct dedups the (user, end_day) grain itself — no
        # pre-distinct exchange needed
        F.countDistinct("__u").cast("bigint").alias("wau")
    )
    return (
        dau.join(wau, dau["__d"] == wau["__e"])
        .select(
            F.col("__d").alias("epoch_day"),
            "dau",
            "wau",
            F.expr("CAST(dau * 1000000 AS BIGINT) div wau")
            .cast("bigint")
            .alias("stickiness_ppm"),
        )
    )


def cusum_changepoint(
    series: DataFrame,
    *,
    group_col: str,
    step_col: str,
    value_col: str,
) -> DataFrame:
    """CUSUM change-point detection over a per-group integer series
    (Page 1954 — the monitoring classic: "which day did this metric's
    level shift?"). The cumulative sum of deviations from the group
    mean peaks (in absolute value) AT the change point; detecting it
    needs no distributional model and no floats: with n steps and total
    S, ``cusum_k = Σ_{i<=k} (n·v_i − S)`` is n·(the mean-deviation
    cusum) — exact bigints via cross-multiplication (the t-closeness
    discipline). The reported change step is the argmax of |cusum|
    (earliest step on ties — a total order).

    Shape: one per-group aggregate for (n, S) broadcast back (groups
    are bounded — event types, metrics), one window per group over the
    STEP axis (bounded: days/hours — a per-group series, not facts;
    the facts were already reduced to the series by the caller), one
    rank-1 probe. Output: (group, n_steps, change_step, cusum_abs_max).
    """
    from pyspark.sql import Window

    g = series.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(value_col).cast("bigint").alias("__s"),
    )
    # NULL-SAFE join-back: a NULL group is a real series (the sharded-rank
    # lesson — a plain equi join silently drops it)
    left, right = series.alias("__sr"), g.alias("__g")
    j = left.join(
        F.broadcast(right),
        F.col(f"__sr.{group_col}").eqNullSafe(F.col(f"__g.{group_col}")),
    ).select("__sr.*", "__g.__n", "__g.__s")
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(step_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = j.withColumn(
        "__cusum",
        F.sum(
            F.col("__n") * F.col(value_col).cast("bigint") - F.col("__s")
        ).over(w),
    )
    wr = Window.partitionBy(group_col).orderBy(
        F.abs(F.col("__cusum")).desc(), F.col(step_col).asc()
    )
    return (
        c.withColumn("__r", F.row_number().over(wr))
        .filter(F.col("__r") == 1)
        .select(
            group_col,
            F.col("__n").alias("n_steps"),
            F.col(step_col).alias("change_step"),
            F.abs(F.col("__cusum")).cast("bigint").alias("cusum_abs_max"),
        )
    )


def rolling_value_quantiles(
    df: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    window_days: int = 7,
    n_shards: int = 32,
) -> DataFrame:
    """EXACT trailing-window quantiles per day — "p95 over the trailing
    7 days" (SLO/latency/revenue monitoring), the quantile sibling of
    :func:`rolling_distinct_actives`: a trailing RANGE percentile
    window is unbounded state, so each (day, value) observation
    explodes to its ``window_days`` window-END days (equi shape,
    constant ×window inflation — never a band BNLJ), end days bounded
    to REAL active days by a semi-join, then per-end-day order
    statistics over a GROUPED sharded prefix sum (group-leading range
    shards + broadcast offsets — no per-day single-reducer window).

    Exactness: values are exact CENTS (``floor(value·100)`` bigint —
    the q_eval_forecast_mase rule; floor-on-double is engine-
    identical), quantiles are order statistics by cross-multiplication
    (p50: ``cum·2 ≥ n``; p95: ``cum·100 ≥ 95·n``) — all-integer
    output, no percentile_approx sketch, no float ordering. NaN/±inf
    excluded (the KS rule).

    Output per active end day: (end_day [epoch days], n_obs, min_c,
    p50_c, p95_c, max_c) — all bigint.
    """
    from bigdata_retailrocket_recsys_spark.operators.windows import (
        _sharded_prefix_sum,
    )

    v = F.col(value_col).cast("double")
    base = df.filter(
        F.col(ts_col).isNotNull()
        & v.isNotNull()
        & ~F.isnan(v)
        & (F.abs(v) != float("inf"))
    ).select(
        F.unix_date(F.to_date(F.col(ts_col))).cast("bigint").alias("__day"),
        F.floor(v * 100).cast("bigint").alias("__vc"),
    )
    days = base.select("__day").distinct()
    x = base.select(
        "__vc",
        F.explode(
            F.sequence(
                F.col("__day"), F.col("__day") + F.lit(window_days - 1)
            )
        ).alias("__ed"),
    )
    xx = x.join(
        days.select(F.col("__day").alias("__ed")), "__ed", "left_semi"
    )
    c = xx.groupBy("__ed", "__vc").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    cum = _sharded_prefix_sum(
        c, [F.col("__vc").asc()], "__n", n_shards, partition_by=["__ed"]
    )
    return cum.groupBy("__ed").agg(
        F.max("__tot").cast("bigint").alias("n_obs"),
        F.min("__vc").cast("bigint").alias("min_c"),
        F.min(
            F.when(F.col("__cum") * 2 >= F.col("__tot"), F.col("__vc"))
        ).cast("bigint").alias("p50_c"),
        F.min(
            F.when(
                F.col("__cum") * 100 >= 95 * F.col("__tot"), F.col("__vc")
            )
        ).cast("bigint").alias("p95_c"),
        F.max("__vc").cast("bigint").alias("max_c"),
    ).select(
        F.col("__ed").alias("end_day"),
        "n_obs",
        "min_c",
        "p50_c",
        "p95_c",
        "max_c",
    )


def ks_two_sample(
    df: DataFrame,
    *,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    n_shards: int = 32,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D statistic — the continuous-metric
    drift detector (did the VALUE distribution of slice A shift vs
    slice B?), complementing the token-level KL monitor. D =
    max_v |ECDF_a(v) − ECDF_b(v)| is kept EXACT by cross-multiplication:
    ``d_scaled = max |cum_a·n_b − cum_b·n_a|`` over the ordered distinct
    value axis, with ONE final IEEE division for the classic D ∈ [0,1].

    NaN/±inf values are excluded (they order differently across
    engines); remaining doubles compare exactly, so the distinct-value
    collapse, the ordering, and the argmax (earliest value on ties) are
    all engine-deterministic. Shape: one map-side-combinable collapse to
    (value, count_a, count_b) — the only fact-sized shuffle, executed
    ONCE: both ECDF cumsums ride a single multi-weight sharded prefix
    pass (``_sharded_prefix_sums`` — ADVICE r10 closed: the old form's
    two single-weight calls each re-ran the collapse because Spark never
    reuses a shared subtree). The distinct-value axis is never a
    single-reducer window (unbounded cardinality at 100 TB); the final
    argmax is a TakeOrderedAndProject, never a full sort.

    Output (one row): (n_a, n_b, d_scaled, at_value, ks_d).
    """
    from bigdata_retailrocket_recsys_spark.operators.windows import (
        _sharded_prefix_sums,
    )

    v = F.col(value_col).cast("double")
    base = df.filter(
        v.isNotNull()
        & ~F.isnan(v)
        & (F.abs(v) != float("inf"))
        & F.col(group_col).isin([group_a, group_b])
    ).select(v.alias("__v"), F.col(group_col).alias("__g"))
    c = base.groupBy("__v").agg(
        F.sum(F.when(F.col("__g") == group_a, 1).otherwise(0))
        .cast("bigint")
        .alias("__ca"),
        F.sum(F.when(F.col("__g") == group_b, 1).otherwise(0))
        .cast("bigint")
        .alias("__cb"),
    )
    j = _sharded_prefix_sums(
        c, [F.col("__v").asc()], ["__ca", "__cb"], n_shards
    ).select(
        "__v",
        F.col("__tot___ca").alias("__na"),
        F.col("__tot___cb").alias("__nb"),
        F.abs(
            F.col("__cum___ca") * F.col("__tot___cb")
            - F.col("__cum___cb") * F.col("__tot___ca")
        )
        .cast("bigint")
        .alias("__d"),
    )
    top = j.orderBy(F.col("__d").desc(), F.col("__v").asc()).limit(1)
    return top.select(
        F.col("__na").alias("n_a"),
        F.col("__nb").alias("n_b"),
        F.col("__d").alias("d_scaled"),
        F.col("__v").alias("at_value"),
        F.when(
            (F.col("__na") > 0) & (F.col("__nb") > 0),
            F.col("__d").cast("double")
            / (F.col("__na") * F.col("__nb")).cast("double"),
        ).alias("ks_d"),
    )


#: Per-bucket PSI contribution (p−q)·ln(p/q) over Laplace-smoothed count
#: ratios, µ-floored — ONE template formatted with column names for BOTH
#: engines (the KL_CONTRIB_SQL discipline: identical IEEE tree, so the
#: bigint contributions value-hash).
PSI_CONTRIB_SQL = (
    "CAST(FLOOR((CAST({sa} AS DOUBLE) / CAST({sna} AS DOUBLE)"
    " - CAST({sb} AS DOUBLE) / CAST({snb} AS DOUBLE))"
    " * ln((CAST({sa} AS DOUBLE) * CAST({snb} AS DOUBLE))"
    "      / (CAST({sb} AS DOUBLE) * CAST({sna} AS DOUBLE)))"
    " * 1e6) AS BIGINT)"
)


def psi_drift(
    df: DataFrame,
    *,
    bucket_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Population Stability Index between two slices over a bucketed
    metric — the scorecard-industry drift number (rule of thumb:
    < 0.1 stable, 0.1-0.25 shifting, > 0.25 act), the BUCKETED
    companion to the exact-ECDF `ks_two_sample`. PSI =
    Σ (p_i − q_i)·ln(p_i/q_i); empty buckets are handled by Laplace
    +1 smoothing on counts (deterministic — no ε-floats), with totals
    smoothed by the bucket count m, so every bucket observed in EITHER
    slice contributes finitely.

    Cross-engine: per-bucket contributions are µ-floored through ONE
    shared template (PSI_CONTRIB_SQL) and summed exactly; the final
    ``psi`` double is the bigint sum over 1e6 — one IEEE division.
    The summed psi_u is clamped to ≥ 0 at the OUTPUT level (identically
    in the oracle — ADVICE r10): the µ-floor rounds the tiny
    IEEE-negative terms of mathematically-zero buckets DOWN to −1µ, so
    identical distributions could otherwise read a slightly negative
    PSI, which is defined ≥ 0; the clamp keeps the shared contrib tree
    intact. Shape: one map-side-combinable collapse to (bucket,
    count_a, count_b) — the only fact-sized shuffle — then a
    buckets-bounded aggregate with the 1-row totals broadcast.
    Output (one row): (n_a, n_b, n_buckets, psi_u, psi).
    """
    base = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        F.col(bucket_col).alias("__bk"), F.col(group_col).alias("__g")
    )
    c = base.groupBy("__bk").agg(
        F.sum(F.when(F.col("__g") == group_a, 1).otherwise(0))
        .cast("bigint")
        .alias("__ca"),
        F.sum(F.when(F.col("__g") == group_b, 1).otherwise(0))
        .cast("bigint")
        .alias("__cb"),
    )
    return _psi_tail(c)


def _psi_tail(c: DataFrame) -> DataFrame:
    """PSI over per-bucket counts (__bk, __ca, __cb): Laplace +1
    smoothing, shared µ-floored contrib tree, exact bigint sum,
    GREATEST clamp — the tail shared by the raw-bucket and
    quantile-bin PSI forms."""
    t = c.agg(
        F.sum("__ca").cast("bigint").alias("__na"),
        F.sum("__cb").cast("bigint").alias("__nb"),
        F.count(F.lit(1)).cast("bigint").alias("__m"),
    )
    j = c.crossJoin(F.broadcast(t)).select(
        "__na",
        "__nb",
        "__m",
        (F.col("__ca") + 1).cast("bigint").alias("__sa"),
        (F.col("__cb") + 1).cast("bigint").alias("__sb"),
        (F.col("__na") + F.col("__m")).cast("bigint").alias("__sna"),
        (F.col("__nb") + F.col("__m")).cast("bigint").alias("__snb"),
    )
    contrib = F.expr(
        PSI_CONTRIB_SQL.format(sa="__sa", sb="__sb", sna="__sna", snb="__snb")
    )
    agg = j.groupBy().agg(
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
        F.max("__m").alias("n_buckets"),
        F.greatest(
            F.sum(contrib).cast("bigint"), F.lit(0).cast("bigint")
        ).alias("psi_u"),
    )
    return agg.select(
        "n_a",
        "n_b",
        "n_buckets",
        "psi_u",
        (F.col("psi_u").cast("double") / F.lit(1e6)).alias("psi"),
    )


def psi_drift_quantile(
    df: DataFrame,
    *,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    n_buckets: int = 10,
    n_shards: int = 32,
) -> DataFrame:
    """PSI over BASELINE-QUANTILE bins — the standard scorecard form
    (bin edges are the baseline slice's deciles, so each bin holds
    ~1/n_buckets of the baseline by construction and the statistic
    measures where the CURRENT slice moved, independent of the value
    scale; fixed-width bins make PSI an artifact of the chosen width).

    Engine-deterministic throughout: edges are ORDER STATISTICS of the
    baseline — the smallest value whose cumulative baseline count
    reaches k/n_buckets, by the integer cross-multiplication
    ``cum·n_buckets ≥ k·n_a`` over the distinct-value axis (the
    weighted-median rule generalized to every quantile), computed on a
    sharded prefix sum (never a single-reducer window; unbounded value
    cardinality at 100 TB). Bucket id = number of edges strictly below
    the value (ties to an edge fall LEFT, the ≤-edge convention) —
    all-integer. NaN/±inf excluded like :func:`ks_two_sample`. The PSI
    tail (Laplace smoothing, shared PSI_CONTRIB_SQL tree, GREATEST
    clamp) is :func:`psi_drift`'s, verbatim.

    Output (one row): (n_a, n_b, n_buckets, psi_u, psi) — n_buckets is
    the OBSERVED bucket count (≤ the requested ``n_buckets``; fewer
    when the baseline has few distinct values).
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    from bigdata_retailrocket_recsys_spark.operators.windows import (
        _sharded_prefix_sum,
    )

    v = F.col(value_col).cast("double")
    base = df.filter(
        v.isNotNull()
        & ~F.isnan(v)
        & (F.abs(v) != float("inf"))
        & F.col(group_col).isin([group_a, group_b])
    ).select(v.alias("__v"), F.col(group_col).alias("__g"))
    c = base.groupBy("__v").agg(
        F.sum(F.when(F.col("__g") == group_a, 1).otherwise(0))
        .cast("bigint")
        .alias("__ca"),
        F.sum(F.when(F.col("__g") == group_b, 1).otherwise(0))
        .cast("bigint")
        .alias("__cb"),
    )
    cum = _sharded_prefix_sum(c, [F.col("__v").asc()], "__ca", n_shards)
    # one bounded row of n_buckets−1 edges (NULL when the baseline is
    # empty past that quantile), broadcast back over the value axis
    edges = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("__cum") * n_buckets >= k * F.col("__tot"),
                    F.col("__v"),
                )
            ).alias(f"__e{k}")
            for k in range(1, n_buckets)
        ]
    )
    bucket = None
    for k in range(1, n_buckets):
        term = F.when(
            F.col(f"__e{k}").isNotNull() & (F.col("__v") > F.col(f"__e{k}")),
            1,
        ).otherwise(0)
        bucket = term if bucket is None else bucket + term
    # Bucketing reads CUM, not c (ADVICE r11 #2): cum carries every c
    # column plus the running sums, and it rides _sharded_prefix_sum's
    # internal per-shard cache — so the edges path and this path share
    # the cached collapse instead of re-running the base scan+groupBy.
    bucketed = (
        cum.crossJoin(F.broadcast(edges))
        .select(
            bucket.cast("bigint").alias("__bk"), "__ca", "__cb"
        )
        .groupBy("__bk")
        .agg(
            F.sum("__ca").cast("bigint").alias("__ca"),
            F.sum("__cb").cast("bigint").alias("__cb"),
        )
    )
    return _psi_tail(bucketed)


def survival_life_table(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    churn_gap_days: int = 14,
) -> DataFrame:
    """Kaplan-Meier-style LIFE TABLE at day grain — time-to-churn
    analytics (the retention/growth-accounting family's survival
    sibling; north-star extension, SURVEY §2.11): each user's duration
    is last-activity-day − first-activity-day; a user whose last
    activity predates the observation horizon (global max day) by more
    than ``churn_gap_days`` is an observed CHURN at that duration,
    otherwise right-CENSORED (still alive at the horizon — the standard
    KM censoring rule).

    Output per observed duration t: ``t_days``, ``n_at_risk`` (users
    with duration ≥ t — alive entering day t), ``n_churned``,
    ``n_censored`` — ALL-INTEGER (the established cross-engine rule):
    the KM survival product Π(1 − d_t/n_t) is one float fold the
    consumer applies; emitting it here would trade a bit-exact oracle
    for a cosmetic column.

    Scale shape: ONE per-user min/max aggregate (map-side combinable)
    → a 1-row broadcast horizon → a day-grain groupBy. The reverse
    cumulative ``n_at_risk`` window runs on the AGGREGATED frame whose
    cardinality is bounded by the calendar span (≤ a few thousand rows
    for a decade of days), so the unpartitioned window is
    single-reducer-over-bounded-input by construction — the
    q_dedup_lsh_audit one-row-aggregate class, not a fact-sized
    collapse."""
    from pyspark.sql import Window

    day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01"))
    pu = (
        events.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(user_col)
        .agg(
            F.min(day).alias("fd"),
            F.max(day).alias("ld"),
        )
    )
    h = pu.agg(F.max("ld").alias("__h"))
    d = pu.crossJoin(F.broadcast(h)).select(
        (F.col("ld") - F.col("fd")).alias("t"),
        F.when(
            F.col("ld") < F.col("__h") - F.lit(churn_gap_days), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("ch"),
    )
    g = d.groupBy("t").agg(
        F.sum("ch").cast("bigint").alias("n_churned"),
        F.sum(F.lit(1) - F.col("ch")).cast("bigint").alias("n_censored"),
    )
    w = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return g.select(
        F.col("t").cast("bigint").alias("t_days"),
        F.sum(F.col("n_churned") + F.col("n_censored"))
        .over(w)
        .cast("bigint")
        .alias("n_at_risk"),
        "n_churned",
        "n_censored",
    )
