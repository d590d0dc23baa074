"""Reference-parity RetailRocket pipeline, re-expressed as composable
Spark-first stages.

The reference (prepare_training_data_pyspark.py, SURVEY.md §3) is one
hardwired script: sessionization (py:96-131) → candidate generation
(py:225-375) → feature engineering (py:441-626) → parquet. Here every stage
is a typed DataFrame→DataFrame function with the reference's exact
semantics (half-open windows, strictly-before point-in-time predicates,
coalesce defaults incl. recency=999999 py:569-570 and cat_popularity=1
py:580) plus the §4.4 determinism fixes (explicit tiebreakers, exact-µs
gaps, sorted sequence collection).

Scale deltas vs the reference (§7.3):
- co-visitation pairing capped per session (``max_items_per_session``) —
  the reference only bounds the *output* via HAVING thresholds; at 100 TB
  the pair *generation* must be bounded too;
- Word2Vec runs distributed via MLlib (vectorSize/window/minCount/epochs/
  seed mirroring gensim py:420) instead of a driver-side toPandas detour
  (py:403);
- embeddings land via broadcast equi-join + posexplode, not 16 row-at-a-
  time Python UDF calls (py:603-622).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_retailrocket_recsys_spark.operators.joins import covis_pairs
from bigdata_retailrocket_recsys_spark.operators.sessionize import sessionize
from bigdata_retailrocket_recsys_spark.operators.windows import topk_per_group
from bigdata_retailrocket_recsys_spark.sources.readers import load_table


@dataclass
class PipelineConfig:
    """Reference constants (cited) + engine scale guards."""

    session_gap_minutes: int = 30  # py:114 SESSION_GAP_MINUTES
    covis_min: int = 3  # py:260
    cooccur_min: int = 5  # py:303
    top_covis_cats: int = 15  # py:286
    top_cooccur_cats: int = 10  # py:328
    top_pop: int = 20  # py:337
    top_user_cats: int = 10  # py:361
    recency_default: int = 999999  # py:569-570
    cat_pop_default: int = 1  # py:580
    # engine-only: bounds the quadratic self-join (SURVEY §7.3)
    max_items_per_session_pairing: int | None = 50
    embedding_dim: int = 16  # py:420 vector_size
    w2v_window: int = 5  # py:420
    w2v_min_count: int = 3  # py:420
    w2v_epochs: int = 10  # py:420
    w2v_seed: int = 42  # py:420
    # engine-only: MLlib Word2Vec trains on ONE partition by default — a
    # single-threaded bottleneck (2.5× slower at sf0.1, unusable at 100 TB).
    # >1 shards training (tiny stochastic variation across cluster layouts;
    # embedding floats are seed/impl-specific and rows-only-checked anyway).
    w2v_partitions: int = 8


# ---------------------------------------------------------------------------
# Stage 1 — ingest + sessionize (py:70-137)
# ---------------------------------------------------------------------------


def sessionize_events(events: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """30-min-gap session ids (py:96-131) with deterministic tiebreaks."""
    return sessionize(
        events,
        user_col="user_id",
        ts_col="ts",
        gap_minutes=cfg.session_gap_minutes,
        tiebreak_cols=["item_id", "event"],
    )


# ---------------------------------------------------------------------------
# Stage 2 — anchor (ATC) extraction + time split (py:186-216)
# ---------------------------------------------------------------------------


def extract_anchors(
    events_cat: DataFrame,
    *,
    start: str,
    end: str,
    anchor_event: str = "addtocart",
) -> DataFrame:
    """Anchor events with their true category, in [start, end)
    (py:186-207), read off the categorized events (session_id, user_id,
    ts, item_id, category_id, event). Output: session_id, user_id,
    atc_ts, item_id, category_id (the label's true category)."""
    return (
        events_cat.filter(F.col("event") == anchor_event)
        .filter(
            (F.col("ts") >= F.lit(start).cast("timestamp"))
            & (F.col("ts") < F.lit(end).cast("timestamp"))
        )
        .select(
            "session_id",
            "user_id",
            F.col("ts").alias("atc_ts"),
            "item_id",
            "category_id",
        )
    )


# ---------------------------------------------------------------------------
# Stage 3 — candidate generation (py:225-375)
# ---------------------------------------------------------------------------


def prefix_events(anchors: DataFrame, events_cat: DataFrame) -> DataFrame:
    """Events strictly before each anchor in the same session — the shared
    theta-join subtree (py:235-239, py:465-471) consumed by three candidate
    strategies AND the prefix-stats feature dims. Computed once and cached
    by the pipeline runner so the SortMergeJoin executes once, not 4×."""
    a = anchors.select("session_id", "atc_ts").distinct().alias("a")
    ev = events_cat.alias("se")
    return a.join(
        ev,
        (F.col("a.session_id") == F.col("se.session_id"))
        & (F.col("se.ts") < F.col("a.atc_ts")),
        "inner",
    ).select(
        F.col("a.session_id").alias("session_id"),
        F.col("a.atc_ts").alias("atc_ts"),
        F.col("se.item_id").alias("item_id"),
        F.col("se.category_id").alias("category_id"),
        F.col("se.ts").alias("ts"),
    )


def build_candidates(
    anchors: DataFrame,
    events_cat: DataFrame,
    cfg: PipelineConfig,
    prefix: DataFrame | None = None,
    item_cat_dim: DataFrame | None = None,
) -> DataFrame:
    """Five candidate strategies unioned + distinct (py:225-375).

    ``events_cat``: sessionized events joined to categories
    (session_id, user_id, ts, item_id, category_id). ``prefix``: optional
    precomputed :func:`prefix_events` (cached by the runner).
    ``item_cat_dim``: optional (item_id, category_id) dimension — when the
    caller already holds the dim that categorized ``events_cat`` (the
    runner does), passing it skips re-deriving it with a distinct over the
    fact table (r13: one exchange less). Output:
    (session_id, atc_ts, category_id).
    """
    a = anchors.select("session_id", "user_id", "atc_ts").alias("a")

    if prefix is None:
        prefix = prefix_events(anchors, events_cat)

    # 1) prefix categories (py:235-246)
    prefix_cands = prefix.select("session_id", "atc_ts", "category_id").distinct()

    # 2) item co-visitation (py:252-287): item pairs per session → covis>=3
    #    → candidate items co-visited with prefix items → their categories,
    #    scored by max covis, top-15 per anchor. symmetric=True emits both
    #    orientations from ONE pass (r13) — the old
    #    pairs.union(pairs-flipped) re-executed the whole covis pipeline
    #    twice (S7: Spark never reuses a twice-referenced subtree).
    sym = covis_pairs(
        events_cat,
        group_col="session_id",
        item_col="item_id",
        min_count=cfg.covis_min,
        max_per_group=cfg.max_items_per_session_pairing,
        ts_col="ts",
        symmetric=True,
    )  # item_a, item_b, covis — both orientations
    prefix_items = prefix.select("session_id", "atc_ts", "item_id").distinct()
    if item_cat_dim is None:
        item_cat_dim = events_cat.select("item_id", "category_id").distinct()
    covis_cats = (
        prefix_items.join(sym, prefix_items.item_id == sym.item_a, "inner")
        .join(
            item_cat_dim.select(
                F.col("item_id").alias("cand_item"),
                F.col("category_id").alias("category_id"),
            ),
            F.col("item_b") == F.col("cand_item"),
            "inner",
        )
        .groupBy("session_id", "atc_ts", "category_id")
        .agg(F.max("covis").alias("score"))
    )
    itemcovis_cands = topk_per_group(
        covis_cats,
        group_cols=["session_id", "atc_ts"],
        order_by=[F.col("score").desc(), F.col("category_id").asc()],
        k=cfg.top_covis_cats,
    ).select("session_id", "atc_ts", "category_id")

    # 3) category co-occurrence (py:291-329): category pairs per session,
    #    countDistinct sessions, cooccur>=5, join prefix categories, top-10
    cat_sym = covis_pairs(
        events_cat.select("session_id", "category_id"),
        group_col="session_id",
        item_col="category_id",
        min_count=cfg.cooccur_min,
        # distinct categories per session are bounded by the catalog's
        # category count (hundreds) — safe for the 2-shuffle array path
        pair_strategy="array",
        symmetric=True,  # r13: one pass, both orientations (see above)
    ).select(
        F.col("item_a").alias("cat_a"),
        F.col("item_b").alias("cat_b"),
        F.col("covis").alias("cooccur"),
    )
    prefix_cats = prefix.select("session_id", "atc_ts", "category_id").distinct()
    cooccur_cats = (
        prefix_cats.join(
            cat_sym, prefix_cats.category_id == cat_sym.cat_a, "inner"
        )
        .groupBy("session_id", "atc_ts", F.col("cat_b").alias("category_id"))
        .agg(F.max("cooccur").alias("score"))
    )
    catcovis_cands = topk_per_group(
        cooccur_cats,
        group_cols=["session_id", "atc_ts"],
        order_by=[F.col("score").desc(), F.col("category_id").asc()],
        k=cfg.top_cooccur_cats,
    ).select("session_id", "atc_ts", "category_id")

    # 4) global popularity top-20 × every anchor (py:331-340; ALL event
    #    types — §4.4)
    top_pop = (
        events_cat.groupBy("category_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("category_id").asc())
        .limit(cfg.top_pop)
        .select("category_id")
    )
    pop_cands = a.select("session_id", "atc_ts").crossJoin(F.broadcast(top_pop))

    # 5) user history: 10 most recent categories strictly before the anchor
    #    (py:343-362)
    user_cat_seen = events_cat.groupBy("user_id", "category_id").agg(
        F.max("ts").alias("last_seen")
    )
    uh = a.join(user_cat_seen, "user_id", "inner").filter(
        F.col("last_seen") < F.col("atc_ts")
    )
    userhist_cands = topk_per_group(
        uh,
        group_cols=["session_id", "atc_ts"],
        order_by=[F.col("last_seen").desc(), F.col("category_id").asc()],
        k=cfg.top_user_cats,
    ).select("session_id", "atc_ts", "category_id")

    return (
        prefix_cands.union(itemcovis_cands)
        .union(catcovis_cands)
        .union(pop_cands)
        .union(userhist_cands)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Stage 4 — feature assembly (py:441-626)
# ---------------------------------------------------------------------------


def build_features(
    anchors: DataFrame,
    candidates: DataFrame,
    events_cat: DataFrame,
    *,
    train_cutoff: str,
    cfg: PipelineConfig,
    prefix: DataFrame | None = None,
) -> DataFrame:
    """Star-shaped feature assembly: base fact × 4 aggregated dims, all
    left-joined with the reference's exact null-fill defaults, then derived
    features + label (py:441-594)."""
    base = (
        anchors.select(
            "session_id",
            "user_id",
            "atc_ts",
            F.col("category_id").alias("true_category"),
        )
        .join(candidates, ["session_id", "atc_ts"], "inner")
        .withColumnRenamed("category_id", "cand_category")
    )

    train_events = events_cat.filter(
        F.col("ts") < F.lit(train_cutoff).cast("timestamp")
    )

    # dim 1: prefix stats. The reference theta-joins every (anchor,
    # candidate) row against every prefix event and re-aggregates
    # (py:465-496) — fan-out = candidates/anchor × events/session. We apply
    # the SURVEY §7.3 rewrite: aggregate the prefix ONCE per anchor (the
    # cand-independent stats) and ONCE per (anchor, category) (the
    # conditional stats), then left-join — algebraically identical because
    # sum(when(cat=cand,1)) over the fan-out == count of prefix events in
    # that category, and max(when(cat=cand, Δt)) == Δt of that category's
    # latest prefix event. Missing groups → NULL → the same coalesce
    # defaults as the reference's left theta join.
    prefix_ev = prefix if prefix is not None else prefix_events(anchors, events_cat)
    # cand-independent stats, one row per anchor (was: repeated per cand)
    anchor_stats = prefix_ev.groupBy("session_id", "atc_ts").agg(
        F.count("item_id").alias("n_prefix_events"),
        F.countDistinct("item_id").alias("n_prefix_items"),
        F.countDistinct("category_id").alias("n_unique_cats_in_session"),
        F.min(F.unix_micros("ts")).alias("session_start_us"),
    )
    # conditional stats keyed by the category itself — the left join against
    # cand_category replaces the when(cat = cand_cat, ...) filters
    cat_stats = prefix_ev.groupBy(
        "session_id", "atc_ts", F.col("category_id").alias("cand_category")
    ).agg(
        F.count(F.lit(1)).alias("cat_count_in_prefix"),
        F.max(
            F.unix_micros("atc_ts") - F.unix_micros("ts")
        ).alias("recency_us"),
    )

    # dim 2: global category popularity over train events, ALL event types
    # (py:499-506)
    cat_pop = train_events.groupBy(
        F.col("category_id").alias("cand_category")
    ).agg(F.count(F.lit(1)).alias("cat_popularity"))

    # dim 3: user×category affinity before cutoff (py:509-521)
    user_cat_aff = train_events.groupBy(
        "user_id", F.col("category_id").alias("cand_category")
    ).agg(
        F.count(F.lit(1)).alias("user_cat_count"),
        F.countDistinct("session_id").alias("user_cat_sessions"),
    )

    # dim 4: user activity stats — two-level agg (py:524-529)
    user_stats = (
        train_events.groupBy("user_id", "session_id")
        .agg(
            (
                F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
            ).alias("dur_us")
        )
        .groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("total_sessions"),
            (F.sum("dur_us").cast("double") / F.count(F.lit(1))).alias(
                "avg_session_dur_us"
            ),
        )
    )

    assembled = (
        base.join(anchor_stats, ["session_id", "atc_ts"], "left")
        .join(cat_stats, ["session_id", "atc_ts", "cand_category"], "left")
        .join(F.broadcast(cat_pop), ["cand_category"], "left")
        .join(user_cat_aff, ["user_id", "cand_category"], "left")
        .join(user_stats, ["user_id"], "left")
    )

    sec = F.lit(1_000_000)
    n_prefix_events = F.coalesce("n_prefix_events", F.lit(0))
    cat_count = F.coalesce("cat_count_in_prefix", F.lit(0))
    return assembled.select(
        "session_id",
        "user_id",
        F.unix_micros("atc_ts").alias("atc_ts_us"),
        "cand_category",
        n_prefix_events.alias("n_prefix_events"),
        F.coalesce("n_prefix_items", F.lit(0)).alias("n_prefix_items"),
        F.coalesce("n_unique_cats_in_session", F.lit(0)).alias(
            "n_unique_cats_in_session"
        ),
        cat_count.alias("cat_count_in_prefix"),
        # share guarded like py:567-568: denominator >= 1
        (
            cat_count.cast("double")
            / F.greatest(n_prefix_events, F.lit(1)).cast("double")
        ).alias("cat_share_in_prefix"),
        # recency in whole seconds, default 999999 (py:569-570)
        F.coalesce(
            (F.col("recency_us") / sec).cast("bigint"),
            F.lit(cfg.recency_default),
        ).alias("recency_sec"),
        # session duration up to anchor, default 0 (py:576)
        F.coalesce(
            (
                (F.unix_micros("atc_ts") - F.col("session_start_us")) / sec
            ).cast("bigint"),
            F.lit(0),
        ).alias("session_age_sec"),
        # popularity default 1 so log1p stays finite-positive (py:580)
        F.coalesce("cat_popularity", F.lit(cfg.cat_pop_default)).alias(
            "cat_popularity"
        ),
        F.coalesce("user_cat_count", F.lit(0)).alias("user_cat_count"),
        F.coalesce("user_cat_sessions", F.lit(0)).alias("user_cat_sessions"),
        F.coalesce("total_sessions", F.lit(0)).alias("total_sessions"),
        F.coalesce("avg_session_dur_us", F.lit(0.0)).alias("avg_session_dur_us"),
        F.hour("atc_ts").cast("int").alias("hour_of_day"),
        F.dayofweek("atc_ts").cast("int").alias("day_of_week"),
        F.dayofweek("atc_ts").isin([1, 7]).cast("int").alias("is_weekend"),
        F.when(F.col("cand_category") == F.col("true_category"), 1)
        .otherwise(0)
        .cast("int")
        .alias("y"),
    )


# ---------------------------------------------------------------------------
# Stage 5 — embeddings (py:378-431, 603-622 → MLlib + broadcast join)
# ---------------------------------------------------------------------------


def train_category_embeddings(
    events_cat: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Distributed Word2Vec over per-session category sequences (replaces
    the reference's toPandas→gensim detour, py:403-431). Sequences are
    deterministically ordered (sort_array over struct — §4.4 A6 fix) and
    filtered to length ≥ 2 (py:406). Output: category_id, vector
    (array<float> of embedding_dim)."""
    from pyspark.ml.feature import Word2Vec

    seqs = (
        events_cat.select(
            "session_id",
            F.struct("ts", F.col("category_id").cast("string").alias("c")).alias(
                "p"
            ),
        )
        .groupBy("session_id")
        .agg(
            F.transform(F.sort_array(F.collect_list("p")), lambda s: s["c"]).alias(
                "seq"
            )
        )
        .filter(F.size("seq") >= 2)
    )
    w2v = Word2Vec(
        vectorSize=cfg.embedding_dim,
        windowSize=cfg.w2v_window,
        minCount=cfg.w2v_min_count,
        maxIter=cfg.w2v_epochs,
        seed=cfg.w2v_seed,
        numPartitions=cfg.w2v_partitions,
        inputCol="seq",
        outputCol="vec",
    )
    model = w2v.fit(seqs)
    vectors = model.getVectors()  # word: string, vector: ml VectorUDT
    from pyspark.ml.functions import vector_to_array

    return vectors.select(
        F.col("word").cast("bigint").alias("category_id"),
        vector_to_array("vector", dtype="float32").alias("vector"),
    )


def attach_embeddings(
    features: DataFrame,
    embeddings: DataFrame,
    cfg: PipelineConfig,
    *,
    cat_col: str = "cand_category",
) -> DataFrame:
    """Broadcast equi-join + unpack to emb_0..emb_{d-1} float columns,
    0.0 for categories without a vector — replaces the reference's 16
    row-at-a-time UDF calls (py:603-622) with ONE join."""
    emb = F.broadcast(
        embeddings.select(F.col("category_id").alias(cat_col), "vector")
    )
    out = features.join(emb, [cat_col], "left")
    return out.select(
        *[c for c in out.columns if c != "vector"],
        *[
            F.coalesce(F.element_at("vector", i + 1), F.lit(0.0))
            .cast("float")
            .alias(f"emb_{i}")
            for i in range(cfg.embedding_dim)
        ],
    )


# ---------------------------------------------------------------------------
# End-to-end adapter over the driver testdata events table
# ---------------------------------------------------------------------------


def run_events_pipeline(
    spark: SparkSession,
    sf_dir: str,
    *,
    cfg: PipelineConfig | None = None,
    train_cutoff: str = "2024-01-21",
    end: str = "2024-02-01",
    with_embeddings: bool = True,
    observe: "Observation | None" = None,
    split: str = "train",
) -> DataFrame:
    """Full reference-shaped pipeline on the driver testdata: props.k acts
    as item_id, category = item mod 20, 'purchase' acts as add-to-cart.

    ``split``: ``"train"`` anchors in [2024-01-01, train_cutoff);
    ``"valid"`` anchors in [train_cutoff, end) — but EVERY feature dim
    (popularity, user stats, affinity, embeddings) still cuts off at
    train_cutoff, mirroring the reference's deliberate
    only-≤train-end-history rule for the valid matrix (py:629-630,
    README:246-251; SURVEY §4.4).

    ``observe``: optional ``pyspark.sql.Observation`` — attaches the
    reference's printed stage invariants (feature rows, positive labels,
    distinct sessions; py:93,136,597,659) as observation metrics that ride
    the SAME job instead of firing extra count() actions the way the
    reference does. After any action on the result,
    ``observe.get`` returns ``{"n_rows", "n_pos", "n_sessions"}`` for free.
    """
    cfg = cfg or PipelineConfig()
    raw = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.get_json_object("props", "$.k").cast("bigint").alias("item_id"),
        F.when(F.col("event_type") == "purchase", "addtocart")
        .otherwise(F.col("event_type"))
        .alias("event"),
    )
    events_sess = sessionize_events(raw, cfg)
    # cached (r13): the dim is read twice — the events_cat broadcast join
    # and build_candidates' item→category lookup; uncached, each
    # reference re-scans + re-parses the raw JSON
    item_cat = (
        raw.select("item_id")
        .distinct()
        .select("item_id", (F.col("item_id") % 20).alias("category_id"))
        .cache()
    )
    # cache the sessionized+categorized events: ~10 downstream subtrees read
    # it (the reference caches the same way, py:134, 381-382). `event`
    # rides in the cache (r14) so the anchor extraction below reads the
    # cache instead of re-running the full sessionize window a second
    # time — at 10M events that was a duplicated fact-sized window
    # shuffle per pipeline run.
    events_cat = (
        events_sess.join(F.broadcast(item_cat), "item_id", "inner")
        .select(
            "session_id", "user_id", "ts", "item_id", "category_id", "event"
        )
        .cache()
    )
    if split == "train":
        a_start, a_end = "2024-01-01", train_cutoff
    elif split == "valid":
        a_start, a_end = train_cutoff, end
    else:
        raise ValueError(f"split must be 'train' or 'valid', got {split!r}")
    anchors = extract_anchors(events_cat, start=a_start, end=a_end).cache()
    # the anchor-prefix theta join feeds 3 candidate strategies + 2 feature
    # dims — compute the SortMergeJoin once, cache, reuse (SURVEY §7.3)
    prefix = prefix_events(anchors, events_cat).cache()
    candidates = build_candidates(
        anchors, events_cat, cfg, prefix=prefix, item_cat_dim=item_cat
    ).cache()
    features = build_features(
        anchors,
        candidates,
        events_cat,
        train_cutoff=train_cutoff,
        cfg=cfg,
        prefix=prefix,
    )
    if with_embeddings:
        # Overlap the W2V fit with candidate materialization (guide §2.6):
        # the MLlib fit is a long chain of small, mostly-serial jobs that
        # leaves executor cores idle, and the fit blocks the driver before
        # the caller's action can start the candidate shuffles. Submitting
        # the fit from a driver thread and materializing the candidates
        # cache on the main thread back-fills the idle cores — the final
        # action then reads the populated cache instead of paying the
        # candidate stages after the fit. Same jobs, overlapped wall
        # (FIFO scheduling; actions are only sequential because driver
        # code calls them sequentially). Output is unchanged: the fit
        # input and the candidate plan are byte-identical. If the candidate
        # write fails, the fit's jobs (tagged in its thread) are cancelled,
        # their tasks interrupted so the cores free at once, and the
        # write's error is raised with the fit's error chained: neither
        # failure waits on nor hides the other.
        import uuid
        from concurrent.futures import ThreadPoolExecutor, wait

        sc = spark.sparkContext
        tag = f"bdrr-w2v-fit-{uuid.uuid4().hex}"

        def tagged_fit():
            sc.addJobTag(tag)
            sc.setInterruptOnCancel(True)
            try:
                return train_category_embeddings(train_ev, cfg)
            finally:
                sc.setInterruptOnCancel(False)
                sc.removeJobTag(tag)

        train_ev = events_cat.filter(
            F.col("ts") < F.lit(train_cutoff).cast("timestamp")
        )
        # populate the shared events_cat cache ONCE before forking: the
        # fit and the candidate stages both read it, and racing them
        # computes the sessionize partitions twice (measured at 10M
        # events: the race cost ~15% of the soak wall)
        events_cat.write.format("noop").mode("overwrite").save()
        with ThreadPoolExecutor(max_workers=1) as pool:
            fit = pool.submit(tagged_fit)
            try:
                candidates.write.format("noop").mode("overwrite").save()
            except BaseException as write_err:
                while not fit.done():  # a job may start between cancels
                    sc.cancelJobsWithTag(tag)
                    wait([fit], timeout=0.2)
                if fit.exception() is not None:
                    raise write_err from fit.exception()
                raise
            emb = fit.result()
        features = attach_embeddings(features, emb, cfg)
    if observe is not None:
        features = features.observe(
            observe,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("y").alias("n_pos"),
            F.approx_count_distinct("session_id").alias("n_sessions"),
        )
    return features
