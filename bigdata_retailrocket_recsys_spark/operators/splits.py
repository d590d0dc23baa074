"""Deterministic dataset splitting / sampling — training-pipeline staples.

The reference splits train/valid by a timestamp range predicate
(py:199-207). Time splits are right for temporal models; for corpus-style
training data the standard tool is a HASH split: stable under reruns,
independent of row order and partitioning, and joins/reshards never move a
row across splits. ``randomSplit``/``sample`` do NOT have those properties
(seeded per-partition RNG — repartitioning reshuffles membership), so the
engine's split is built on a content hash instead.

Design: md5 over the key columns (content-defined, available in every
engine — xxhash64 is Spark-only), take the first 4 hex chars = 16 bits,
and compare against fixed-width hex thresholds. Lexicographic compare of
fixed-width lowercase hex ≡ numeric compare, so the same expression runs
in any SQL dialect. Pure JVM expressions, narrow (no shuffle), whole-stage
codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: unit separator — joins multi-column keys without ambiguity ("a"+"bc" vs
#: "ab"+"c") as long as values don't contain \x1f
_SEP = "\x1f"


def _bucket_hex(key_cols: list[str]) -> Column:
    cols = [F.col(c).cast("string") for c in key_cols]
    return F.substring(F.md5(F.concat_ws(_SEP, *cols)), 1, 4)


def split_thresholds(fractions: list[float]) -> list[str]:
    """Cumulative 16-bit thresholds as fixed-width hex strings; the last
    fraction is implicit (remainder to 0xffff)."""
    out, acc = [], 0.0
    for f in fractions[:-1]:
        acc += f
        out.append(format(min(int(round(acc * 65536)), 65535), "04x"))
    return out


def hash_split(
    df: DataFrame,
    *,
    key_cols: list[str],
    splits: list[tuple[str, float]],
    split_col: str = "split",
) -> DataFrame:
    """Assign every row a deterministic split label by content hash.

    ``splits`` is ``[(name, fraction), ...]``; fractions must sum to 1.
    A row's split depends only on its key values — stable across runs,
    engines, partitionings, and data growth (new rows never move old rows).
    """
    total = sum(f for _, f in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    bounds = split_thresholds([f for _, f in splits])
    h = _bucket_hex(key_cols)
    expr = F.lit(splits[-1][0])
    for (name, _), bound in reversed(list(zip(splits[:-1], bounds))):
        expr = F.when(h < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def leakage_safe_split(
    docs: DataFrame,
    *,
    splits: list[tuple[str, float]],
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    min_jaccard: float = 0.5,
    hash_fn: str = "xxhash64",
    split_col: str = "split",
) -> DataFrame:
    """Near-dup-aware train/eval split — assign duplicate CLUSTERS to
    splits, not documents (north-star extension, SURVEY §2.11 — no
    reference counterpart). A per-document hash split leaks: two
    near-identical documents land on opposite sides and the eval set
    silently contains training data (the classic benchmark-contamination
    bug). Here every document first joins its near-dup connected
    component (banded MinHash candidates → exact-Jaccard verification →
    :func:`~bigdata_retailrocket_recsys_spark.operators.dedup
    .connected_components`), then :func:`hash_split` keys on the CLUSTER
    id — all members of a component share one split by construction, so
    no near-dup pair ever straddles the boundary.

    Same stability contract as :func:`hash_split` (content-defined,
    rerun/reshard-stable) with one caveat: the cluster id is the
    component's min doc id, so adding NEW near-dup documents can merge
    components and move a cluster — leakage-safety is per-snapshot,
    which is inherent to any dedup-aware split.

    Output: (id, cluster_id, split).
    """
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        connected_components,
        jaccard_verify,
        minhash_lsh_candidates,
    )

    base = docs.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    )
    cand = minhash_lsh_candidates(
        base,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        hash_fn=hash_fn,
    ).select("doc_a", "doc_b")
    edges = jaccard_verify(
        cand,
        base,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        min_jaccard=min_jaccard,
    ).select("doc_a", "doc_b")
    cc = connected_components(
        base.select(id_col),
        edges,
        node_col=id_col,
        src_col="doc_a",
        dst_col="doc_b",
    )
    return hash_split(
        cc, key_cols=["cluster_id"], splits=splits, split_col=split_col
    )


def kfold_assign(
    df: DataFrame,
    *,
    key_cols: list[str],
    k: int,
    fold_col: str = "fold",
) -> DataFrame:
    """Deterministic k-fold assignment (0..k-1) by content hash — the
    cross-validation / out-of-fold building block. A row's fold depends
    only on its key values (stable across runs, engines, partitionings;
    new rows never move old rows), so out-of-fold feature computations are
    leakage-safe by construction.

    fold = Σ_j [h ≥ bound_j] over the k-1 equal-fraction cumulative
    thresholds — pure fixed-width-hex string comparisons, expressible
    identically in any SQL dialect (no hex→int parsing needed). Narrow,
    no shuffle, whole-stage codegen.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    bounds = split_thresholds([1.0 / k] * k)
    h = _bucket_hex(key_cols)
    fold = sum(
        ((h >= F.lit(b)).cast("int") for b in bounds), F.lit(0)
    )
    return df.withColumn(fold_col, fold.cast("int"))


def stratified_hash_sample(
    df: DataFrame,
    *,
    key_cols: list[str],
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 1.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the class-rebalancing shape
    (downsample the over-represented class, keep the rare one whole) with
    hash-stable membership. ``df.sampleBy`` does the same non-reproducibly
    (partition-seeded RNG); this is a pure narrow filter, no shuffle.

    Fractions ≥ 1 keep the stratum entirely (no hash comparison — the
    16-bit bucket space cannot express exactly 1.0 as a `<` bound).
    """
    h = _bucket_hex(key_cols)

    def keep(frac: float):
        if frac >= 1.0:
            return F.lit(True)
        bound = format(min(int(round(frac * 65536)), 65535), "04x")
        return h < F.lit(bound)

    cond = keep(default_fraction)
    for value, frac in sorted(fractions.items()):
        cond = F.when(F.col(strata_col) == F.lit(value), keep(frac)).otherwise(
            cond
        )
    return df.filter(cond)


def per_group_hash_sample(
    df: DataFrame,
    *,
    group_cols: list[str],
    key_cols: list[str],
    k: int,
) -> DataFrame:
    """Deterministic k-per-group subsample: rank rows inside each group by
    the md5 of their key and keep the first k — the reproducible,
    engine-portable version of "grab k random rows per user/class"
    (balanced subsampling for training data). Hash ordering is uniform
    pseudo-random but content-defined, so membership survives reruns,
    repartitioning, and engine changes; WindowGroupLimit keeps only k
    rows per group ahead of the shuffle-side sort.
    """
    from pyspark.sql import Window

    h = F.md5(
        F.concat_ws(_SEP, *[F.col(c).cast("string") for c in key_cols])
    )
    w = Window.partitionBy(*group_cols).orderBy(
        h.asc(), *[F.col(c).asc() for c in key_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def mixture_temperature_sample(
    df: DataFrame,
    *,
    key_cols: list[str],
    domain_col: str,
    budget: int,
    alpha: float = 0.5,
    rate_col: str | None = None,
) -> DataFrame:
    """Temperature-based domain mixture sampling — the standard LLM-corpus
    rebalancing op (mBERT/XLM-R style): sample domain ``i`` in proportion
    to ``n_i^alpha`` instead of ``n_i``, so ``alpha < 1`` upweights rare
    domains (languages, sources) relative to their raw frequency. Given a
    total row ``budget`` B, each domain keeps
    ``min(1, B * w_i / n_i)`` of its rows where
    ``w_i = n_i^alpha / sum_j n_j^alpha`` — membership decided per-row by
    the same content-hash trick as :func:`hash_split` (md5 16-bit bucket
    vs a per-domain threshold), so the sample is stable across reruns,
    partitionings, and engines. The reference has no sampling op at all
    (its matrices keep every row, prepare_training_data_pyspark.py:441);
    at corpus scale this is the op that sets the training mixture.

    NULL domains: rows whose ``domain_col`` is NULL are dropped before
    counting — they neither appear in the output nor consume budget
    (see the in-body comment; coalesce to a catch-all domain upstream to
    keep them).

    Plan shape: one map-side-combinable count per domain (#domains rows),
    weight arithmetic on that tiny table, broadcast join back, then a
    narrow content-hash filter — the fact rows never shuffle. Two scans of
    ``df`` (counts + filter); at warehouse scale feed ``n_i`` from table
    stats or a persisted profile instead.

    Cross-engine determinism: ``n_i^alpha`` is quantized to
    ``floor(n_i^alpha * 1e9)`` BIGINTs so the weight sum is exact, and the
    keep-rate is derived by IEEE divisions of those exact integers (each
    correctly rounded, so bit-identical on identical inputs). That makes
    the whole pipeline bit-stable across engines for ``alpha = 0.5``
    (IEEE sqrt is required correctly-rounded everywhere) and ``alpha = 1``
    (exact); other alphas ride ``pow``, which libms round differently by
    up to 1 ulp — fine in production, not for bit-exact oracle replay.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    # NULL-domain policy: rows with a NULL domain are EXCLUDED up front —
    # from the output (an unlabeled-domain row has no mixture weight) AND
    # from the per-domain counts (otherwise NULL mass inflates `_tot` and
    # silently deflates every real domain's keep rate, undershooting the
    # budget — the r4 advisor finding). Callers who want unlabeled rows
    # sampled should coalesce the domain to a catch-all value first.
    df = df.filter(F.col(domain_col).isNotNull())
    if alpha == 1.0:
        s = F.col("_n").cast("double") * 1e9
    elif alpha == 0.5:
        s = F.sqrt(F.col("_n").cast("double")) * 1e9
    else:
        s = F.pow(F.col("_n").cast("double"), F.lit(alpha)) * 1e9
    weights = (
        df.groupBy(F.col(domain_col).alias("_dom"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_s", F.floor(s).cast("bigint"))
    )
    tot = weights.agg(F.sum("_s").alias("_tot"))
    rates = (
        weights.crossJoin(F.broadcast(tot))
        .withColumn(
            "_rate",
            F.least(
                F.lit(1.0),
                F.lit(float(budget))
                * F.col("_s").cast("double")
                / F.col("_tot").cast("double")
                / F.col("_n").cast("double"),
            ),
        )
        .withColumn(
            "_thresh", F.floor(F.col("_rate") * F.lit(65536.0)).cast("bigint")
        )
        .select("_dom", "_rate", "_thresh")
    )
    bucket = F.conv(_bucket_hex(key_cols), 16, 10).cast("bigint")
    out = (
        df.join(
            F.broadcast(rates), F.col(domain_col) == F.col("_dom"), "inner"
        )
        .filter(bucket < F.col("_thresh"))
    )
    if rate_col is not None:
        out = out.withColumn(rate_col, F.col("_rate"))
    return out.drop("_dom", "_rate", "_thresh")


def mixture_temperature_resample(
    df: DataFrame,
    *,
    key_cols: list[str],
    domain_col: str,
    budget: int,
    alpha: float = 0.5,
    rep_col: str = "rep",
) -> DataFrame:
    """Temperature mixture with UPSAMPLING — the other half of
    :func:`mixture_temperature_sample`: that op caps every domain's keep
    rate at 1 (pure downsampling), but a true temperature mixture REPEATS
    rare-domain rows when ``B * w_i / n_i > 1`` (the repetition-factor /
    epoch-count knob every LLM mixture spec carries). Each row is emitted
    ``floor(rate)`` times plus one more when its md5 16-bit bucket falls
    under the fractional remainder — deterministic across engines, runs,
    and partitionings, no RNG. Output: input columns + ``rep_col``
    (1..copies, so downstream shuffles can spread the copies).

    Expected output size is ``budget`` rows exactly in expectation, per
    domain ``n_i * rate_i``. NULL domains are dropped up front (same
    policy, and same reason, as the downsampling op). Rows whose copy
    count is 0 are dropped before the explode (Spark's ``sequence(1,0)``
    would DESCEND, not return empty — the guard is semantic, not just an
    optimization).

    Plan shape: identical to the downsampler (tiny domain-count agg,
    broadcast back, narrow hash arithmetic) plus one Generate (explode) —
    fact rows still never shuffle; output fan-out is bounded by
    ``ceil(max rate)`` copies per row.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    df = df.filter(F.col(domain_col).isNotNull())
    if alpha == 1.0:
        s = F.col("_n").cast("double") * 1e9
    elif alpha == 0.5:
        s = F.sqrt(F.col("_n").cast("double")) * 1e9
    else:
        s = F.pow(F.col("_n").cast("double"), F.lit(alpha)) * 1e9
    weights = (
        df.groupBy(F.col(domain_col).alias("_dom"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_s", F.floor(s).cast("bigint"))
    )
    tot = weights.agg(F.sum("_s").alias("_tot"))
    rates = (
        weights.crossJoin(F.broadcast(tot))
        .withColumn(
            "_rate",
            F.lit(float(budget))
            * F.col("_s").cast("double")
            / F.col("_tot").cast("double")
            / F.col("_n").cast("double"),
        )
        .withColumn("_base", F.floor(F.col("_rate")).cast("bigint"))
        .withColumn(
            "_fthresh",
            F.floor(
                (F.col("_rate") - F.floor(F.col("_rate"))) * F.lit(65536.0)
            ).cast("bigint"),
        )
        .select("_dom", "_base", "_fthresh")
    )
    bucket = F.conv(_bucket_hex(key_cols), 16, 10).cast("bigint")
    return (
        df.join(F.broadcast(rates), F.col(domain_col) == F.col("_dom"), "inner")
        .withColumn(
            "_copies",
            F.col("_base") + (bucket < F.col("_fthresh")).cast("bigint"),
        )
        .filter(F.col("_copies") >= 1)
        .withColumn(
            rep_col, F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("_copies")))
        )
        .drop("_dom", "_base", "_fthresh", "_copies")
    )


def token_budget_sample(
    docs: DataFrame,
    budget_tokens: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Greedy per-domain head sample under a token budget — "take docs in
    a reproducible shuffled order until each domain has spent its token
    allowance", the deterministic form of corpus-mixture token capping
    (the operation behind "X billion tokens of web, Y of code").

    Order within a domain is content-defined (md5 of the id, id
    tiebreak), so the selected set is stable across runs/engines and
    adding documents never reorders the survivors before the cut. A doc
    is kept iff the RUNNING total (its own tokens included) fits the
    budget; docs larger than the remaining allowance are skipped only if
    they appear after the cut — greedy head, not knapsack, by design
    (the oracle is a plain cumulative window).

    NULL-domain docs form their own budget pool (they group together);
    NULL-text docs count 0 tokens. One partitioned window (domains are
    the parallelism unit); at 100 TB a single hot domain can pre-prune
    with a hash-prefix bound before the sort — the budget cut only ever
    keeps a prefix, so a cheap ``count*avg_len``-calibrated filter on
    the leading hash bytes bounds the window input without changing the
    result.

    When ``n_tokens_col`` is given, the budget is charged against that
    precomputed per-doc count (e.g. real BPE counts from
    :func:`~bigdata_retailrocket_recsys_spark.operators.text_bpe.bpe_token_counts`)
    instead of the whitespace heuristic — whitespace stays the default
    tier; LLM-data budgets should pass tokenizer counts. Rows whose
    precomputed count is NULL are DROPPED (not kept budget-free): a
    missing count means the doc's cost is unknown — admitting it would
    silently overshoot a real token budget (e.g. NULL-text docs
    surviving an upstream join). Count them upstream or filter before
    calling if different handling is wanted.

    Returns kept docs: (id, domain, n_tok, cum_tok).
    """
    from pyspark.sql import Window

    if n_tokens_col is not None:
        docs = docs.filter(F.col(n_tokens_col).isNotNull())
        n_tok = F.col(n_tokens_col).cast("bigint")
    else:
        n_tok = F.coalesce(
            F.size(
                F.filter(
                    F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                    lambda t: t != "",
                )
            ),
            F.lit(0),
        ).cast("bigint")
    # NULL ids are dropped up front: the order key is md5(id), and a NULL
    # hash would sort nulls-first on Spark but nulls-last on DuckDB —
    # the CLAUDE.md hash-key rule (non-null or filtered, both sides).
    toks = docs.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col),
        F.col(domain_col).alias("domain"),
        n_tok.alias("n_tok"),
        F.md5(F.col(id_col).cast("string")).alias("__h"),
    )
    w = (
        Window.partitionBy("domain")
        .orderBy(F.col("__h").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        toks.withColumn("cum_tok", F.sum("n_tok").over(w).cast("bigint"))
        .filter(F.col("cum_tok") <= budget_tokens)
        .select(id_col, "domain", "n_tok", "cum_tok")
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    *,
    id_col: str,
    n_shards: int = 32,
) -> DataFrame:
    """Deterministic per-epoch training-order shuffle: global position =
    rank of ``md5(epoch || ':' || id)`` — content-defined, so the order
    is reproducible across runs/engines and changes completely between
    epochs (the property a training loop wants from reshuffling), with
    no RNG state to checkpoint.

    The global rank rides the SHARDED global_rank (range-partition by
    the hash, per-shard row_number, broadcast offset table) — no
    single-reducer window at any size. NULL ids are dropped (the
    CLAUDE.md hash-key rule: a NULL hash would sort differently across
    engines). Output: input columns + ``shuffle_pos`` (1-based).
    """
    from bigdata_retailrocket_recsys_spark.operators.windows import (
        global_rank,
    )

    h = F.md5(
        F.concat_ws(":", F.lit(str(int(epoch))), F.col(id_col).cast("string"))
    )
    base = df.filter(F.col(id_col).isNotNull()).withColumn("__h", h)
    return (
        global_rank(
            base,
            [F.col("__h").asc(), F.col(id_col).asc()],
            n_shards=n_shards,
            out_col="shuffle_pos",
        )
        .drop("__h")
    )


def rank_calibrate(
    df: DataFrame,
    *,
    group_col: str,
    score_col: str,
    id_col: str,
    n_shards: int = 32,
) -> DataFrame:
    """Per-domain rank-percentile calibration (north-star extension,
    SURVEY §2.11 — no reference counterpart): replace a raw score with
    its within-domain percentile pct = (rank−1)/(n−1). Raw quality
    scores are not comparable ACROSS domains (a mediocre paper outscores
    a great tweet on length-based heuristics); rank calibration makes
    "top 10% of its domain" mean the same thing everywhere — the
    cross-domain-fair input to a global cut like top_share_by_score.

    Determinism: rank orders by (score, id) — total, tie-stable; pct is
    ONE IEEE division of exact integers (a single-row domain is pinned
    to 0.5, the only n−1 = 0 case). The rank is a sharded per-group
    global rank (range exchange + broadcast offsets, null-safe
    join-back — never a single-reducer domain window, NULL domains form
    their own stratum).

    Output: (id, group, score, rnk, n, pct).
    """
    from bigdata_retailrocket_recsys_spark.operators.windows import (
        _sharded_global_rank,
    )

    base = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col), F.col(group_col), F.col(score_col)
    )
    ranked = _sharded_global_rank(
        base,
        [F.col(score_col).asc(), F.col(id_col).asc()],
        n_shards,
        [group_col],
    )
    rnk = (F.col("__rn") + F.col("__off")).cast("bigint")
    return ranked.select(
        id_col,
        group_col,
        score_col,
        rnk.alias("rnk"),
        F.col("__n").cast("bigint").alias("n"),
        F.when(F.col("__n") == 1, F.lit(0.5))
        .otherwise(
            (rnk - 1).cast("double") / (F.col("__n") - 1).cast("double")
        )
        .alias("pct"),
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    *,
    id_col: str,
    weight_col: str,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — sequential
    Poisson sampling (Ohlsson 1998, the πps family; north-star
    extension, SURVEY §2.11 — no reference counterpart): every row gets
    key = u / w with u = (h+1)/2³² a content-defined uniform from
    md5(id), and the sample is the k SMALLEST keys — heavier rows draw
    smaller keys, inclusion probability ≈ k·w/Σw. The training-data use:
    token-weighted or quality-weighted corpus subsampling that is
    reproducible across runs, engines and partitionings (same contract
    as :func:`hash_split` — no RNG state, rows never move on rerun).

    Float discipline: h is the first 8 md5 hex chars as an integer, so
    u = (h+1)/2³² is an EXACT dyadic rational (power-of-two division
    never rounds), and key = u/w is ONE IEEE division of exact operands
    — bit-identical on any engine, no libm anywhere (the ln-based
    Efraimidis–Spirakis key would need the floor-quantize workaround).

    Scale shape: narrow key projection + global top-k (sort + limit —
    Spark's TakeOrderedAndProject, per-partition heaps then a k-row
    merge; never a full sort or single-reducer window). NULL ids and
    non-positive weights are dropped (hash-key rule / πps domain).

    Output: input columns + ``sample_key``, the k smallest keys.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base = df.filter(
        F.col(id_col).isNotNull() & (F.col(weight_col) > 0)
    )
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    u = (h + 1).cast("double") / F.lit(4294967296.0)
    key = u / F.col(weight_col).cast("double")
    return (
        base.withColumn("sample_key", key)
        .orderBy(F.col("sample_key").asc(), F.col(id_col).asc())
        .limit(k)
    )


def epoch_shuffle_stratified(
    df: DataFrame,
    epoch: int,
    *,
    id_col: str,
    group_col: str,
    n_shards: int = 32,
) -> DataFrame:
    """Domain-INTERLEAVED per-epoch training order (north-star
    extension, SURVEY §2.11 — no reference counterpart): a plain epoch
    shuffle leaves domain runs by chance, and a domain-sorted corpus
    produces catastrophic clumping — long stretches of one-source
    batches destabilize training. This order round-robins domains:
    every document gets a within-domain shuffle rank (md5(epoch:id) —
    the :func:`epoch_shuffle` hash), and the global position sorts by
    (within_rank, md5(epoch:domain), id) — position 1..k are the k
    domains' first picks, then their seconds, and so on; exhausted
    domains simply drop out of later rounds.

    Same determinism contract as :func:`epoch_shuffle` (content-defined,
    engine/rerun-stable, changes completely per epoch) and the same
    scale shape twice: BOTH ranks are sharded global ranks (the grouped
    form range-leads with the domain so each domain's shards stay
    contiguous) — no single-reducer window at any size. NULL ids are
    dropped (hash-key rule); a NULL domain forms its own stratum (the
    null-safe grouped-rank join-back).

    Output: input columns + ``within_rank`` + ``shuffle_pos``.
    """
    from bigdata_retailrocket_recsys_spark.operators.windows import (
        _sharded_global_rank,
        global_rank,
    )

    h = F.md5(
        F.concat_ws(":", F.lit(str(int(epoch))), F.col(id_col).cast("string"))
    )
    base = df.filter(F.col(id_col).isNotNull()).withColumn("__h", h)
    ranked = _sharded_global_rank(
        base, [F.col("__h").asc(), F.col(id_col).asc()], n_shards, [group_col]
    )
    within = ranked.withColumn(
        "within_rank", (F.col("__rn") + F.col("__off")).cast("bigint")
    ).drop("__shard", "__rn", "__off", "__n", "__h")
    gh = F.md5(
        F.concat_ws(
            ":",
            F.lit(str(int(epoch))),
            F.coalesce(F.col(group_col).cast("string"), F.lit("\x00null")),
        )
    )
    return (
        global_rank(
            within.withColumn("__gh", gh),
            [
                F.col("within_rank").asc(),
                F.col("__gh").asc(),
                F.col(id_col).asc(),
            ],
            n_shards=n_shards,
            out_col="shuffle_pos",
        )
        .drop("__gh")
    )


def top_share_by_score(
    df: DataFrame,
    *,
    group_col: str,
    score_col: str,
    share_num: int,
    share_den: int,
    id_col: str,
) -> DataFrame:
    """Keep the TOP ``share_num/share_den`` fraction of each group's rows
    by score — the FineWeb-style "keep the best q% per domain" quality
    cut between a hard threshold (corpus-size-sensitive) and a fixed
    k-per-group (density-insensitive). The share is an exact RATIONAL:
    a row with rank ``rn`` survives iff ``rn · share_den ≤ share_num ·
    n_group`` (integer cross-multiplication — no float share, no
    cross-engine rounding), i.e. exactly ``floor(share · n)`` rows per
    group; groups too small for one slot vanish.

    Ranking is deterministic: score DESC, then md5(id) (content-defined
    tiebreak for equal scores), then id. Shape: ONE window partitioned
    by group (rank + group count share the partitioning — one
    exchange); rank-limit pushes via WindowGroupLimit only for constant
    limits, so the count rides the same window instead. Output: input
    columns + ``__rn``/``__n`` dropped.
    """
    from pyspark.sql import Window

    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), h.asc(), F.col(id_col).asc()
    )
    wn = Window.partitionBy(group_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wn))
        .filter(
            F.col("__rn") * F.lit(int(share_den))
            <= F.lit(int(share_num)) * F.col("__n")
        )
        .drop("__rn", "__n")
    )


def temporal_embargo_split(
    df: DataFrame,
    *,
    ts_col: str,
    cutoff: str,
    horizon_seconds: int,
    embargo_seconds: int,
) -> DataFrame:
    """Purged walk-forward split with embargo (Lopez de Prado 2018,
    "Advances in Financial ML" ch. 7 — the leakage-safe temporal CV for
    forecasting/training on event streams). A naive ts < cutoff split
    leaks twice: a train sample whose LABEL window [ts, ts+horizon]
    crosses the cutoff has peeked at test time ("purge" it), and test
    samples immediately after the cutoff share serial correlation with
    late train samples ("embargo" them). Labels:

    - ``train``:   ts + horizon < cutoff        (label fully resolved pre-cut)
    - ``purged``:  ts < cutoff <= ts + horizon  (label straddles the cut)
    - ``embargo``: cutoff <= ts < cutoff + embargo
    - ``test``:    ts >= cutoff + embargo

    A real training run keeps only train + test; purged/embargo rows are
    returned labeled (not dropped) so the caller can audit how much data
    the hygiene cost — the split is a pure zero-shuffle projection
    (four timestamp comparisons), trivially scan-parallel at 100 TB and
    partition-prunable when the table is date-partitioned. NULL
    timestamps are unassignable and excluded. Comparisons are on exact
    epoch microseconds — no float time arithmetic.
    """
    us = F.unix_micros(F.col(ts_col))
    cut = F.unix_micros(F.lit(cutoff).cast("timestamp"))
    h = F.lit(int(horizon_seconds) * 1_000_000)
    e = F.lit(int(embargo_seconds) * 1_000_000)
    return df.filter(F.col(ts_col).isNotNull()).withColumn(
        "split",
        F.when(us + h < cut, F.lit("train"))
        .when(us < cut, F.lit("purged"))
        .when(us < cut + e, F.lit("embargo"))
        .otherwise(F.lit("test")),
    )


def curriculum_anneal_order(
    df: DataFrame,
    *,
    id_col: str,
    score_col: str,
    anneal_num: int,
    anneal_den: int,
    n_shards: int = 32,
) -> DataFrame:
    """Two-phase curriculum ordering for LLM training: the bulk of the
    data first (phase 1, content-shuffled), then an ANNEAL tail of the
    top ``anneal_num/anneal_den`` share by quality score (phase 2) —
    the "finish mid-training on the highest-quality slice" schedule
    (Llama-3 / MiniCPM-style annealing) as a deterministic ordering
    artifact. ``score_col`` is any integer quality signal (Gopher pass
    count, µ-floored LM score, token count — pluggable).

    Phase assignment is the exact-rational top-share rule
    (``rn·den <= num·n`` over rank by score DESC NULLS LAST,
    md5-of-id tiebreak, id — a total order, so the phase set is
    engine-independent). Within each phase the training order is a
    fresh content-defined shuffle (rank of md5('phase:id')), and the
    GLOBAL order offsets phase 2 after phase 1 — output ``ord`` is a
    permutation of 1..n (unit-locked). No single-reducer window
    anywhere: both ranks are sharded (`global_rank` shard+offset;
    ``partition_by=['phase']`` handles exactly-2 huge groups), and the
    phase-count offset table is 2 rows broadcast.

    Output: (id, score, phase, ord).
    """
    from bigdata_retailrocket_recsys_spark.operators.windows import (
        global_rank,
    )

    base = df.select(
        F.col(id_col), F.col(score_col).cast("bigint").alias("__score")
    ).filter(F.col(id_col).isNotNull())
    h = F.md5(F.col(id_col).cast("string"))
    ranked = global_rank(
        base,
        [F.col("__score").desc_nulls_last(), h.asc(), F.col(id_col).asc()],
        n_shards=n_shards,
        out_col="__qr",
    )
    n = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    phased = ranked.crossJoin(F.broadcast(n)).select(
        id_col,
        "__score",
        F.when(
            F.col("__qr") * F.lit(int(anneal_den))
            <= F.lit(int(anneal_num)) * F.col("__n"),
            F.lit(2),
        )
        .otherwise(F.lit(1))
        .cast("int")
        .alias("phase"),
    )
    sh = F.md5(
        F.concat_ws(":", F.col("phase").cast("string"),
                    F.col(id_col).cast("string"))
    )
    inphase = global_rank(
        phased,
        [sh.asc(), F.col(id_col).asc()],
        n_shards=n_shards,
        partition_by=["phase"],
        out_col="__pr",
    )
    # phase offsets: phase 1 starts at 0; phase 2 starts after phase 1.
    # ONE always-1-row aggregate (an empty phase 1 — anneal share 1 —
    # must yield offset 0, not an empty frame that crossJoins to zero
    # rows), broadcast.
    p1 = phased.agg(
        F.coalesce(
            F.sum(F.when(F.col("phase") == 1, 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("__p1n")
    )
    inj = inphase.crossJoin(F.broadcast(p1))
    return inj.select(
        id_col,
        F.col("__score").alias("score"),
        "phase",
        (
            F.col("__pr")
            + F.when(F.col("phase") == 2, F.col("__p1n")).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("ord"),
    )


def balanced_class_sample(
    df: DataFrame,
    *,
    class_col: str,
    id_col: str,
    n_shards: int = 32,
) -> DataFrame:
    """Class-balanced downsampling: keep exactly ``min(class sizes)``
    rows from EVERY class — the majority-class downsampling step before
    training on skewed labels (a fraud model fed 99.9% negatives learns
    the prior, not the signal). Selection is content-defined (rank by
    md5(id) within class, id tiebreak), so the kept set is
    rerun/reshard/engine-stable — the hash_split reproducibility
    contract applied to balancing.

    Shape: class counts are a classes-bounded aggregate; the floor
    count is a 1-row broadcast; the within-class rank is the SHARDED
    grouped rank (``partition_by`` — exactly the few-huge-groups case,
    null-safe so a NULL class balances like any other). Output: kept
    rows as (id, class) + ``class_n`` (the original class size).
    """
    from bigdata_retailrocket_recsys_spark.operators.windows import (
        global_rank,
    )

    base = df.select(F.col(id_col), F.col(class_col)).filter(
        F.col(id_col).isNotNull()
    )
    counts = base.groupBy(class_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("class_n")
    )
    floor_n = counts.agg(F.min("class_n").alias("__m"))
    h = F.md5(F.col(id_col).cast("string"))
    ranked = global_rank(
        base,
        [h.asc(), F.col(id_col).asc()],
        n_shards=n_shards,
        partition_by=[class_col],
        out_col="__r",
    )
    left, right = ranked.alias("__b"), counts.alias("__c")
    out = (
        left.join(
            F.broadcast(right),
            F.col(f"__b.{class_col}").eqNullSafe(F.col(f"__c.{class_col}")),
        )
        .crossJoin(F.broadcast(floor_n))
        .filter(F.col("__r") <= F.col("__m"))
        .select(
            f"__b.{id_col}",
            f"__b.{class_col}",
            F.col("__c.class_n").alias("class_n"),
        )
    )
    return out
