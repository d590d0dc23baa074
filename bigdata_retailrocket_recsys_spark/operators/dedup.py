"""Deduplication operators — exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup (north-star extensions; SURVEY §2.11).

Scale design notes:
- ``exact_dedup``: one hash-shuffle on the (md5 of the) key. Grouping on the
  128-bit digest, not the full text, keeps shuffle rows tiny at 100 TB.
- ``minhash_lsh_candidates``: shingle → 64-bit hashes → k min-hash
  signatures → band buckets → shuffle on (band, bucket) → pairs only within
  buckets. Pair generation is bounded by bucket size, never all-pairs.
- ``simhash``: 64- or 128-bit weighted-majority hash from an xxhash64
  (scale) or md5 (oracle-replayable) bit source; near-dups differ in few
  bits; banding the bits into 4 chunks gives exact-match buckets for
  Hamming distance ≤ 3 candidates (``simhash_near_pairs``).
- ``ngram_jaccard_pairs``: relational form — explode distinct shingles,
  self-join on shingle within a blocking key, count intersections; union
  sizes from per-doc counts. No UDF, no quadratic all-pairs.
- ``embedding_cosine_pairs``: blocked all-pairs cosine for calibration;
  production path is LSH/IVF (similarity.py).

Cache-lifetime audit (VERDICT r9 #7) — every ``.cache()``/checkpoint in
this module, classified:

==============================  =============================  ==========
site                            cached set                     lifetime
==============================  =============================  ==========
minhash_lsh_candidates          (doc, band, md5) — corpus-     backs the
(df= mode only)                 proportional but NARROW        lazy return
                                (~50 B/doc·band)               (see below)
simhash_near_pairs              (doc, sig0[, sig1]) — 1        lazy return
                                narrow row/doc
ngram_jaccard_pairs             distinct (doc, shingle) —      lazy return
(df= mode only)                 corpus-TOKEN-proportional
ngram_jaccard_pairs_prefix      ranked shingle prefix —        lazy return
                                corpus-token-proportional
jaccard_verify                  distinct (doc, shingle)        Iteration
containment_pairs               via ngram_jaccard_pairs        lazy return
                                (df= mode)                     (same class)
lsh_audit                       distinct (doc, shingle) +      Iteration
                                signatures, 1-row output
_span_islands_lazy /            span frame                     caller's
_vs_corpus_islands_lazy                                        Iteration
_hot_bucket_edges (capped       sized bucket rows              caller's
MinHash / SimHash / sign-LSH)                                  Iteration
connected_components*           adjacency, per-round state     Iteration
winnowing_pairs (r13)           distinct (doc, fp) — corpus-   lazy return
                                proportional NARROW (density
                                2/(w+1) of grams)
_embed_lsh_candidates (r13,     (vid, tbl, bucket) — N×tables  localCheck-
consolidating the r12 paths)    narrow rows                    point backing
                                                               the lazy
                                                               return
                                                               (documented
                                                               in embed_
                                                               lsh_pairs)
embed_lsh_audit (r13)           via _embed_lsh_candidates;     1-row output;
                                truth tier has NO cache        same class
==============================  =============================  ==========

"Lazy return" caches cannot be freed in-operator: they back the returned
DataFrame, and unpersisting before the caller's action would recompute
the subtree per consumer (2-3×). They are bounded by ONE narrow row per
doc (or per doc-shingle for the Jaccard tiers), and each has a
zero-cache warehouse twin that scans a persisted table instead
(``signatures=`` / ``shingles=`` modes) — at 100 TB the persisted table
IS the materialization and nothing lives in executor storage.
"Iteration" rows are the operators whose output is bounded: they
checkpoint it and cache their shared inputs through an ``Iteration``
(operators/iterate.py, the engine's one pin rule), which frees every
pin the output does not read when the call returns or raises.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_retailrocket_recsys_spark.functions.vector import (
    cosine_from_norms,
    l2_norm,
    quantizable,
    quantize_sql,
    to_double_array,
)
from bigdata_retailrocket_recsys_spark.operators.graph import _neighbors, _push
from bigdata_retailrocket_recsys_spark.operators.iterate import (
    Iteration,
    Round,
    require_pinned,
)
from bigdata_retailrocket_recsys_spark.operators.text import ws_tokens


def exact_dedup(
    df: DataFrame,
    *,
    key_cols: list[str],
    id_col: str,
) -> DataFrame:
    """Exact dedup: one surviving row id per duplicate group (deterministic
    keeper = min id) + group size. Group key is md5(concat of key cols).

    NULL discipline: a row with ANY NULL key component is not comparable
    to any other row (SQL NULL != NULL), so it must never share a dup
    group — conflating all NULL-key rows into one group would delete
    distinct records if survivors are acted on (ADVICE r2 #1). Such rows
    get a per-row group key ("row:<id>") → always their own keeper,
    n_dups=1. concat_ws runs only under the all-set guard, so it cannot
    conflate NULL with ''."""
    all_set = None
    for c in key_cols:
        nn = F.col(c).isNotNull()
        all_set = nn if all_set is None else (all_set & nn)
    digest = (
        F.when(all_set, F.md5(F.concat_ws("", *key_cols)))
        .otherwise(F.concat(F.lit("row:"), F.col(id_col).cast("string")))
        .alias("dup_key")
    )
    return (
        df.select(digest, F.col(id_col))
        .groupBy("dup_key")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def content_digest_table(
    df: DataFrame,
    path: str,
    *,
    key_cols: list[str],
) -> None:
    """Write-once persisted corpus digest table: one `dup_key` (md5 hex of
    the content key) per DISTINCT all-keys-set row, parquet at ``path`` —
    the exact-dedup companion to :func:`minhash_signatures_table`. NULL-key
    rows are not stored: they are incomparable (SQL NULL != NULL, see
    :func:`exact_dedup`), so nothing in a future batch can ever collide
    with them. At 100 TB the table is 16 bytes × distinct rows, and every
    incremental batch dedups against it without touching corpus text."""
    all_set = None
    for c in key_cols:
        nn = F.col(c).isNotNull()
        all_set = nn if all_set is None else (all_set & nn)
    (
        df.filter(all_set)
        .select(F.md5(F.concat_ws("", *key_cols)).alias("dup_key"))
        .distinct()
        .write.mode("overwrite")
        .parquet(path)
    )


def incremental_exact_dedup(
    batch: DataFrame,
    *,
    corpus_digests: DataFrame,
    key_cols: list[str],
    id_col: str,
) -> DataFrame:
    """Exact dedup of a NEW batch against an already-deduped corpus — the
    warehouse-scale daily-delta path: the corpus is represented ONLY by its
    persisted digest table (:func:`content_digest_table`), so corpus text
    is never read, never shuffled, never re-hashed.

    Two layers, same NULL discipline as :func:`exact_dedup`:
    1. drop batch rows whose digest already exists in the corpus
       (left-anti on the 16-byte digest — the only corpus-touching step);
    2. within-batch exact dedup of the survivors (keeper = min id).

    Output: ``dup_key, keeper_id, n_dups`` for the rows that should be
    APPENDED to the corpus (their digests then appended to the digest
    table, keeping the next increment exact).
    """
    all_set = None
    for c in key_cols:
        nn = F.col(c).isNotNull()
        all_set = nn if all_set is None else (all_set & nn)
    digest = (
        F.when(all_set, F.md5(F.concat_ws("", *key_cols)))
        .otherwise(F.concat(F.lit("row:"), F.col(id_col).cast("string")))
        .alias("dup_key")
    )
    keyed = batch.select(digest, F.col(id_col))
    fresh = keyed.join(
        corpus_digests.select("dup_key"), "dup_key", "left_anti"
    )
    return fresh.groupBy("dup_key").agg(
        F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_dups")
    )


def minhash_lsh_candidates_vs_corpus(
    batch: DataFrame,
    *,
    corpus_signatures: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    broadcast_batch: bool = True,
    hash_fn: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup candidates BETWEEN a new batch and an existing corpus —
    the incremental companion to :func:`minhash_lsh_candidates` (which is
    within-one-set). The corpus side is ONLY its persisted signature table
    (:func:`minhash_signatures_table`): no corpus text scan, no corpus
    shuffle — the banded corpus signatures stream past a broadcast of the
    banded batch (a daily delta is small by definition; set
    ``broadcast_batch=False`` for backfill-sized batches and the join
    falls back to a shuffle on (band, bucket)).

    Signatures/banding must use the same ``num_hashes``/``bands``/
    ``hash_fn`` the corpus table was built with. Output: ``batch_doc,
    corpus_doc, n_shared_bands`` (no a<b constraint — the two sides are
    disjoint sets).

    HOT-BUCKET GUARD (``max_bucket=``, default off; VERDICT r10 #1): the
    bipartite fan-out per (band, bucket) is |batch∩bucket| ×
    |corpus∩bucket| — a 10⁵-member templated corpus family colliding with
    a handful of batch docs floods the verify stage. With ``max_bucket=m``
    only the ``m`` smallest corpus doc ids per bucket are joined
    (deterministic; a batch doc that truly matches a capped family still
    meets up to ``m`` family representatives — the dedup decision "is this
    a dup of the family" survives; recall is lost only when the kept
    representatives are all random-collision DISSIMILAR members). Never
    silent: the output gains ``max_bucket_overflow`` — the largest
    per-bucket dropped-member count among the pair's shared bands (0 = no
    cap fired). Schema unchanged when ``max_bucket`` is None.
    """
    batch_sig = minhash_signatures(
        batch,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        hash_fn=hash_fn,
    )
    bb = _band_rows(batch_sig, num_hashes=num_hashes, bands=bands)
    cb = _band_rows(corpus_signatures, num_hashes=num_hashes, bands=bands)
    if broadcast_batch:
        bb = F.broadcast(bb)
    aggs = [F.count(F.lit(1)).alias("n_shared_bands")]
    if max_bucket is not None:
        from pyspark.sql import Window

        # NOTE (ADVICE r11 #5): the count().over(unordered window) in the
        # same select needs the FULL partition (bsz must count dropped
        # members for the overflow audit), so the rank filter does NOT
        # compile to a WindowGroupLimit top-m pushdown here. Behavior is
        # still linear per bucket — the hot bucket is one sorted task's
        # scan, never a 10⁵×batch join fan-out — the full-partition pass
        # is the price of the never-silent n_dropped column.
        wo = Window.partitionBy("band", "bucket").orderBy("doc")
        wc = Window.partitionBy("band", "bucket")
        cb = (
            cb.select(
                "doc",
                "band",
                "bucket",
                F.row_number().over(wo).alias("rn"),
                F.count(F.lit(1)).over(wc).alias("bsz"),
            )
            .filter(F.col("rn") <= max_bucket)
            .select(
                "doc",
                "band",
                "bucket",
                F.greatest(
                    F.col("bsz") - max_bucket, F.lit(0)
                ).alias("n_dropped"),
            )
        )
        aggs.append(F.max("n_dropped").alias("max_bucket_overflow"))
    return (
        cb.alias("c")
        .join(
            bb.alias("b"),
            (F.col("c.band") == F.col("b.band"))
            & (F.col("c.bucket") == F.col("b.bucket")),
            "inner",
        )
        .groupBy(
            F.col("b.doc").alias("batch_doc"),
            F.col("c.doc").alias("corpus_doc"),
        )
        .agg(*aggs)
    )


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array of strings (distinct).

    NOTE: array-expression form — fine for one-off use, but the token
    array referenced inside the lambda is re-evaluated per position (Spark
    does not CSE into higher-order lambdas), so for hot paths use
    ``shingle_rows`` (tokenize-once, window-based) instead."""
    toks = ws_tokens(text)
    if n == 1:
        return F.array_distinct(toks)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    # try_element_at: NULL past the end (ANSI-safe); concat_ws drops NULLs,
    # so docs shorter than n yield their single partial shingle.
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.try_element_at(toks, i + j) for j in range(n)]
            ),
        )
    )


def shingle_rows(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    distinct: bool = True,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """(doc, shingle) rows — the scalable shingle producer.

    Tokenizes each document exactly once (posexplode), then forms n-grams
    with ``lead()`` windows partitioned by document. One shuffle by doc id;
    every step whole-stage-codegen. Documents shorter than ``n`` tokens
    yield their single partial shingle (same as ``shingles``).

    ``distinct=False`` keeps duplicate shingles (bag semantics): correct
    for consumers idempotent over duplicates (min-hash — min of a value
    repeated is the min), and SAVES A SHUFFLE twice over: the distinct's
    own exchange disappears, and a following groupBy("doc") reuses the
    lead-window's hashpartitioning(doc) instead of re-exchanging from
    (doc, shingle). Jaccard set-intersection consumers need the default
    ``distinct=True``.

    ``carry_cols`` rides extra per-document columns (a blocking key, a
    source/domain) through the explode — free (narrow), saving the
    join-back a consumer grouping by something other than doc would
    otherwise pay."""
    from pyspark.sql import Window

    carry = list(carry_cols or [])
    tok = df.select(
        F.col(id_col).alias("doc"),
        *[F.col(c) for c in carry],
        F.posexplode(ws_tokens(text_col)).alias("pos", "tok"),
    )
    if n == 1:
        out = tok.select("doc", *carry, F.col("tok").alias("shingle"))
        return out.distinct() if distinct else out
    w = Window.partitionBy("doc").orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
    out = tok.select(
        "doc",
        *carry,
        "pos",
        F.concat_ws(" ", *leads).alias("shingle"),
        leads[-1].isNotNull().alias("full"),
        F.count(F.lit(1)).over(Window.partitionBy("doc")).alias("doc_len"),
    )
    out = out.filter(
        F.col("full") | ((F.col("pos") == 0) & (F.col("doc_len") < n))
    ).select("doc", *carry, "shingle")
    return out.distinct() if distinct else out


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures via shingle rows → groupBy(min...): documents are
    tokenized ONCE, the num_hashes mins run as one map-side-combined hash
    aggregate. Duplicate shingles are kept (min is idempotent — same
    signature as over the distinct set) so the groupBy reuses the shingle
    window's doc partitioning: ONE data shuffle end-to-end instead of
    three. Output: doc, sig (array<bigint>).

    ``hash_fn='md5'`` is the cross-engine-replayable tier (the md5
    SimHash move): per seed j the hash is ``md5('j:' || shingle)`` and
    the min is the LEXICOGRAPHIC min of fixed-width hex — deterministic
    on any engine, so the whole signature→band→pair chain can be
    value-checked by a SQL oracle. sig becomes array<string>; ~2× the
    bytes of the xxhash64 tier, which stays the scale default."""
    exploded = shingle_rows(
        df, id_col=id_col, text_col=text_col, n=shingle_n, distinct=False
    ).withColumnRenamed("shingle", "s")
    if hash_fn == "md5":
        hashes = [
            F.md5(F.concat_ws(":", F.lit(str(j)), F.col("s")))
            for j in range(num_hashes)
        ]
    elif hash_fn == "xxhash64":
        hashes = [F.xxhash64("s", F.lit(j)) for j in range(num_hashes)]
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    mins = exploded.groupBy("doc").agg(
        *[F.min(h).alias(f"h{j}") for j, h in enumerate(hashes)]
    )
    return mins.select(
        "doc", F.array(*[F.col(f"h{j}") for j in range(num_hashes)]).alias("sig")
    )


def minhash_signatures_table(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    hash_fn: str = "xxhash64",
) -> None:
    """Write-once persisted MinHash signature table: (doc, sig array<bigint>)
    parquet at ``path``. The warehouse-scale companion to the in-operator
    ``.cache()`` in :func:`minhash_lsh_candidates` — at 100 TB you compute
    signatures ONCE per corpus snapshot, persist them (docs × 16 bigints —
    a few thousandths of the corpus size), and every subsequent LSH pass
    (re-banding with different thresholds, incremental joins against new
    batches) scans the table with zero shingle recompute
    (``minhash_lsh_candidates(signatures=...)``)."""
    minhash_signatures(
        df,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        hash_fn=hash_fn,
    ).write.mode("overwrite").parquet(path)


def _band_rows(with_sig: DataFrame, *, num_hashes: int, bands: int) -> DataFrame:
    """(doc, sig) → one row per (doc, band, bucket): the signature is cut
    into ``bands`` equal slices, each md5-fingerprinted into a bucket id.
    Shared by the within-set and batch-vs-corpus LSH joins."""
    rows_per_band = num_hashes // bands
    return with_sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.array_join(
                                F.transform(
                                    F.slice("sig", b * rows_per_band + 1, rows_per_band),
                                    lambda x: x.cast("string"),
                                ),
                                "_",
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_candidates(
    df: DataFrame | None = None,
    *,
    signatures: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash + LSH banding.

    signature (num_hashes) → ``bands`` bands of num_hashes/bands values;
    docs sharing any full band land in one bucket; pairs emitted per bucket
    with ``a < b``. Output: doc_a, doc_b, n_shared_bands.

    Two input modes:

    - ``df=`` raw documents: signatures are computed in-flight and the
      banded subtree is ``.cache()``d (both self-join sides read it).
    - ``signatures=`` a (doc, sig) DataFrame — typically a scan of the
      table written by :func:`minhash_signatures_table`. No tokenize, no
      shingle window, no cache: both join sides re-scan the persisted
      columnar table directly (the at-rest layout IS the materialization).
      Value-identical to the df= path for the same corpus (locked in
      tests/test_operators.py).

    HOT-BUCKET GUARD (``max_bucket=``, default off): a bucket with B
    members emits B(B−1)/2 clique pairs — on a boilerplate-heavy crawl a
    templated near-dup family of 10⁵ docs (which exact dedup does NOT
    remove; they differ by a timestamp) shares bands and would flood the
    verify stage with ~5×10⁹ pairs from ONE bucket. With ``max_bucket=m``
    set, any (band, bucket) group larger than ``m`` is PRE-COLLAPSED to a
    spanning STAR — hub = min(doc), edges (hub, other) — instead of the
    clique: B−1 pairs, linear in B, and the bucket's docs stay one
    connected component for the downstream CC stage (a genuinely-similar
    family still clusters; star edges between DISSIMILAR random-collision
    members can fail jaccard_verify where some clique edge would have
    passed — recall on verified PAIRS is reduced for over-cap buckets,
    recall on planted true-dup CLUSTERS is property-locked in
    tests/test_properties.py). Never a silent cap: the output gains an
    ``n_capped_bands`` audit column (how many of the pair's shared bands
    were star edges from over-cap buckets; 0 = pure clique evidence).
    Schema is unchanged when ``max_bucket`` is None, so existing oracle
    entries are byte-identical. VERDICT r10 #1.
    """
    if (df is None) == (signatures is None):
        raise ValueError("pass exactly one of df= or signatures=")
    if signatures is None:
        with_sig = minhash_signatures(
            df,
            id_col=id_col,
            text_col=text_col,
            shingle_n=shingle_n,
            num_hashes=num_hashes,
            hash_fn=hash_fn,
        )
    else:
        with_sig = signatures
    banded = _band_rows(with_sig, num_hashes=num_hashes, bands=bands)
    if max_bucket is not None:
        return _capped_bucket_pairs(banded, max_bucket=max_bucket)
    # cache (df= mode only): BOTH sides of the self-join read this subtree —
    # without the cache Spark executes the whole tokenize→signature→band
    # pipeline twice (~35% slower at sf0.1). The cached set is tiny (docs ×
    # bands rows of (id, band, md5)). The signatures= mode IS the
    # warehouse-scale alternative: the persisted parquet table is the
    # materialization, so both sides just re-scan it — no cache needed.
    if signatures is None:
        banded = banded.cache()
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
            "inner",
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def _hot_bucket_edges(
    it: Iteration,
    banded: DataFrame,
    *,
    keys: list[str],
    id_col: str,
    max_bucket: int,
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """THE hot-bucket star guard (VERDICT r10 #1 / r11 consolidation) —
    the single producer behind every banded-LSH capped path (MinHash
    within-set, SimHash 64/128, embedding sign-LSH). Semantics over
    (``id_col``, ``*payload_cols``, ``*keys``) rows: a ``keys``-group
    with ≤ ``max_bucket`` members emits the clique (a<b self-join, the
    uncapped shape); an over-cap group pre-collapses to a spanning STAR
    from hub = min(id) — linear B−1 edges instead of B(B−1)/2. One
    window pass sizes every bucket (the hot bucket is ONE sorted
    partition — a 10⁵-member bucket is one task's 10⁵ rows, not 5×10⁹
    join rows). ``payload_cols`` (SimHash signatures) ride the hub
    struct — ``id_col`` leads it so lexicographic struct-min IS min-id —
    and come back as ``{c}_a`` / ``{c}_b`` on every edge, so a star
    edge's Hamming/verify input needs no extra join.

    Returns the edges LAZY. The sized rows feed the clique join (twice)
    AND the star filter, so they are cached on the caller's ``it`` (S7 —
    Spark never reuses a twice-referenced subtree); each caller
    checkpoints its bounded pair output through the same ``it``, so no
    docs×bands signature-grain cache outlives the call (ADVICE r11 #1).
    Edge columns: ``{id}_a``, ``{id}_b``, ``{payload}_a/_b`` …,
    ``capped`` (0 clique / 1 star)."""
    from pyspark.sql import Window

    wb = Window.partitionBy(*keys)
    sized = it.cache(banded.select(
        id_col,
        *payload_cols,
        *keys,
        F.count(F.lit(1)).over(wb).alias("__bsz"),
        F.min(F.struct(id_col, *payload_cols)).over(wb).alias("__hub"),
    ))
    small = sized.filter(F.col("__bsz") <= max_bucket)
    a = small.alias("a")
    b = small.alias("b")
    clique = a.join(
        b,
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
        + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")],
        "inner",
    ).select(
        F.col(f"a.{id_col}").alias(f"{id_col}_a"),
        F.col(f"b.{id_col}").alias(f"{id_col}_b"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in payload_cols],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in payload_cols],
        F.lit(0).alias("capped"),
    )
    star = sized.filter(
        (F.col("__bsz") > max_bucket)
        & (F.col(id_col) != F.col(f"__hub.{id_col}"))
    ).select(
        F.col(f"__hub.{id_col}").alias(f"{id_col}_a"),
        F.col(id_col).alias(f"{id_col}_b"),
        *[F.col(f"__hub.{c}").alias(f"{c}_a") for c in payload_cols],
        *[F.col(c).alias(f"{c}_b") for c in payload_cols],
        F.lit(1).alias("capped"),
    )
    return clique.unionByName(star)


def _capped_bucket_pairs(banded: DataFrame, *, max_bucket: int) -> DataFrame:
    """MinHash tail of :func:`_hot_bucket_edges`: band-grain edges
    re-aggregated to pair grain, checkpointed (bounded: ≤ cap·N clique
    rows + linear star rows). Output: doc_a, doc_b, n_shared_bands,
    n_capped_bands."""
    with Iteration() as it:
        edges = _hot_bucket_edges(
            it, banded, keys=["band", "bucket"], id_col="doc",
            max_bucket=max_bucket,
        )
        pairs = edges.groupBy("doc_a", "doc_b").agg(
            F.count(F.lit(1)).alias("n_shared_bands"),
            F.sum("capped").alias("n_capped_bands"),
        )
        return it.result(it.checkpoint(pairs).df)


_SWAR16_MASK = 0x0001_0001_0001_0001  # 4 × 16-bit lanes per bigint


def _swar_signatures(sh: DataFrame, word_cols: list[str]) -> DataFrame:
    """The SimHash reducer for hash-WORD bit sources (xxhash64 words
    and md5 halves alike): per word column, 16 sums of
    ``(w >> k) & 0x0001000100010001`` accumulate FOUR bit-counts each
    (16-bit lanes) — 4× fewer aggregate buffers than one-sum-per-bit,
    measured 2.3× faster at 30M shingle rows with bit-identical output
    (r7 A/B, checksums equal). All sums ride ONE map-side-combinable
    aggregation with the row count, then the majority rule
    (vote_j > 0 ⟺ 2·Σbit_j > n); NO bit explode — the r7 volume probe
    measured the explode form (64 vote rows per shingle → 1.9B rows at
    1M docs) at 578 s vs ~20 s for this shape.

    Lane capacity: a lane holds a bit count up to 65,535, but the top
    lane sits on the long's sign bit, so a top-lane count of 32,768
    overflows the sum. A doc of n ≤ 32,767 distinct shingles therefore
    always fits; above that a doc fails as soon as one of its top-lane
    counts reaches 32,768 (for hashed bits, count ≈ n/2, so in practice
    from n ≈ 64,500), and n ≥ 65,536 always fails. Failing means the
    named ``raise_error`` guard, never a carry into the next lane or a
    wrong bit (a 32k-DISTINCT-shingle doc is ~200 KB of unique bigrams
    — cap or pre-split such docs). Returns one signature column per word
    column, named ``sig0, sig1, ...``."""
    # try_sum turns the top lane's overflow into NULL (a plain sum would
    # wrap without ANSI and raise ARITHMETIC_OVERFLOW with it), and the
    # guard below turns NULL into the named error
    sums = sh.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.try_sum(F.expr(f"({w} >> {k}) & {_SWAR16_MASK}")).alias(
                f"p{i}_{k}"
            )
            for i, w in enumerate(word_cols)
            for k in range(16)
        ],
    )
    packed = [c for c in sums.columns if c.startswith("p")]
    # the guard must feed the result or column pruning drops it
    n_checked = F.expr(
        "CASE WHEN n >= 65536 OR "
        + " OR ".join(f"{c} IS NULL" for c in packed)
        + " THEN raise_error('simhash SWAR lanes overflow: a document has "
        "too many distinct shingles for 16-bit lanes; pre-split such "
        "documents') ELSE n END"
    )
    sums = sums.select("doc", n_checked.alias("n"), *packed)

    def _sig(i: int):
        sig = None
        for j in range(64):
            k, lane = j % 16, j // 16
            cnt = F.expr(f"(p{i}_{k} >> {16 * lane}) & 65535")
            term = F.when(
                cnt * 2 > F.col("n"),
                F.lit(1 << j if j < 63 else -(1 << 63)).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
            sig = term if sig is None else sig + term
        return sig

    return sums.select(
        "doc", *[_sig(i).alias(f"sig{i}") for i in range(len(word_cols))]
    )


def simhash(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash signatures of ``bits`` ∈ {64, 128} from one of two bit
    sources, returned as ``(doc, sig0[, sig1])`` — bits 0-63 and 64-127.

    - ``hash_fn='xxhash64'`` (the scale tier): word 0 is
      ``xxhash64(shingle)``, word 1 is ``xxhash64(shingle, 1)``.
    - ``hash_fn='md5'`` (the oracle-replayable tier, the same
      exact-integer-twin move as the PageRank pair): bit ``j`` of a
      shingle is bit ``j%4`` of hex nibble ``j//4`` of ``md5(shingle)``,
      nibble = position of the hex char in ``0123456789abcdef``. Spark
      and DuckDB compute md5 hex identically, so every vote, signature
      word and Hamming distance replays exactly with integer-only
      arithmetic; md5 is 128 bits, so its 32 nibbles cover the wide
      tier too. Word ``i`` is hex half ``i`` (nibbles ``16i..16i+15``)
      read back to front and parsed as a signed 64-bit integer, so its
      bit ``j`` is exactly bit ``j%4`` of nibble ``16i + j//4``.

    Both sources feed the same SWAR reducer (:func:`_swar_signatures`)
    and share its lane cap: a doc of up to 32,767 distinct shingles
    always fits, one of 65,536 or more always raises ``lanes overflow``,
    and in between it raises once a top-lane bit count reaches 32,768
    (in practice from about 64,500). Before the md5 tier shared the
    reducer it summed one bit per aggregate buffer and had no cap.

    Signature bit j = (Σ ±1 votes over the doc's distinct shingles) > 0."""
    if bits not in (64, 128):
        raise ValueError(f"bits must be 64 or 128, got {bits}")
    sh = shingle_rows(df, id_col=id_col, text_col=text_col, n=shingle_n)
    if hash_fn == "xxhash64":
        words = [F.xxhash64("shingle"), F.xxhash64("shingle", F.lit(1))]
    elif hash_fn == "md5":
        words = [
            F.expr(
                f"CAST(conv(reverse(substring(md5(shingle), {16 * i + 1}, 16)), "
                "16, -10) AS BIGINT)"
            )
            for i in range(2)
        ]
    else:
        raise ValueError(
            f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}"
        )
    sh = sh.select(
        "doc", *[w.alias(f"h{i}") for i, w in enumerate(words[: bits // 64])]
    )
    return _swar_signatures(sh, sh.columns[1:])


def simhash_near_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
    bits: int = 64,
    max_hamming: int = 3,
    n_bands: int = 4,
    hash_fn: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate CANDIDATE PAIRS over the :func:`simhash`
    signature of ``bits`` and ``hash_fn``. Standard banding argument
    (Manku et al., WWW'07 web-crawl dedup): split the signature into
    ``n_bands`` contiguous blocks; two signatures within Hamming
    distance ``max_hamming`` < ``n_bands`` MUST agree exactly on at
    least one block (pigeonhole), so exact-match joins on block keys
    find every such pair without an all-pairs comparison. Survivors are
    verified with ``Σ bit_count(xor)`` over the signature words —
    JVM-side, no UDF — and deduped (a pair can collide in several
    bands). Bands split the ``bits`` with the remainder spread over the
    leading bands, so EVERY bit is banded; a band straddling a word
    boundary is stitched from both words (integer shifts only).

    Scale shape: one signature pass, then ``n_bands`` block-key
    shuffles of narrow rows; bucket sizes bound the pair fan-out
    exactly like MinHash-LSH banding. BUCKET SATURATION bound
    (measured, r7 volume probe): with ``w = bits/n_bands``-bit block
    keys the random-collision candidate volume is ≈ N²·n_bands/2^(w+1)
    — at N=1M docs, 64 bits, n_bands=4 (w=16) that is ~30M verified
    candidates (sig pass 10.4 s, banded join 85 s on local[32]); beyond
    N≈10M the right move is ``bits=128`` (32-bit keys at n_bands=4),
    not more bands (pigeonhole needs max_hamming < n_bands). xxhash64
    signatures are not DuckDB-expressible, so the scale tier is
    property-tested (brute-force recall equality); the md5 tier is
    value-hashed against DuckDB.

    HOT-BUCKET GUARD (``max_bucket=``, default off; VERDICT r10 #1): an
    over-cap (band, key) group is pre-collapsed to a spanning star from
    hub = min(doc, sig…) instead of the B(B−1)/2 clique — see
    :func:`minhash_lsh_candidates` for the full rationale. Star edges
    still pass through the Hamming verify, so a family member whose
    Hamming to the HUB exceeds ``max_hamming`` (but is within it to
    some other member) is not emitted from that bucket — cluster recall
    on genuinely near-identical families is unaffected (Hamming ≈ 0 to
    every member incl. the hub; property-locked). With the cap set the
    output gains a ``from_capped_bucket`` audit column (1 = at least one
    of the pair's colliding buckets was over-cap).

    Returns ``(doc_a, doc_b, hamming)`` with ``doc_a < doc_b``.
    """
    if not 2 <= n_bands <= bits:
        # n_bands=1 degenerates to exact signature equality: exact_dedup
        raise ValueError(f"n_bands must be in [2, {bits}], got {n_bands}")
    if max_hamming >= n_bands:
        raise ValueError(
            "banding guarantee needs max_hamming < n_bands "
            f"(got {max_hamming} >= {n_bands})"
        )
    sigs = simhash(
        df,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        bits=bits,
        hash_fn=hash_fn,
    )
    sig_cols = [f"sig{i}" for i in range(bits // 64)]
    if max_bucket is None:
        # uncapped: banded feeds BOTH self-join sides (S7). Capped mode
        # skips the cache — _hot_bucket_edges reads banded exactly once
        # into its own (released) sized cache, so caching here would
        # just pin a docs-grain frame for the session (ADVICE r11 #1).
        sigs = sigs.cache()
    base, rem = divmod(bits, n_bands)
    widths = [base + (1 if b < rem else 0) for b in range(n_bands)]
    offsets = [sum(widths[:b]) for b in range(n_bands)]

    def _key(o: int, w: int) -> str:
        # bits [o, o+w) of the signature. >> in Spark is an arithmetic
        # shift on bigint — mask AFTER shifting to kill sign extension;
        # w <= 64 always (n_bands >= 2), and at w == 64 the band IS the
        # whole word (a (1<<64)-1 literal would parse as DECIMAL)
        i, lo = divmod(o, 64)
        if w == 64:
            return f"sig{i}"
        if lo + w <= 64:
            return f"(sig{i} >> {lo}) & {(1 << w) - 1}"
        lo_bits = 64 - lo
        hi_bits = w - lo_bits
        return (
            f"((sig{i} >> {lo}) & {(1 << lo_bits) - 1}) | "
            f"(((sig{i + 1}) & {(1 << hi_bits) - 1}) << {lo_bits})"
        )

    banded = sigs.select(
        "doc",
        *sig_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(_key(offsets[b], widths[b])).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", *sig_cols, "bk.band", "bk.key")
    return _banded_sig_pairs(
        banded,
        sig_cols=sig_cols,
        max_hamming=max_hamming,
        max_bucket=max_bucket,
    )


def shingle_table(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 1,
    block_cols: list[str] | None = None,
) -> None:
    """Write-once persisted distinct-shingle table: (doc, shingle
    [, blocks]) parquet at ``path`` — the warehouse-scale companion to the
    in-operator ``.cache()`` in :func:`ngram_jaccard_pairs` (same move as
    :func:`minhash_signatures_table`). At 100 TB you tokenize the corpus
    ONCE per snapshot; every subsequent Jaccard pass (different
    thresholds, incremental batches) scans this table with zero tokenize
    recompute (``ngram_jaccard_pairs(shingles=...)``)."""
    block_cols = block_cols or []
    tok = shingle_rows(df, id_col=id_col, text_col=text_col, n=shingle_n)
    if block_cols:
        blocks = df.select(F.col(id_col).alias("doc"), *block_cols)
        tok = tok.join(blocks, "doc")
    tok.write.mode("overwrite").parquet(path)


def ngram_jaccard_pairs(
    df: DataFrame | None = None,
    *,
    shingles: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    shingle_n: int = 1,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs, relational formulation.

    tokens → distinct shingles per doc → self-join on shingle within the
    blocking key (a.doc < b.doc) → |A∩B| per pair; |A∪B| from per-doc
    distinct counts. Output: doc_a, doc_b, n_common, n_a, n_b, jaccard.

    Two input modes (same contract as :func:`minhash_lsh_candidates`):

    - ``df=`` raw documents: shingles are computed in-flight and cached
      (three consumers — sizes + both self-join sides).
    - ``shingles=`` a (doc, shingle[, blocks]) DataFrame — typically a
      scan of the table written by :func:`shingle_table`. No tokenize, no
      cache: every consumer re-scans the persisted columnar table (the
      at-rest layout IS the materialization). Value-identical to the
      df= path for the same corpus (locked in tests/test_operators.py).
    """
    if (df is None) == (shingles is None):
        raise ValueError("pass exactly one of df= or shingles=")
    block_cols = block_cols or []
    if shingles is not None:
        tok = shingles
    else:
        tok = shingle_rows(df, id_col=id_col, text_col=text_col, n=shingle_n)
        if block_cols:
            blocks = df.select(F.col(id_col).alias("doc"), *block_cols)
            tok = tok.join(blocks, "doc")
        # cache: three consumers (sizes + both self-join sides) would each
        # re-run tokenize→shingle→distinct; at warehouse scale persist the
        # shingle table once instead (shingle_table + shingles=)
        tok = tok.cache()
    sizes = tok.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = tok.alias("a")
    b = tok.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col("a.doc") < F.col("b.doc")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    common = (
        a.join(b, cond, "inner")
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
    )
    return out.filter(F.col("jaccard") >= min_jaccard).select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard"
    )


def containment_pairs(
    df: DataFrame | None = None,
    *,
    shingles: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    shingle_n: int = 1,
    min_containment: float = 0.9,
) -> DataFrame:
    """ASYMMETRIC near-superset pairs — shingle-set CONTAINMENT
    c(A→B) = |A∩B| / |A| instead of Jaccard (north-star extension,
    SURVEY §2.11 — no reference counterpart). Jaccard misses the
    quote/syndication geometry: a 50-shingle article embedded verbatim
    in a 5000-shingle aggregation page has Jaccard ≈ 0.01 but
    containment 1.0. A pair survives when EITHER direction's containment
    reaches ``min_containment``; both directions are emitted so the
    caller can tell which side is the contained one.

    Same relational chain as :func:`ngram_jaccard_pairs` (distinct
    shingles → blocked self-join → intersection counts) — pairs sharing
    no shingle can't reach any positive threshold, so the shared-shingle
    join is complete for containment too. Each containment is ONE IEEE
    division of exact integer counts (cross-engine-deterministic).

    Scale note: unlike Jaccard-tuned MinHash banding, standard LSH
    candidates are biased AGAINST high-containment/low-Jaccard pairs —
    this operator is the exact tier; at corpus scale block it (the
    ``block_cols``) or run it on candidate unions from a
    containment-aware index.

    Output: doc_a, doc_b, n_common, n_a, n_b, containment_a,
    containment_b (a = containment of doc_a's set in doc_b's).
    """
    pairs = ngram_jaccard_pairs(
        df,
        shingles=shingles,
        id_col=id_col,
        text_col=text_col,
        block_cols=block_cols,
        shingle_n=shingle_n,
        min_jaccard=0.0,
    )
    c_a = F.col("n_common").cast("double") / F.col("n_a").cast("double")
    c_b = F.col("n_common").cast("double") / F.col("n_b").cast("double")
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            c_a.alias("containment_a"),
            c_b.alias("containment_b"),
        )
        .filter(
            F.greatest("containment_a", "containment_b")
            >= F.lit(min_containment)
        )
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    shingle_n: int = 1,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Jaccard near-dup pairs with PREFIX FILTERING (the ppjoin-family
    candidate pruning from the set-similarity-join literature) —
    value-identical to :func:`ngram_jaccard_pairs`, asymptotically fewer
    candidate pairs.

    Theorem (prefix filtering): order every document's shingles by one
    global total order (here: ascending document frequency, then shingle —
    rarest first); keep only the first ``|S| - ceil(t·|S|) + 1`` shingles
    of each. Any pair with Jaccard ≥ t MUST share a shingle within these
    prefixes. So the candidate self-join runs on the (short, rare-token)
    prefixes instead of full shingle sets — the hot shingles that dominate
    the full join's fan-out (stopwords shared by every doc) sit at the END
    of the order and never generate candidates. Candidates are then
    verified exactly.

    Plan: 3 aggregates (sizes, dfreq, intersection) + 1 window (prefix
    rank) + 2 joins — all shuffle-partitionable; no UDF.
    """
    from pyspark.sql import Window

    block_cols = block_cols or []
    tok = shingle_rows(df, id_col=id_col, text_col=text_col, n=shingle_n)
    if block_cols:
        blocks = df.select(F.col(id_col).alias("doc"), *block_cols)
        tok = tok.join(blocks, "doc")
    sizes = tok.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    dfreq = tok.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc").orderBy(F.col("df").asc(), F.col("shingle").asc())
    ordered = (
        tok.join(dfreq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, "doc")
    )
    prefix = ordered.filter(
        F.col("rn")
        <= F.col("n_sh") - F.ceil(F.lit(min_jaccard) * F.col("n_sh")) + 1
    ).select("doc", "shingle", *block_cols)

    # cache: both self-join sides read the ranked-prefix subtree (window
    # over global shingle frequencies) — twice the cost uncached
    prefix = prefix.cache()
    a = prefix.alias("a")
    b = prefix.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col("a.doc") < F.col("b.doc")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cand = (
        a.join(b, cond, "inner")
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )

    # exact verification of the (small) candidate set
    # equi join on (doc, shingle) both hops — the intermediate is exactly
    # the intersection rows, never an |A|x|B| per-pair cross
    ta = tok.select(F.col("doc").alias("doc_a"), F.col("shingle").alias("sh"))
    tb = tok.select(F.col("doc").alias("doc_b"), F.col("shingle").alias("sh"))
    common = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
    )
    return out.filter(F.col("jaccard") >= min_jaccard).select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard"
    )


def jaccard_pairs_vs_corpus(
    batch_shingles: DataFrame,
    corpus_shingles: DataFrame,
    *,
    min_jaccard: float = 0.5,
    id_col: str | None = None,
    shingle_col: str | None = None,
) -> DataFrame:
    """Exact BIPARTITE Jaccard pairs between a batch and a persisted
    corpus shingle/digest table — the verify/apply half of the
    incremental near-dup loop at ANY grain (text shingles, binary
    chunk digests): both inputs are distinct ``(doc, shingle)`` rows,
    the corpus side typically a scan of an at-rest artifact
    (:func:`shingle_table`, ``multimodal.chunk_digest_table``) so
    corpus payloads are never re-read.

    Shape: one equi join on the shingle key (the intersection rows —
    cost is Σ_shingle |batch docs| × |corpus docs|, bounded by the
    batch's shingle vocabulary; for web-scale fan-in run the banded
    candidate stage first — :func:`minhash_lsh_candidates_vs_corpus` —
    and verify with :func:`jaccard_verify`), per-side size aggregates,
    ONE IEEE division over exact integer counts. No a<b constraint —
    the sides are disjoint sets by the daily-delta contract.

    Column binding (ADVICE r11 #3): pass ``id_col``/``shingle_col`` to
    bind by NAME on both sides; when omitted, the inputs must be
    EXACTLY two columns (id, shingle) in that order — a wider or
    reordered frame raises instead of silently computing Jaccards over
    the wrong columns.

    Output: batch_doc, corpus_doc, n_common, n_batch, n_corpus,
    jaccard.
    """
    def _bind(df: DataFrame, side: str) -> tuple[str, str]:
        if id_col is not None and shingle_col is not None:
            return id_col, shingle_col
        if len(df.columns) != 2:
            raise ValueError(
                f"jaccard_pairs_vs_corpus: {side} frame has columns "
                f"{df.columns}; positional binding requires exactly "
                "(id, shingle) — pass id_col=/shingle_col= for wider frames"
            )
        return df.columns[0], df.columns[1]

    b_id, b_sh = _bind(batch_shingles, "batch")
    c_id, c_sh = _bind(corpus_shingles, "corpus")
    bs = batch_shingles.select(
        F.col(b_id).alias("batch_doc"),
        F.col(b_sh).alias("__sh"),
    ).distinct()
    cs = corpus_shingles.select(
        F.col(c_id).alias("corpus_doc"),
        F.col(c_sh).alias("__sh"),
    ).distinct()
    nb = bs.groupBy("batch_doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batch")
    )
    nc = cs.groupBy("corpus_doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_corpus")
    )
    common = (
        bs.join(cs, "__sh")
        .groupBy("batch_doc", "corpus_doc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    out = (
        common.join(nb, "batch_doc")
        .join(nc, "corpus_doc")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (
                F.col("n_batch") + F.col("n_corpus") - F.col("n_common")
            ).cast("double"),
        )
    )
    return out.filter(F.col("jaccard") >= min_jaccard).select(
        "batch_doc", "corpus_doc", "n_common", "n_batch", "n_corpus",
        "jaccard",
    )


def jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    pairs_distinct: bool = False,
) -> DataFrame:
    """Exact-Jaccard VERIFICATION of candidate pairs — the second half of
    the textbook LSH near-dup pipeline (candidates from
    :func:`minhash_lsh_candidates` say only "probably similar"; real
    dedup verifies before cutting). Per candidate pair, the true Jaccard
    over distinct ``shingle_n``-gram sets; pairs below ``min_jaccard``
    are dropped.

    Relational shape, candidate-bounded: distinct (doc, shingle) rows
    (cached — three consumers: per-doc sizes + both pair-side joins, S7)
    joined to the pair list on doc_a then on (doc_b, shingle) — the
    intersection count never materializes anything beyond
    |candidate pairs| × min(|A|,|B|) rows, so verification cost scales
    with the LSH output, not the corpus squared. The jaccard division is
    one IEEE expression over exact integer counts — deterministic
    cross-engine (the q_dedup_clusters rule).

    The pair list is ``distinct()``-ed up front (candidate-bounded,
    cheap): a duplicated (doc_a, doc_b) row would double ``n_common``
    through the intersection join while n_a/n_b stay fixed — jaccard >
    1 and a wrongly-surviving pair (ADVICE r9 #2). The island pattern
    applies (ADVICE r9 #1): the output is candidate-bounded and the
    corpus-sized shingle cache is released before returning — verified
    pairs are eagerly ``localCheckpoint``-ed at CALL time (the
    duplicated_spans discipline), so the returned frame holds no
    lineage into the freed cache.

    CAPPED-RUN CAVEAT (VERDICT r11 #4): when the upstream candidates
    came from a ``max_bucket``-capped LSH run, over-cap buckets emit a
    spanning STAR, not the clique — verified pairs are then COMPLETE at
    cluster grain (every member connects to the hub, so connected
    components recover the family; property-locked) but NOT at pair
    grain: two non-hub members of an over-cap bucket never appear as a
    direct pair. Any consumer reading PAIRS (not clusters) must check
    the candidates' ``n_capped_bands``/``from_capped_bucket`` columns
    before trusting pair completeness.

    Output: doc_a, doc_b, n_common, n_a, n_b, jaccard.
    """
    with Iteration() as it:
        sh = it.cache(
            shingle_rows(docs, id_col=id_col, text_col=text_col, n=shingle_n)
        )
        sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
        # pairs_distinct=True (r13): skip the dedup exchange when the caller
        # proves the pair list is already unique — e.g. it is the aggregated
        # (groupBy doc_a, doc_b) output of minhash_lsh_candidates. The
        # default stays safe: a duplicated pair would double n_common.
        p = pairs.select("doc_a", "doc_b")
        if not pairs_distinct:
            p = p.distinct()
        a = sh.select(F.col("doc").alias("doc_a"), "shingle")
        b = sh.select(F.col("doc").alias("doc_b"), "shingle")
        common = (
            p.join(a, "doc_a")
            .join(b, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
        sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
        out = (
            common.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn(
                "jaccard",
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                ),
            )
        )
        verified = out.filter(F.col("jaccard") >= min_jaccard).select(
            "doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard"
        )
        return it.result(it.checkpoint(verified).df)


def lsh_audit(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    min_jaccard: float = 0.5,
    hash_fn: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH recall/precision AUDIT — "measure, don't guess" made a
    first-class operator (north-star extension, SURVEY §2.11 — no
    reference counterpart): compare the banded candidate set against
    exact n-gram-Jaccard ground truth and report the confusion counts.
    The operational answer to "is (num_hashes, bands) tuned right for
    this corpus?" — run it on a sampled corpus slice before committing a
    banding config to a 100 TB dedup pass.

    - truth  = pairs with exact distinct-shingle Jaccard ≥ ``min_jaccard``
      (:func:`ngram_jaccard_pairs`, global — no blocking, the same pair
      universe LSH searches)
    - cand   = banded MinHash candidates
      (:func:`minhash_lsh_candidates`, same shingle grain)
    - n_misses (truth the bands never surfaced) are RECALL failures —
      the silent-data-loss direction; n_false_alarms are wasted
      verification work (harmless to correctness — jaccard_verify
      drops them).

    One full-outer join of two distinct pair sets, then a single global
    aggregate — one row, ALL-INTEGER (recall/precision are ratios of
    these counts; emitting them as doubles would NULL on an empty truth
    set and NULL doubles stringify asymmetrically cross-engine).

    Cost note: exact ground truth shares shingles via self-join — cost
    is Σ_shingle C(docs-containing,2), corpus-squared in the worst case.
    That is inherent to an audit (you are buying the true answer); run
    it at sample scale, not on the full corpus.

    ``max_bucket=`` passes through to :func:`minhash_lsh_candidates` —
    run the audit with the same cap the production pass will use; star
    pre-collapse shows up here as n_misses on non-hub pairs of over-cap
    buckets (PAIR recall honestly drops; CLUSTER recall through CC does
    not — property-locked in tests/test_properties.py).

    Output: one row (n_truth, n_candidates, n_hits, n_misses,
    n_false_alarms).
    """
    base = docs.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    )
    with Iteration() as it:
        # own the truth tier's shingles (3 consumers) and the uncapped
        # join's signatures (2) so both are FREED: the output is one row
        sh = it.cache(
            shingle_rows(base, id_col=id_col, text_col=text_col, n=shingle_n)
        )
        truth = ngram_jaccard_pairs(shingles=sh, min_jaccard=min_jaccard)
        sig = minhash_signatures(
            base, id_col=id_col, text_col=text_col, shingle_n=shingle_n,
            num_hashes=num_hashes, hash_fn=hash_fn,
        )
        if max_bucket is None:
            sig = it.cache(sig)
        cand = minhash_lsh_candidates(
            signatures=sig, num_hashes=num_hashes, bands=bands,
            max_bucket=max_bucket,
        )
        return it.result(
            it.checkpoint(_confusion_counts(truth, cand, ["doc_a", "doc_b"])).df
        )


def _confusion_counts(
    truth: DataFrame, cand: DataFrame, keys: list[str]
) -> DataFrame:
    """The audits' confusion counts of a candidate pair set against a
    truth pair set, both keyed by ``keys``: one full-outer join of the
    two, then one global aggregate — one ALL-INTEGER row (n_truth,
    n_candidates, n_hits, n_misses, n_false_alarms)."""
    j = truth.select(*keys, F.lit(1).alias("__t")).join(
        cand.select(*keys, F.lit(1).alias("__c")), keys, "full_outer"
    )

    def _n(cond: Column) -> Column:
        return F.coalesce(
            F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
        ).cast("bigint")

    t = F.col("__t").isNotNull()
    c = F.col("__c").isNotNull()
    return j.agg(
        _n(t).alias("n_truth"),
        _n(c).alias("n_candidates"),
        _n(t & c).alias("n_hits"),
        _n(t & ~c).alias("n_misses"),
        _n(~t & c).alias("n_false_alarms"),
    )


def connected_components(
    nodes: DataFrame | None,
    edges: DataFrame,
    *,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
    edges_pinned: bool = False,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over near-dup
    candidate pairs (LSH/Jaccard pairs only say "a~b"; picking one
    canonical doc per GROUP needs components). Output: ``node_col``,
    ``cluster_id`` (min node id reachable).

    ``nodes``: the node universe (a superset of the edge endpoints);
    singletons keep their own id via a lazy anti-join branch. ``None``
    labels the edge endpoints only, which is all a loser/keeper consumer
    (``cluster_id != id``) needs. Edges with a NULL endpoint are dropped
    (as in :func:`connected_components_bigstar`): no NULL node is labeled,
    and a node whose only edges have a NULL end is a singleton.

    ``edges_pinned``: promise that ``edges`` is already materialized (e.g.
    :func:`jaccard_verify` output); a lazy frame raises ValueError. The
    promise does not change the plan: the adjacency checkpoint reads the
    edges once either way.

    Min-label propagation: each node carries its neighbor list and starts
    at its own id; each round one :func:`_push` sends every label to the
    neighbors and a node takes the min of its label and theirs, until no
    label changes — ≤ diameter rounds; deeper graphs than ``max_iter``
    raise RuntimeError and belong to the bigstar form. The kept row
    carries the old label, so the changed count (labels never increase)
    rides the round's own job.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    if edges_pinned:
        require_pinned(edges)
    e = edges.filter(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
    lbl = F.col("lbl")
    # only the kept row has an out-list: its c is the old label
    old = F.min(F.when(F.col("out").isNotNull(), F.col("c"))).alias("old")

    def step(cur: Round) -> DataFrame:
        return _push(cur.df, lbl, lbl, F.min("c").alias("lbl"), old)

    with Iteration() as it:
        start = it.checkpoint(_neighbors(e, src_col, dst_col).withColumn("lbl", F.col("node")))
        labels = it.fixpoint(
            step,
            start,
            max_iter=max_iter,
            metrics=(F.sum((lbl < F.col("old")).cast("bigint")).alias("changed"),),
            converged=lambda prev, cur: not cur.seen["changed"],
            hint="connected_components: use connected_components_bigstar "
            "(O(log^2 n) rounds) or raise max_iter.",
        ).df.select("node", "lbl")
        if nodes is not None:
            passive = nodes.select(F.col(node_col).alias("node")).join(
                start.df.select("node"), "node", "left_anti"
            )
            labels = labels.union(passive.select("node", F.col("node").alias("lbl")))
        return it.result(
            labels.select(F.col("node").alias(node_col), F.col("lbl").alias("cluster_id"))
        )


def connected_components_bigstar(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 40,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log² n) rounds regardless of graph diameter (a 10⁶-long
    chain takes ~20), vs the O(diameter) rounds of
    :func:`connected_components`, with the same output contract (any
    orderable id type). Not converging within ``max_iter`` rounds raises
    RuntimeError.

    - large-star: for each node u, hook every neighbor v > u onto
      m = min({u} ∪ N(u)).
    - small-star: orient edges (big, small); hook every small neighbor and
      u itself onto m = min of that star.

    Each round is two groupBy-min passes over the edge set only. At the
    fixpoint the edges are the star forest {(u, component_min)}; labels
    read off it with one left join (singletons keep their own id). Edges
    with a NULL endpoint are dropped, so no NULL node is labeled. Each
    round's checkpoint counts its edges and observes a checksum (xxhash64
    mod 2^30 summed, in range up to ~2^33 edges under ANSI); the exact
    ``exceptAll`` proof runs only when both match the previous round.

    ``stats``: optional dict; ``stats["rounds"]`` is set to the number of
    large+small iterations executed and ``stats["per_round"]`` to one
    ``(round, rows, wall_s)`` record each (rows: the round's edge count).
    """

    def step(cur: Round) -> DataFrame:
        # large-star: symmetrize, per-u min over {u} ∪ N(u), hook v > u
        e = cur.df
        sym = e.union(e.select(F.col("__v").alias("__u"), F.col("__u").alias("__v")))
        mins = sym.groupBy("__u").agg(F.min("__v").alias("__nm")).select(
            "__u", F.least("__u", "__nm").alias("__m")
        )
        e_large = (
            sym.join(mins, "__u")
            .filter(F.col("__v") > F.col("__u"))
            .select(F.col("__v").alias("__u"), F.col("__m").alias("__v"))
            .filter(F.col("__u") != F.col("__v"))
            .distinct()
        )
        # small-star: orient (big, small), per-u min, hook smalls and u
        oriented = e_large.select(
            F.greatest("__u", "__v").alias("__u"), F.least("__u", "__v").alias("__v")
        )
        hooked = oriented.join(
            oriented.groupBy("__u").agg(F.min("__v").alias("__m")), "__u"
        )
        return (
            hooked.select(F.col("__v").alias("__u"), F.col("__m").alias("__v"))
            .union(hooked.select(F.col("__u"), F.col("__m").alias("__v")))
            .filter(F.col("__u") != F.col("__v"))
            .distinct()
        )

    checksum = F.sum(F.pmod(F.xxhash64("__u", "__v"), F.lit(1 << 30))).alias("ck")
    with Iteration() as it:
        start = it.checkpoint(
            edges.select(F.col(src_col).alias("__u"), F.col(dst_col).alias("__v"))
            .filter(F.col("__u") != F.col("__v"))
            .filter(F.col("__u").isNotNull() & F.col("__v").isNotNull())
            .distinct(),
            checksum,
        )
        e = it.fixpoint(
            step,
            start,
            max_iter=max_iter,
            metrics=(checksum,),
            converged=lambda prev, cur: (cur.rows, cur.seen) == (prev.rows, prev.seen)
            and cur.df.exceptAll(prev.df).isEmpty(),
            hint="connected_components_bigstar: raise max_iter.",
        ).df
        if stats is not None:
            stats.update(rounds=it.rounds, per_round=it.records)
        roots = e.groupBy(F.col("__u").alias("__n")).agg(F.min("__v").alias("__root"))
        return it.result(
            nodes.select(F.col(node_col).alias("__n"))
            .join(roots, "__n", "left")
            .select(
                F.col("__n").alias(node_col),
                F.coalesce("__root", "__n").alias("cluster_id"),
            )
        )


def embedding_cosine_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    min_cosine: float = 0.9,
    max_block_rows: int | None = 20_000,
) -> DataFrame:
    """Embedding near-dup pairs: all-pairs cosine within a blocking key
    (label, LSH bucket, ...). Output: id_a, id_b, cosine.

    EXACT but quadratic per block — a hot block with N vectors generates
    O(N²) candidates. This is the oracle-checkable small/medium path; at
    scale use :func:`embed_lsh_pairs`, whose banded sign-LSH
    bounds candidate generation by bucket size (the same candidates→verify
    shape as :func:`minhash_lsh_candidates`).

    ``max_block_rows`` is the guard that keeps this calibration tier from
    being pointed at a warehouse corpus by accident: one cheap id-only
    count per block up front, and a ``ValueError`` if any block exceeds it
    (N=20k already means ~2×10⁸ pairs in that block). Pass ``None`` to
    disable, explicitly, once you have decided the quadratic cost is what
    you want."""
    v = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vid"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
        to_double_array(vec_col).alias("vec"),
    )
    # norms once per VECTOR, not per pair (cosine_from_norms — the
    # fused form recomputes both sqrt-of-sum-of-squares per candidate)
    v = v.withColumn("nrm", l2_norm(F.col("vec")))
    if max_block_rows is not None:
        counts = (
            v.groupBy("blk") if block_col else v.groupBy()
        ).agg(F.count("*").alias("n"))
        worst = counts.agg(F.max("n")).first()[0] or 0
        if worst > max_block_rows:
            raise ValueError(
                f"embedding_cosine_pairs: largest block has {worst} rows "
                f"(> max_block_rows={max_block_rows}); quadratic pair "
                f"generation would emit ~{worst * (worst - 1) // 2} "
                "candidates in that block alone. Use "
                "embed_lsh_pairs (bounded sign-LSH buckets), a "
                "finer block_col, or pass max_block_rows=None to override."
            )
    a = v.alias("a")
    b = v.alias("b")
    cond = F.col("a.vid") < F.col("b.vid")
    if block_col:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    cos = cosine_from_norms(
        F.col("a.vec"), F.col("b.vec"), F.col("a.nrm"), F.col("b.nrm")
    )
    return (
        a.join(b, cond, "inner")
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(
            # explicit NaN policy: BOTH engines compare NaN as greater than
            # everything (NaN >= t is TRUE in Spark and DuckDB 1.0+), but
            # they don't produce the same degenerate value — Spark's cosine
            # yields NaN for a zero/NaN vector while DuckDB's
            # list_cosine_similarity yields -1.0 (ADVICE r2 #2). The
            # explicit isnan filter drops those rows on the Spark side so
            # the pair sets agree on every engine version.
            ~F.isnan("cosine")
            & (F.col("cosine") >= min_cosine)
        )
    )


def _rademacher_planes(tables: int, bits: int, dim: int):
    """Deterministic ±1 (Rademacher) hyperplanes for sign-LSH, derived
    from md5 so BOTH engines can regenerate them: weight(t, j, d) = +1
    iff the first hex char of md5(f"{t}:{j}:{d}") is < '8' (top bit of
    the digest — a fair coin). Random-±1 hyperplanes are the standard
    practical SimHash family for vectors (Charikar STOC'02 §4 uses
    random hyperplanes; ±1 entries preserve the collision-probability
    analysis up to constants), and unlike seeded-numpy Gaussians the
    md5 derivation is replayable inside a DuckDB oracle — the same
    exact-integer-twin move as ``simhash(hash_fn='md5')``."""
    import hashlib

    return [
        (
            t,
            j,
            [
                1
                if hashlib.md5(f"{t}:{j}:{d}".encode()).hexdigest()[0] < "8"
                else -1
                for d in range(dim)
            ],
        )
        for t in range(tables)
        for j in range(bits)
    ]


def _auto_bits(n_vectors: int) -> int:
    """Scale-aware bucket width: ``bits ≈ log2(N) + 4`` (CLAUDE.md rule,
    VERDICT r12 #1) — enough cells that an N-vector table averages
    ~1/16 vector per cell, clamped to [8, 62]. 8 bits (the old fixed
    default) is vacuous beyond a few hundred vectors: every vector
    collides somewhere and the candidate stage degenerates toward
    all-pairs."""
    import math

    return min(62, max(8, math.ceil(math.log2(max(n_vectors, 2))) + 4))


# Sign-LSH components quantize to floor(v·1e9) bigints (quantize_sql):
# the dots over them are exact integers, so bucket ids replay in any
# engine.
_EMBED_SCALE = 10**9


def _sign_bucket_exprs(tables: int, bits: int, n_probes: int):
    """(dss, barr) Column pair for :func:`embed_sign_buckets`, over a
    row with the vector ``v`` and the plane family ``planes``
    (``planes[t*bits + j]`` — :func:`_rademacher_planes` iterates
    t-major, j-minor). ``dss`` computes the per-vector exact-integer dot
    grid (quantize bound ONCE via the single-element-transform LET
    idiom — see embed_sign_buckets); ``barr`` folds each table's dots
    into the bucket id (+ the ``n_probes`` least-confident Hamming-1
    probe buckets). The SQL text carries no plane ints, so it is a
    cheap parse per call."""
    # quantize ONCE per row via the single-element-transform LET idiom,
    # then every (t, j) dot reads the bound q
    quant_sql = quantize_sql("v", _EMBED_SCALE)
    dot_sql = (
        f"aggregate(zip_with(q, element_at(planes, "
        f"t * {bits} + j + 1), (x, y) -> x * CAST(y AS BIGINT)), "
        "CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    dss_sql = (
        f"element_at(transform(array({quant_sql}), q -> "
        f"transform(sequence(0, {tables - 1}), t -> "
        f"transform(sequence(0, {bits - 1}), j -> {dot_sql}))), 1)"
    )
    bucket_sql = (
        f"aggregate(sequence(0, {bits - 1}), CAST(0 AS BIGINT), "
        "(acc, j) -> acc + IF(element_at(ds, j + 1) > 0, "
        "shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))"
    )
    if n_probes == 0:
        barr_sql = f"transform(dss, ds -> array({bucket_sql}))"
    else:
        # least-confident bits first: sort (|dot|, j) asc, flip each of
        # the first n_probes via XOR — bucket recomputed inline per
        # probe (bits adds each, trivial next to the dot pass)
        probes_sql = (
            f"transform(slice(array_sort(transform(sequence(0, "
            f"{bits - 1}), j -> struct(abs(element_at(ds, j + 1)) AS a, "
            f"j AS j))), 1, {n_probes}), s -> "
            f"CAST({bucket_sql} ^ shiftleft(CAST(1 AS BIGINT), s.j) "
            "AS BIGINT))"
        )
        barr_sql = (
            f"transform(dss, ds -> concat(array({bucket_sql}), "
            f"{probes_sql}))"
        )
    return F.expr(dss_sql), F.expr(barr_sql)


def embed_sign_buckets(
    df: DataFrame,
    *,
    dim: int,
    tables: int = 4,
    bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 0,
) -> DataFrame:
    """Sign-LSH bucket assignment per vector — the HASH PASS of the
    incremental embedding-dedup tier (VERDICT r11 #3): each of
    ``tables`` independent Rademacher tables maps a vector to a
    ``bits``-bit integer bucket; vectors sharing a (table, bucket) cell
    are near-dup candidates. Deterministic and engine-replayable end to
    end: ±1 planes from :func:`_rademacher_planes` (md5-derived),
    components quantized to floor(v·1e9) bigints, dot products and the
    bucket's bit-OR all exact integers — no float ever crosses an
    engine boundary, so the persisted artifact can be value-hashed by
    a DuckDB oracle.

    ``bits`` (r13, VERDICT r12 #1): default ``None`` derives
    ``bits = clamp(ceil(log2(N)) + 4, 8, 62)`` from ONE ``count()`` of
    the input (:func:`_auto_bits`) — the old fixed ``8`` was vacuous
    beyond a few hundred vectors. Pass ``bits`` explicitly whenever the
    buckets must match a persisted table's plane family (the whole
    vs-corpus tier requires it).

    Plan shape (100 TB notes, r13 rewrite — VERDICT r12 #2): the plane
    family is ONE foldable array literal inside a single projection —
    per vector, ``transform`` over tables × ``aggregate`` over bits
    computes every bucket with ZERO shuffle and no intermediate
    tables×bits row inflation (the old broadcast-join + groupBy form
    shuffled N·tables rows; the dot_topk_int8 array-grain lesson
    applied). The quantized vector is bound ONCE per row via the
    single-element-transform LET idiom —
    ``element_at(transform(array(<quantize>), q -> <body>), 1)`` — a
    lambda variable is evaluated once and referenced freely, where a
    projected ``q`` alias referenced by only one top-level expression
    gets INLINED by CollapseProject and re-quantized per (table, bit)
    (measured at 1M×64: let-bind 15.0 s, per-bit re-quantize 23.4 s,
    old join form 19-20 s). The planes enter as DATA, not SQL text:
    one JSON string literal parsed by ``from_json`` into an
    ``array<array<int>>`` column, which Catalyst constant-folds into
    the same array literal at every family size (no ``from_json``
    survives optimization), so one form serves every size and
    ``n_probes`` works everywhere.

    ``n_probes`` (r13, VERDICT r12 #8): QUERY-SIDE multi-probe — per
    table, also emit the ``n_probes`` Hamming-1 neighbor buckets
    obtained by flipping the bits with the SMALLEST |dot| (the least
    confident sign decisions, ties broken by bit index — deterministic
    and oracle-replayable). Raises recall for family members that
    missed a cell by one marginal plane, at (1+n_probes)× candidate
    volume. NEVER use when persisting an artifact — probes are for the
    batch side of a lookup, not for at-rest state.

    Output: (``id_col``, tbl, bucket) — ``tables``·(1+``n_probes``)
    rows per vector.
    """
    if bits is None:
        bits = _auto_bits(df.count())
    if not 1 <= bits <= 62:
        raise ValueError(f"bits must be in [1, 62], got {bits}")
    if tables < 1:
        raise ValueError(f"tables must be >= 1, got {tables}")
    if not 0 <= n_probes <= bits:
        raise ValueError(
            f"n_probes must be in [0, bits={bits}], got {n_probes}"
        )
    planes = [w for _t, _j, w in _rademacher_planes(tables, bits, dim)]
    v = quantizable(df, dim=dim, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.from_json(F.lit(json.dumps(planes)), "array<array<int>>").alias(
            "planes"
        ),
    )
    dss_expr, barr_expr = _sign_bucket_exprs(tables, bits, n_probes)
    return (
        v.select("vid", dss_expr.alias("dss"))
        .select("vid", F.posexplode(barr_expr).alias("tbl", "barr"))
        .select(
            F.col("vid").alias(id_col),
            "tbl",
            F.explode("barr").alias("bucket"),
        )
    )


def _embed_lsh_candidates(
    df: DataFrame,
    *,
    dim: int,
    tables: int,
    bits: int,
    id_col: str,
    vec_col: str,
    max_bucket: int | None,
) -> DataFrame:
    """WITHIN-SET sign-LSH candidate pairs (vid_a < vid_b, distinct) —
    the shared candidate generator behind :func:`embed_lsh_pairs` and
    :func:`embed_lsh_audit` (one producer so the audited candidate set
    IS the production candidate set, the _hot_bucket_edges rule).
    ``max_bucket=`` routes over-cap cells through the shared star
    guard; both paths pin a bounded frame (see embed_lsh_pairs)."""
    b = embed_sign_buckets(
        df, dim=dim, tables=tables, bits=bits, id_col=id_col, vec_col=vec_col
    ).select(F.col(id_col).alias("vid"), "tbl", "bucket")
    if max_bucket is None:
        bb = b.localCheckpoint()  # hash pass runs once, both join sides
        return (
            bb.alias("a")
            .join(
                bb.alias("b"),
                (F.col("a.tbl") == F.col("b.tbl"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.vid") < F.col("b.vid")),
            )
            .select(F.col("a.vid").alias("vid_a"), F.col("b.vid").alias("vid_b"))
            .distinct()
        )
    with Iteration() as it:
        edges = _hot_bucket_edges(
            it, b, keys=["tbl", "bucket"], id_col="vid", max_bucket=max_bucket
        )
        return it.result(
            it.checkpoint(edges.select("vid_a", "vid_b").distinct()).df
        )


def embed_lsh_audit(
    df: DataFrame,
    *,
    dim: int,
    tables: int = 8,
    bits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.9,
    max_bucket: int | None = None,
) -> DataFrame:
    """Sign-LSH recall/precision AUDIT for the EMBEDDING tier — the
    :func:`lsh_audit` pattern at the vector grain (VERDICT r12 #1:
    "measure, don't guess" for the most parameter-sensitive recall in
    the repo): compare the banded sign-LSH candidate set against exact
    brute-force-cosine ground truth and report the confusion counts.
    The operational answer to "are (tables, bits) tuned right for this
    corpus?" — run it on a sampled slice before committing a plane
    family to a persisted bucket table (bits ≈ log2(N)+4 is the prior;
    this measures whether it holds on YOUR similarity regime).

    - truth = pairs with exact cosine ≥ ``min_cosine`` over the SAME
      hashable universe LSH searches (non-NULL, exact-dim, finite —
      unhashable vectors can't be candidates, so counting them as truth
      would charge LSH for pairs it was never shown); NaN-cosine pairs
      dropped (the embedding_cosine_pairs rule).
    - cand = :func:`_embed_lsh_candidates` — the EXACT production
      candidate generator, so the audit measures the shipped path.
    - n_misses are RECALL failures (the silent-data-loss direction);
      n_false_alarms are wasted verify work (harmless — the cosine
      verify drops them).

    One full-outer join of two distinct pair sets → a single global
    aggregate — one ALL-INTEGER row (the lsh_audit rule: ratio doubles
    would NULL on an empty truth set and NULL doubles stringify
    asymmetrically cross-engine).

    Cost note: ground truth is a brute-force all-pairs self-join —
    quadratic BY DESIGN (you are buying the true answer); run at sample
    scale, never on the full corpus. ``max_bucket=`` passes through so
    the audit runs with the production cap; star pre-collapse shows up
    honestly as n_misses on non-hub pairs of over-cap cells.

    Output: one row (n_truth, n_candidates, n_hits, n_misses,
    n_false_alarms).
    """
    vecs = (
        quantizable(df, dim=dim, id_col=id_col, vec_col=vec_col)
        .select(F.col(id_col).alias("vid"), to_double_array(vec_col).alias("vec"))
        .withColumn("nrm", l2_norm(F.col("vec")))
    )
    cos = cosine_from_norms(
        F.col("a.vec"), F.col("b.vec"), F.col("a.nrm"), F.col("b.nrm")
    )
    truth = (
        vecs.alias("a")
        .join(vecs.alias("b"), F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("vid_a"),
            F.col("b.vid").alias("vid_b"),
            cos.alias("cosine"),
        )
        .filter(~F.isnan("cosine") & (F.col("cosine") >= min_cosine))
    )
    cand = _embed_lsh_candidates(
        df, dim=dim, tables=tables, bits=bits, id_col=id_col,
        vec_col=vec_col, max_bucket=max_bucket,
    )
    return _confusion_counts(truth, cand, ["vid_a", "vid_b"])


def embed_lsh_pairs(
    df: DataFrame,
    *,
    dim: int,
    tables: int = 8,
    bits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.9,
    max_bucket: int | None = None,
) -> DataFrame:
    """WITHIN-SET embedding near-dup pairs over the deterministic
    Rademacher sign-LSH (:func:`embed_sign_buckets`) + exact-cosine
    verify — the scale tier whose exact twin is
    :func:`embedding_cosine_pairs` (r12 graduation, VERDICT r11 #8):
    bucket ids are exact integers both engines reproduce, so the
    candidate SET (not just its statistics) replays in DuckDB.
    Candidate volume is bounded by cell size, never all-pairs;
    ``max_bucket=`` routes over-cap cells through the shared
    :func:`_hot_bucket_edges` star guard. Recall is the standard
    sign-LSH curve ((1-θ/π)^bits per table) — probabilistic in the
    DATA but deterministic in the ENGINE, which is what an oracle
    needs — and what :func:`embed_lsh_audit` measures against exact
    ground truth at sample scale. Output: id_a, id_b, cosine
    (NaN-cosine pairs dropped, the embedding_cosine_pairs rule).

    Storage note (ADVICE r12 #3): both candidate paths pin a bounded
    frame with a localCheckpoint that lives until session end — the
    dot_topk_int8 accumulation pattern. Bounded per call and tracked by
    the rehearsal's BDRR_STORAGE_BOUND_MB ledger; a long-lived session
    making many calls accumulates one pinned RDD per call."""
    cand = _embed_lsh_candidates(
        df, dim=dim, tables=tables, bits=bits, id_col=id_col,
        vec_col=vec_col, max_bucket=max_bucket,
    )
    vecs = df.filter(
        F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(F.col(id_col).alias("vid"), to_double_array(vec_col).alias("vec"))
    vecs = vecs.withColumn("nrm", l2_norm(F.col("vec")))
    cos = cosine_from_norms(
        F.col("va.vec"), F.col("vb.vec"), F.col("va.nrm"), F.col("vb.nrm")
    )
    return (
        cand.join(vecs.alias("va"), F.col("vid_a") == F.col("va.vid"))
        .join(vecs.alias("vb"), F.col("vid_b") == F.col("vb.vid"))
        .select(
            F.col("vid_a").alias("id_a"),
            F.col("vid_b").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(~F.isnan("cosine") & (F.col("cosine") >= min_cosine))
    )


def embed_bucket_table(
    df: DataFrame,
    path: str,
    *,
    dim: int,
    tables: int = 4,
    bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Persisted sign-LSH bucket table ``(id, tbl, bucket)`` — the
    at-rest artifact for INCREMENTAL embedding dedup (VERDICT r11 #3;
    the minhash_signatures_table pattern at the embedding grain):
    corpus vectors are hashed ONCE per snapshot; a daily batch is
    compared against this table (:func:`embed_candidates_vs_corpus`)
    without re-reading or re-hashing corpus vectors. ``mode="append"``
    commits a batch's buckets (doc-disjoint increments). LSH params
    (dim/tables/bits) must match across snapshot and batches — they
    define the plane family, so ``bits`` is REQUIRED here (r13, VERDICT
    r12 #1): an artifact with silently-defaulted ``bits`` cannot be
    queried correctly later. Rule of thumb: ``bits ≈ log2(N) + 4``
    (:func:`_auto_bits` computes it from a count if you need a
    starting point); :func:`embed_lsh_audit` measures whether the
    choice holds on a corpus sample."""
    if bits is None:
        raise ValueError(
            "embed_bucket_table requires explicit bits= — the persisted "
            "plane family must be reproducible by every later batch "
            "(rule of thumb: bits ≈ log2(N)+4; see embed_lsh_audit)"
        )
    embed_sign_buckets(
        df, dim=dim, tables=tables, bits=bits, id_col=id_col, vec_col=vec_col
    ).write.mode(mode).parquet(path)


def embed_candidates_vs_corpus(
    batch: DataFrame,
    corpus_buckets: DataFrame,
    *,
    dim: int,
    tables: int = 4,
    bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_batch: bool = True,
    max_bucket: int | None = None,
    n_probes: int = 0,
) -> DataFrame:
    """Bipartite sign-LSH candidates between a NEW batch and a persisted
    corpus bucket table — the embedding twin of
    :func:`minhash_lsh_candidates_vs_corpus` (VERDICT r11 #3): the
    batch is hashed with the SAME md5-derived plane family, banded
    batch buckets are (by default) broadcast past a scan of the at-rest
    table, and candidates are (batch, corpus) vectors sharing any
    (tbl, bucket) cell. No corpus vector is read or re-hashed.

    HOT-BUCKET GUARD (``max_bucket=``): same corpus-side cap as the
    minhash twin — only the ``max_bucket`` smallest corpus ids per
    (tbl, bucket) cell join (a 10⁵-strong re-encoded-upload family
    otherwise floods the verify stage from one cell); never silent —
    the output gains ``max_bucket_overflow``. A capped batch doc still
    meets up to ``max_bucket`` family representatives, so the "is this
    a dup of the family" decision survives (pair-grain completeness
    does not — the :func:`jaccard_verify` caveat applies).

    MULTI-PROBE (``n_probes``, r13 — VERDICT r12 #8): the BATCH side
    also probes, per table, the ``n_probes`` Hamming-1 neighbor buckets
    whose sign decisions were least confident (smallest |dot| — see
    :func:`embed_sign_buckets`). Single-probe banding splits families
    whose members miss a cell by one marginal plane (the 6-of-20k
    keeper datapoint); probing trades (1+n_probes)× candidate volume
    for that recall. The persisted table is UNTOUCHED — probes are
    query-side only, so the artifact stays probe-free. A batch-corpus
    pair can still match at most once per table (probe buckets differ
    from the main bucket and each other by construction), so
    ``n_shared_tables`` keeps its meaning.

    ``bits`` is REQUIRED (r13, VERDICT r12 #1): it must equal the
    persisted table's plane family; deriving a default from the BATCH
    size would silently mismatch the corpus family and report zero
    candidates.

    Output: batch_vid, corpus_vid, n_shared_tables
    (+ max_bucket_overflow when capped).
    """
    if bits is None:
        raise ValueError(
            "embed_candidates_vs_corpus requires explicit bits= matching "
            "the corpus bucket table's plane family (a batch-derived "
            "default would silently produce zero candidates)"
        )
    bb = embed_sign_buckets(
        batch, dim=dim, tables=tables, bits=bits, id_col=id_col,
        vec_col=vec_col, n_probes=n_probes,
    ).select(F.col(id_col).alias("bvid"), "tbl", "bucket")
    if broadcast_batch:
        bb = F.broadcast(bb)
    cb = corpus_buckets.select(
        F.col(id_col).alias("cvid"), "tbl", "bucket"
    )
    aggs = [F.count(F.lit(1)).alias("n_shared_tables")]
    if max_bucket is not None:
        from pyspark.sql import Window

        # corpus-side cap (the minhash vs-corpus shape): full-partition
        # window — bsz must count dropped members for the audit column,
        # so no WindowGroupLimit pushdown; still linear per cell
        wo = Window.partitionBy("tbl", "bucket").orderBy("cvid")
        wc = Window.partitionBy("tbl", "bucket")
        cb = (
            cb.select(
                "cvid",
                "tbl",
                "bucket",
                F.row_number().over(wo).alias("rn"),
                F.count(F.lit(1)).over(wc).alias("bsz"),
            )
            .filter(F.col("rn") <= max_bucket)
            .select(
                "cvid",
                "tbl",
                "bucket",
                F.greatest(F.col("bsz") - max_bucket, F.lit(0)).alias(
                    "n_dropped"
                ),
            )
        )
        aggs.append(F.max("n_dropped").alias("max_bucket_overflow"))
    return (
        cb.alias("c")
        .join(
            bb.alias("b"),
            (F.col("c.tbl") == F.col("b.tbl"))
            & (F.col("c.bucket") == F.col("b.bucket")),
            "inner",
        )
        .groupBy(
            F.col("b.bvid").alias("batch_vid"),
            F.col("c.cvid").alias("corpus_vid"),
        )
        .agg(*aggs)
    )


def semdedup_apply_vs_corpus(
    batch: DataFrame,
    corpus_buckets: DataFrame,
    corpus_vectors: DataFrame,
    *,
    dim: int,
    tables: int = 4,
    bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.9,
    max_bucket: int | None = None,
    n_probes: int = 0,
) -> DataFrame:
    """Incremental SemDeDup APPLY (Abbas et al. 2023, daily-delta form;
    VERDICT r11 #3 completes the incremental family's embedding grain):
    LSH candidates vs the persisted bucket table
    (:func:`embed_candidates_vs_corpus`) → exact-cosine verify on the
    candidate pairs ONLY (corpus vectors are fetched by id for just the
    candidates — an equi join bounded by the candidate count, never a
    corpus-wide vector scan) → batch rows whose best corpus cosine ≥
    ``min_cosine`` are dropped as semantic dups of the existing corpus;
    survivors are the rows to append. Unhashable batch rows (NULL /
    wrong-dim / non-finite vectors) cannot be compared and SURVIVE —
    the q_dedup_exact NULL discipline.

    ``bits`` is REQUIRED — it must match the persisted bucket table's
    plane family (the :func:`embed_candidates_vs_corpus` rule);
    ``n_probes`` passes through to the batch-side multi-probe.

    Returns the batch's surviving rows (all batch columns).
    """
    cands = embed_candidates_vs_corpus(
        batch,
        corpus_buckets,
        dim=dim,
        tables=tables,
        bits=bits,
        id_col=id_col,
        vec_col=vec_col,
        max_bucket=max_bucket,
        n_probes=n_probes,
    ).select("batch_vid", "corpus_vid")
    cv = corpus_vectors.select(
        F.col(id_col).alias("corpus_vid"),
        to_double_array(vec_col).alias("cvec"),
    ).withColumn("cnrm", l2_norm(F.col("cvec")))
    bv = batch.select(
        F.col(id_col).alias("batch_vid"),
        to_double_array(vec_col).alias("bvec"),
    ).withColumn("bnrm", l2_norm(F.col("bvec")))
    cos = cosine_from_norms(
        F.col("bvec"), F.col("cvec"), F.col("bnrm"), F.col("cnrm")
    )
    dupes = (
        cands.join(bv, "batch_vid")
        .join(cv, "corpus_vid")
        .select("batch_vid", cos.alias("cosine"))
        .filter(~F.isnan("cosine") & (F.col("cosine") >= min_cosine))
        .select(F.col("batch_vid").alias(id_col))
        .distinct()
    )
    return batch.join(dupes, id_col, "left_anti")


def winnowing_fingerprints(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Robust winnowing document fingerprints (Schleimer, Wilkerson &
    Aiken, SIGMOD 2003 §4 — the MOSS algorithm): hash every k-gram,
    slide a window of ``w`` consecutive gram hashes, and select each
    window's RIGHTMOST minimum. The selected set has expected density
    2/(w+1) and carries the winnowing GUARANTEE: any substring match of
    length ≥ w+k-1 tokens shares at least one fingerprint — the
    position-aware fourth fingerprint tier next to MinHash (set
    resemblance), SimHash (weighted bits) and the Lee-et-al. span pass
    (exact substrings). North-star extension (SURVEY §2.11), no
    reference counterpart.

    Relational shape: gram rows (tokenize-once lead windows, the
    shingle_rows pattern with positions kept) → each gram explodes to
    the ≤ ``w`` windows containing it (w× row inflation — w is small by
    design; the same explode replays in DuckDB, which is what makes the
    md5 tier value-hashable) → per (doc, window) rightmost-min by ONE
    row_number over (hash asc, pos desc) → distinct selected grams.
    The whole chain is ONE exchange (hash by doc, plan-locked in
    tests/test_plans.py): the (doc, j) window and the final distinct
    both ride the doc partitioning — Spark's subset-clustering rule
    (hashpartitioning(doc) satisfies ClusteredDistribution over any
    superset of {doc}), so only in-partition sorts follow the shuffle.
    Docs shorter than w+k-1 tokens still fingerprint (their single
    clamped window selects one gram; sub-k docs fingerprint their one
    partial gram). ``hash_fn='md5'`` is the oracle tier (lexicographic
    min over fixed-width hex); xxhash64 the scale tier (8-byte keys).

    Output: (doc, pos, fp) — selected gram positions and hashes.
    """
    if w < 1:
        raise ValueError(f"w must be >= 1, got {w}")
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"hash_fn must be xxhash64|md5, got {hash_fn}")
    from pyspark.sql import Window

    tok = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("doc"),
        F.posexplode(ws_tokens(text_col)).alias("pos", "tok"),
    )
    wd = Window.partitionBy("doc").orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", j).over(wd) for j in range(1, k)]
    grams = tok.select(
        "doc",
        "pos",
        F.concat_ws(" ", *leads).alias("gram"),
        leads[-1].isNotNull().alias("full"),
        F.count(F.lit(1)).over(Window.partitionBy("doc")).alias("doc_len"),
    ).filter(
        F.col("full") | ((F.col("pos") == 0) & (F.col("doc_len") < k))
    )
    h = (
        F.xxhash64("gram") if hash_fn == "xxhash64" else F.md5("gram")
    )
    g = grams.select(
        "doc",
        "pos",
        h.alias("h"),
        F.count(F.lit(1)).over(Window.partitionBy("doc")).alias("npos"),
    )
    # windows j containing gram pos: [max(pos-w+1, 0), min(pos, npos-w)],
    # clamped so short docs keep exactly one window (j = 0)
    lo = F.greatest(F.col("pos") - F.lit(w - 1), F.lit(0))
    hi = F.least(F.col("pos"), F.greatest(F.col("npos") - F.lit(w), F.lit(0)))
    wnd = g.select(
        "doc", "pos", "h", F.explode(F.sequence(lo, hi)).alias("j")
    )
    pick = (
        wnd.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("doc", "j").orderBy(
                    F.col("h").asc(), F.col("pos").desc()
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .select("doc", "pos", F.col("h").alias("fp"))
        .distinct()
    )
    return pick


def winnowing_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    hash_fn: str = "xxhash64",
    min_common: int = 2,
    max_fp_docs: int | None = None,
) -> DataFrame:
    """MOSS-style near-dup candidate pairs by shared winnowing
    fingerprints (:func:`winnowing_fingerprints`): docs sharing ≥
    ``min_common`` distinct selected hashes, with per-doc fingerprint
    counts so a consumer can compute containment/resemblance. The
    winnowing guarantee makes this the detector for LOCAL overlap
    (shared passages ≥ w+k-1 tokens) that set-grain MinHash dilutes
    away on long documents.

    ``max_fp_docs=`` drops fingerprints present in more than that many
    docs before pairing — MOSS's ignore-too-common rule: boilerplate
    hashes are noise AND the hot join keys (a fingerprint shared by B
    docs emits B(B-1)/2 pairs — the LSH hot-bucket geometry; the cap is
    the equivalent guard, never silent: capped hashes simply don't
    count toward n_common, exactly like MOSS).

    Output: doc_a, doc_b, n_common, n_a, n_b (all integers).
    """
    fp = winnowing_fingerprints(
        df, id_col=id_col, text_col=text_col, k=k, w=w, hash_fn=hash_fn
    ).select("doc", "fp").distinct()
    if max_fp_docs is not None:
        keep = (
            fp.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__nd"))
            .filter(F.col("__nd") <= max_fp_docs)
            .select("fp")
        )
        fp = fp.join(keep, "fp", "left_semi")
    # one hash pass feeds counts + both join sides (ReuseExchange does
    # not dedupe a shared subtree — S7 discipline). cache(), NOT an
    # eager localCheckpoint: the (doc, fp) set is corpus-proportional
    # (narrow — ~16 B/fingerprint, density 2/(w+1) of grams) and only
    # backs the lazy return, the minhash_lsh_candidates lifetime class;
    # an evictable cache keeps executor storage honest at 10M+ docs
    # where a pinned checkpoint would cross the storage-ledger bound.
    fp = fp.cache()
    cnt = fp.groupBy("doc").agg(F.count(F.lit(1)).alias("nf"))
    pairs = (
        fp.alias("a")
        .join(
            fp.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    return (
        pairs.join(
            cnt.select(F.col("doc").alias("doc_a"), F.col("nf").alias("n_a")),
            "doc_a",
        )
        .join(
            cnt.select(F.col("doc").alias("doc_b"), F.col("nf").alias("n_b")),
            "doc_b",
        )
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
    )


def winnowing_fingerprint_table(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    hash_fn: str = "xxhash64",
    mode: str = "overwrite",
) -> None:
    """Persisted winnowing fingerprint table ``(doc, pos, fp)`` — the
    at-rest artifact for INCREMENTAL winnowing dedup (the
    minhash_signatures_table pattern at the fingerprint grain): corpus
    text is tokenized and winnowed ONCE per snapshot; a daily batch is
    compared against this table (select (doc, fp) distinct →
    :func:`jaccard_pairs_vs_corpus`) without re-reading corpus text.
    ``mode="append"`` commits doc-disjoint increments. (k, w, hash_fn)
    define the fingerprint family and must match across snapshot and
    batches."""
    winnowing_fingerprints(
        df, id_col=id_col, text_col=text_col, k=k, w=w, hash_fn=hash_fn
    ).write.mode(mode).parquet(path)


def contamination_check(
    train_df: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Benchmark-decontamination check: for every eval document, the share
    of its distinct ``shingle_n``-gram shingles that appear ANYWHERE in the
    training corpus — the n-gram-containment test used to purge eval/test
    overlap from LLM training data. North-star extension (SURVEY §2.11) —
    no reference counterpart.

    Relational shape: distinct train shingles (one corpus-wide set, the
    only big shuffle) LEFT-SEMI-joined against per-eval-doc shingles, then
    two counts per eval doc. ``contaminated`` is integer arithmetic
    (matched·2 ≥ total ⇔ ≥50% containment) — no float division, so the
    flag is cross-engine-exact. At 100 TB, join on ``xxhash64(shingle)``
    (8-byte keys) instead of the raw shingle string and the semi-join
    shuffles hashes, not text; the string join here keeps DuckDB oracle
    parity. Output: id, n_shingles, n_matched, contaminated."""
    # distinct=False: the train side only needs the corpus-wide shingle SET,
    # so the per-doc (doc, shingle) distinct would be a wasted exchange —
    # one distinct on the shingle alone suffices (and combines map-side).
    tr = (
        shingle_rows(
            train_df, id_col=id_col, text_col=text_col, n=shingle_n,
            distinct=False,
        )
        .select("shingle")
        .distinct()
    )
    ev = shingle_rows(eval_df, id_col=id_col, text_col=text_col, n=shingle_n)
    # ONE pass (r13): the checked side's shingles are per-doc distinct and
    # the reference set is globally distinct, so a LEFT join adds at most
    # one marker per row (no fan-out) and a single aggregate yields both
    # the total and the matched count — the old shape ran the checked-side
    # shingle window twice (total + semi-join consumers, uncached) and
    # paid a third join to stitch the two aggregates back together.
    marked = ev.join(
        tr.withColumn("__m", F.lit(1)), "shingle", "left"
    )
    return marked.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count("__m").alias("n_matched"),
    ).select(
        F.col("doc").alias(id_col),
        "n_shingles",
        "n_matched",
        (F.col("n_matched") * 2 >= F.col("n_shingles")).cast("int").alias(
            "contaminated"
        ),
    )


def _banded_sig_pairs(
    banded: DataFrame,
    *,
    sig_cols: list[str],
    max_hamming: int,
    max_bucket: int | None,
) -> DataFrame:
    """Shared SimHash pairing tail over (doc, sig..., band, key) rows:
    banded self-join → Hamming verify → dedup; with ``max_bucket`` set,
    over-cap (band, key) groups emit a spanning star from
    hub = min(doc) via the shared :func:`_hot_bucket_edges` guard —
    signatures ride the edge as payload columns so the star edge's
    Hamming is computable without a join."""
    if max_bucket is None:
        ham = " + ".join(f"bit_count(a.{c} ^ b.{c})" for c in sig_cols)
        a = banded.alias("a")
        b = banded.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(
                F.col("a.doc").alias("doc_a"),
                F.col("b.doc").alias("doc_b"),
                F.expr(ham).alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
            .distinct()
        )
    edge_ham = " + ".join(f"bit_count({c}_a ^ {c}_b)" for c in sig_cols)
    with Iteration() as it:
        edges = _hot_bucket_edges(
            it, banded, keys=["band", "key"], id_col="doc",
            max_bucket=max_bucket, payload_cols=tuple(sig_cols),
        )
        pairs = (
            edges.select(
                "doc_a", "doc_b", F.expr(edge_ham).alias("hamming"), "capped"
            )
            .filter(F.col("hamming") <= max_hamming)
            .groupBy("doc_a", "doc_b", "hamming")
            .agg(F.max("capped").alias("from_capped_bucket"))
        )
        return it.result(it.checkpoint(pairs).df)


def duplicated_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact-substring duplication finder (the Lee et al. 2022
    "Deduplicating Training Data" pass, at token grain): report every
    MAXIMAL span of ≥ ``n`` tokens whose every ``n``-gram occurs at
    least ``min_occurrences`` times in the corpus (anywhere — another
    doc or the same one). The output spans are what an exact-substring
    dedup pipeline cuts out of training text.

    Relational shape — no suffix array needed at this grain:
    tokenize-once shingle rows WITH positions (the shingle_rows
    machinery) → corpus-wide occurrence counts (map-side combinable) →
    semi-join back the duplicated starts → per-doc GAPS-AND-ISLANDS on
    consecutive duplicated starts (``start − row_number`` grouping key,
    one window) → one aggregate per island. A run of duplicated starts
    [a..b] covers tokens [a, b+n−1], so ``span_len = b − a + n``.
    Shuffles: one by doc (shingling), one by shingle (counts), one by
    doc (islands) — all bounded, nothing quadratic; the n-gram hash
    join replaces the suffix-array construction that cannot be
    expressed as a bounded shuffle. The shingle frame feeds BOTH the
    count aggregate and the semi-join, so it is ``.cache()``d (S7 —
    Spark never reuses a twice-referenced exchange) and freed as soon
    as the bounded island output is materialized.

    The count/semi-join shuffle is keyed on ``xxhash64(ngram)`` — 8
    bytes per row instead of the raw ~n·avg-token-bytes string (the
    q_text_decontaminate rule). Measured at 1M docs × 30 short synth
    tokens (volume_probe spans): 930 MB vs 1,545 MB stage shuffle-write
    (1.66× — the (doc, start) payload dominates once keys are hashed;
    the key-width win grows with real-text token length) and 1.3–3.9×
    faster wall. A 64-bit collision merges
    two distinct n-grams' counts and can only ADD a false duplicated
    start (never lose a true one); expected false-positive n-grams are
    ~N²/2⁶⁵ — negligible below ~10¹⁰ distinct n-grams and a bounded
    extra-cut rate above. The DuckDB oracle groups the raw strings, so
    the fixture gate would catch any collision there outright.

    Output: (id, span_start [0-based token index], span_len [tokens]).
    """
    tok = _span_tok_frame(docs, id_col=id_col, text_col=text_col)
    with Iteration() as it:
        out = _span_islands_lazy(
            it, tok, n=n, min_occurrences=min_occurrences
        ).select(F.col("__d").alias(id_col), "span_start", "span_len")
        # Islands are BOUNDED (one row per maximal duplicated run — orders
        # of magnitude below token count); materialize them eagerly so the
        # corpus-sized spans cache is freed on return
        return it.result(it.checkpoint(out).df)


def _span_tok_frame(
    docs: DataFrame, *, id_col: str, text_col: str
) -> DataFrame:
    """(__d, __p, __t) positioned-token frame shared by the exact-substring
    detect and strip passes. ``ws_tokens`` yields ``['']`` for empty text,
    so EVERY non-null-text doc has ≥1 row — per-doc aggregates over this
    frame never drop a document."""
    return docs.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("__d"),
        F.posexplode(ws_tokens(text_col)).alias("__p", "__t"),
    )


def _positioned_ngram_keys(
    tok: DataFrame, *, n: int, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(__d, __s, __k) positioned n-gram key rows over a
    :func:`_span_tok_frame` — the tokenize-once lead-window shingle
    producer shared by the batch-global span pass, the persisted
    ngram-count artifact, and the incremental vs-corpus pass (so all
    three agree byte-for-byte on what an n-gram key is)."""
    from pyspark.sql import Window

    w = Window.partitionBy("__d").orderBy("__p")
    leads = [F.col("__t")] + [F.lead("__t", j).over(w) for j in range(1, n)]
    gram = F.concat_ws(" ", *leads)
    if hash_fn == "xxhash64":
        key = F.xxhash64(gram)
    elif hash_fn == "md5":
        key = F.md5(gram)
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    return (
        tok.select(
            "__d",
            F.col("__p").alias("__s"),
            key.alias("__k"),
            leads[-1].isNotNull().alias("__full"),
        )
        .filter(F.col("__full"))
        .drop("__full")
    )


def _islands_from_starts(starts: DataFrame, *, n: int) -> DataFrame:
    """(__d, span_start, span_len) maximal islands over duplicated-start
    rows (__d, __s): per-doc gaps-and-islands via the ``start −
    row_number`` grouping key — one window, one aggregate per island."""
    from pyspark.sql import Window

    wisl = Window.partitionBy("__d").orderBy("__s")
    islands = starts.withColumn(
        "__grp", F.col("__s") - F.row_number().over(wisl)
    )
    return islands.groupBy("__d", "__grp").agg(
        F.min("__s").cast("bigint").alias("span_start"),
        (F.max("__s") - F.min("__s") + F.lit(n)).cast("bigint").alias(
            "span_len"
        ),
    ).select("__d", "span_start", "span_len")


def _span_islands_lazy(
    it: Iteration, tok: DataFrame, *, n: int, min_occurrences: int
) -> DataFrame:
    """Lazy maximal-island plan over a positioned-token frame. The spans
    (the tokenize → n−1 lead-window shingle frame — the heaviest stage)
    are cached on the caller's ``it`` because they feed BOTH the
    occurrence-count aggregate and the duplicated-start semi-join, and
    Spark never reuses a twice-referenced exchange (S7); the callers
    checkpoint the islands through the same ``it``."""
    spans = it.cache(_positioned_ngram_keys(tok, n=n, hash_fn="xxhash64"))
    dup_keys = (
        spans.groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__occ"))
        .filter(F.col("__occ") >= min_occurrences)
        .select("__k")
    )
    starts = spans.join(dup_keys, "__k", "left_semi").select("__d", "__s")
    return _islands_from_starts(starts, n=n)


def ngram_count_table(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    hash_fn: str = "xxhash64",
    mode: str = "overwrite",
) -> None:
    """Persisted corpus-wide n-gram occurrence counts ``(gram_key,
    n_occ)`` — the at-rest artifact that makes exact-substring dedup
    INCREMENTAL (VERDICT r10 #5: the batch-global
    :func:`duplicated_spans` re-pays the whole-corpus n-gram pass on
    every daily delta; with this table the corpus is tokenized ONCE per
    snapshot, the :func:`content_digest_table` /
    :func:`minhash_signatures_table` pattern applied to spans).

    ``mode="append"`` is the COMMIT half of the loop: append a
    committed batch's counts as DELTA rows — readers
    (:func:`duplicated_spans_vs_corpus`) aggregate ``sum(n_occ)`` per
    key, so delta rows keep the next increment exact without
    rewriting the table (the digest-append discipline; at compaction
    time a groupBy-sum rewrite is equivalent). Keys come from the
    shared :func:`_positioned_ngram_keys` producer, so the artifact,
    the batch pass, and the batch-global pass can never disagree on
    n-gram identity."""
    tok = _span_tok_frame(docs, id_col=id_col, text_col=text_col)
    counts = (
        _positioned_ngram_keys(tok, n=n, hash_fn=hash_fn)
        .groupBy("__k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
        .select(F.col("__k").alias("gram_key"), "n_occ")
    )
    counts.write.mode(mode).parquet(path)


def duplicated_spans_vs_corpus(
    batch: DataFrame,
    *,
    corpus_ngrams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_occurrences: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Incremental exact-substring duplication finder — the daily-delta
    companion to :func:`duplicated_spans` (VERDICT r10 #5): maximal
    spans of the BATCH whose every ``n``-gram occurs at least
    ``min_occurrences`` times across corpus ∪ batch, where the corpus
    is represented ONLY by its persisted :func:`ngram_count_table`
    (summed per key — delta append rows are exact): corpus text is
    never read, never re-tokenized, never shuffled.

    COMPOSITION INVARIANT (the correctness contract, unit-locked and
    value-hashed by the two-increment oracle entry): this equals
    ``duplicated_spans(corpus ∪ batch)`` restricted to batch documents
    — total occurrences = corpus table counts + within-batch counts,
    exactly the union's counts.

    Shape: one by-doc shingle pass over the BATCH only (cached — feeds
    the count aggregate and the start semi-join, S7), one key-grain
    join against the artifact (8-byte xxhash64 keys by default; the
    artifact's ``hash_fn`` must match), per-doc gaps-and-islands, then
    the bounded island output is eagerly checkpointed and the cache
    freed (the duplicated_spans rule).

    Output: (id, span_start [0-based token index], span_len [tokens]).
    """
    tok = _span_tok_frame(batch, id_col=id_col, text_col=text_col)
    with Iteration() as it:
        islands = _vs_corpus_islands_lazy(
            it, tok, corpus_ngrams, n=n, min_occurrences=min_occurrences,
            hash_fn=hash_fn,
        ).select(F.col("__d").alias(id_col), "span_start", "span_len")
        return it.result(it.checkpoint(islands).df)


def _vs_corpus_islands_lazy(
    it: Iteration,
    tok: DataFrame,
    corpus_ngrams: DataFrame,
    *,
    n: int,
    min_occurrences: int,
    hash_fn: str,
) -> DataFrame:
    """Lazy maximal-island plan for the INCREMENTAL span passes:
    batch-only shingle rows (cached on the caller's ``it`` — count
    aggregate + start semi-join, S7) with the duplicated decision made
    against artifact + batch counts. The artifact is semi-joined to the
    BATCH vocabulary before aggregating: keys absent from the batch can
    never mark a batch start, and a daily delta's vocabulary is far
    smaller than the corpus table — without this the whole corpus-grain
    table re-aggregates per batch (measured at 1M-doc corpus / 100k
    batch: the artifact-side agg was the dominant stage). The callers
    checkpoint the islands through the same ``it``."""
    spans = it.cache(_positioned_ngram_keys(tok, n=n, hash_fn=hash_fn))
    bc = spans.groupBy("__k").agg(
        F.count(F.lit(1)).cast("bigint").alias("__bc")
    )
    cc = (
        corpus_ngrams.join(
            bc.select(F.col("__k").alias("gram_key")), "gram_key", "left_semi"
        )
        .groupBy("gram_key")
        .agg(F.sum("n_occ").cast("bigint").alias("__cc"))
    )
    dup_keys = (
        bc.join(cc, bc["__k"] == cc["gram_key"], "left")
        .select(
            "__k",
            (F.col("__bc") + F.coalesce(F.col("__cc"), F.lit(0))).alias(
                "__tot"
            ),
        )
        .filter(F.col("__tot") >= min_occurrences)
        .select("__k")
    )
    starts = spans.join(dup_keys, "__k", "left_semi").select("__d", "__s")
    return _islands_from_starts(starts, n=n)


def strip_duplicated_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact-substring duplication REMOVAL — the cutting half of
    :func:`duplicated_spans` (the Lee et al. 2022 pass detects; a real
    pipeline cuts): every token inside a reported maximal duplicated
    span is dropped and each document is rebuilt from its surviving
    tokens in original order (the strip_boilerplate pattern, applied to
    corpus-wide duplicated substrings instead of cross-document
    prevalent n-grams).

    Composes directly on the :func:`duplicated_spans` island machinery —
    covered positions are ``explode(sequence(span_start,
    span_start+span_len−1))`` over its island output, so detection and
    removal can NEVER disagree on what counts as duplicated. Island
    STARTS are disjoint by construction (maximal runs), but their
    covered RANGES may overlap when two islands start < ``n`` apart —
    the covered set is therefore ``distinct()``-ed before the (doc, pos)
    join (a duplicate-position row would otherwise double-count tokens
    in the single-pass rebuild below).

    One shared token frame feeds everything (the S7 discipline): the
    shingle windows consume it once while the BOUNDED island output is
    eagerly materialized (freeing the cached spans frame immediately),
    then ONE left-join + groupBy pass over the same token frame computes
    totals, kept counts, and the rebuilt text together — the corpus
    tokenizes twice total instead of the previous three passes, and no
    corpus-sized cache outlives the call. At 100 TB the heavy stages are
    the bounded shingle shuffles plus one (doc, pos) exchange for the
    rebuild. Documents that were entirely duplicated come back with
    ``text_clean = ''`` rather than vanishing (reference py:214-262
    dedups whole sessions; this cuts sub-document repetition and keeps
    the remainder).

    Output: (id, n_tokens, n_removed, text_clean).
    """
    tok = _span_tok_frame(docs, id_col=id_col, text_col=text_col)
    with Iteration() as it:
        islands = it.checkpoint(
            _span_islands_lazy(it, tok, n=n, min_occurrences=min_occurrences)
        ).df
        return it.result(
            _rebuild_tokens_without_islands(tok, islands, id_col=id_col)
        )


def _rebuild_tokens_without_islands(
    tok: DataFrame, islands: DataFrame, *, id_col: str
) -> DataFrame:
    """Covered-position explode + left-join + single-groupBy token
    rebuild shared by the batch-global and vs-corpus strip passes:
    every token inside an island (__d, span_start, span_len) is
    dropped; each document is rebuilt from survivors in original
    order. Output: (id, n_tokens, n_removed, text_clean)."""
    covered = (
        islands.select(
            "__d",
            F.explode(
                F.sequence(
                    F.col("span_start"),
                    F.col("span_start") + F.col("span_len") - F.lit(1),
                )
            ).alias("__p"),
        )
        .distinct()
        .withColumn("__cov", F.lit(1))
    )
    joined = tok.join(covered, ["__d", "__p"], "left")
    return joined.groupBy("__d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("__cov").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("__n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        # covered rows yield NULL and collect_list skips
                        # NULL inputs — only surviving tokens are rebuilt
                        F.when(
                            F.col("__cov").isNull(),
                            F.struct("__p", "__t"),
                        )
                    )
                ),
                lambda x: x["__t"],
            ),
            " ",
        ).alias("text_clean"),
    ).select(
        F.col("__d").alias(id_col),
        "n_tokens",
        (F.col("n_tokens") - F.col("__n_kept"))
        .cast("bigint")
        .alias("n_removed"),
        "text_clean",
    )


def strip_duplicated_spans_vs_corpus(
    batch: DataFrame,
    *,
    corpus_ngrams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_occurrences: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Incremental exact-substring REMOVAL — the cutting half of
    :func:`duplicated_spans_vs_corpus` (detect + APPLY pairing, the
    house style): every batch token inside a maximal span whose every
    ``n``-gram occurs ≥ ``min_occurrences`` times across corpus ∪ batch
    is dropped, and each batch document is rebuilt from survivors in
    original order — with the corpus represented ONLY by its persisted
    :func:`ngram_count_table`. Same composition invariant as the
    detect pass (≡ :func:`strip_duplicated_spans` over corpus ∪ batch
    restricted to batch docs — unit-locked); ONE batch token frame
    feeds the shingle windows AND the rebuild (two batch tokenize
    passes total, zero corpus passes).

    Output: (id, n_tokens, n_removed, text_clean).
    """
    tok = _span_tok_frame(batch, id_col=id_col, text_col=text_col)
    with Iteration() as it:
        islands = it.checkpoint(_vs_corpus_islands_lazy(
            it, tok, corpus_ngrams, n=n, min_occurrences=min_occurrences,
            hash_fn=hash_fn,
        )).df
        return it.result(
            _rebuild_tokens_without_islands(tok, islands, id_col=id_col)
        )


def strip_contaminated_spans(
    train_df: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """SURGICAL benchmark decontamination — remove the overlapping
    SPANS instead of dropping whole documents: every training-doc token
    covered by a token ``n``-gram that appears anywhere in the eval
    split is cut and the document is rebuilt from survivors in original
    order. The scalpel to :func:`contamination_check`'s axe (which
    flags ≥50%-contaminated docs for dropping): a long document quoting
    one benchmark question keeps its other 99% instead of dying, the
    trade most open pipelines actually want for partial overlap.

    Relational shape, on the shared span helpers: the positioned token
    frame (:func:`_span_tok_frame`) → md5 n-gram keys per start
    (:func:`_positioned_ngram_keys`) → semi-join against the eval
    split's ONE corpus-wide distinct md5-shingle set (eval sets are
    benchmark-sized — the semi broadcasts) → each matching start is an
    island of length ``n`` → the one-pass covered-position rebuild
    (:func:`_rebuild_tokens_without_islands`; overlapping islands union
    through its distinct). The eval side keeps :func:`shingle_rows`, so
    NULL-id eval docs still count as reference text; its partial
    shingles from docs shorter than ``n`` can never equal a full
    n-gram. Fully covered documents come back with ``text_clean = ''``.

    Output: (id, n_tokens, n_removed, text_clean).
    """
    tok = _span_tok_frame(train_df, id_col=id_col, text_col=text_col)
    ev = (
        shingle_rows(
            eval_df, id_col=id_col, text_col=text_col, n=n, distinct=False
        )
        .select(F.md5("shingle").alias("__k"))
        .distinct()
    )
    islands = (
        _positioned_ngram_keys(tok, n=n, hash_fn="md5")
        .join(ev, "__k", "left_semi")
        .select(
            "__d",
            F.col("__s").cast("bigint").alias("span_start"),
            F.lit(n).cast("bigint").alias("span_len"),
        )
    )
    return _rebuild_tokens_without_islands(tok, islands, id_col=id_col)


def keeper_by_score(
    cc: DataFrame,
    scores: DataFrame,
    *,
    node_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "score",
) -> DataFrame:
    """Canonical-record selection per near-dup cluster by QUALITY rather
    than min id — the keeper policy production dedup actually wants
    (keep the longest / highest-LM-scored member; the min-id keeper the
    pipelines default to is deterministic but quality-blind). Rank
    within each cluster by (score DESC, md5(id), id) — a total order,
    so the keeper set is engine-exact; callers coalesce NULL scores to
    a sentinel first (no NULL ordering semantics in play).

    One window partitioned by cluster id (cluster sizes are bounded by
    the near-dup geometry — a 'cluster' of millions would mean the
    verify threshold is broken, and the rank-1 probe degrades to one
    hot partition; cap upstream if that's possible). Output:
    (node, cluster, score, is_keeper int).
    """
    from pyspark.sql import Window

    j = cc.select(node_col, cluster_col).join(
        scores.select(node_col, score_col), node_col
    )
    w = Window.partitionBy(cluster_col).orderBy(
        F.col(score_col).desc(),
        F.md5(F.col(node_col).cast("string")).asc(),
        F.col(node_col).asc(),
    )
    return j.select(
        node_col,
        cluster_col,
        score_col,
        (F.row_number().over(w) == 1).cast("int").alias("is_keeper"),
    )
