"""End-to-end pretraining-corpus construction pipeline.

The composition an LLM-data user actually runs, as one function:

    quality gate → exact dedup (normalized text) → benchmark
    decontamination (n-gram containment vs the eval split) →
    per-domain token-budget cut

Every stage is an already-oracled operator; the whole chain is itself
hash-checked as one DuckDB CTE chain (``q_corpus_pipeline``). Shared by
the catalog entry (sf fixtures) and ``scripts/volume_probe.py corpus``
(1M-doc scale datapoints) so the probed plan IS the shipped plan.

Scale notes (the 100 TB story, stage by stage):

- quality gate: zero-exchange narrow filter fused into the scan
  (``quality_filter`` — no feature-table join-back).
- exact dedup: shuffles 16-byte md5 digests of NORMALIZED text, never
  documents; keepers come back as a left-semi join on ids.
- decontamination: ONE corpus-wide distinct-shingle set from the eval
  split (eval sets are small — benchmarks, not corpora), semi-joined
  per surviving train doc; the contaminated flag is integer arithmetic.
- budget cut: md5-content-ordered greedy head per domain; the window is
  per-domain (domains are the parallelism unit) and the cut keeps only
  a prefix, so a hot domain can hash-prefix prune before the sort.

Between stages at warehouse scale each arrow would be a persisted table
boundary; in-session the twice-referenced frames are ``.cache()``d (S7:
Spark never reuses a twice-referenced exchange on its own).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_retailrocket_recsys_spark.operators.dedup import (
    connected_components,
    contamination_check,
    jaccard_verify,
    minhash_lsh_candidates,
    strip_contaminated_spans,
    strip_duplicated_spans,
)
from bigdata_retailrocket_recsys_spark.operators.iterate import Iteration
from bigdata_retailrocket_recsys_spark.operators.splits import (
    token_budget_sample,
)
from bigdata_retailrocket_recsys_spark.operators.text import (
    normalize_text,
    quality_filter,
    strip_repeated_lines,
)

# The pipelines' fixed shape, shared by build_corpus,
# build_corpus_incremental and corpus_commit: the signature table
# corpus_commit appends and the incremental near-dup pass that reads it
# agree on shingles and hash count by construction.
SHINGLE_N = 3  # word n-grams for near-dup and decontamination
NEAR_DUP_NUM_HASHES = 16
NEAR_DUP_BANDS = 4
NEAR_DUP_MIN_JACCARD = 0.5
SUBSTRING_N = 5  # duplicated-span n-gram length
SUBSTRING_MIN_OCCURRENCES = 2
LINE_MIN_DOCS = 3  # a line in this many docs is boilerplate


def build_corpus(
    docs: DataFrame,
    *,
    eval_source: str = "src0",
    budget_tokens: int = 700,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
    min_quality: float = 0.5,
    min_tokens: int = 5,
    near_dup: bool = False,
    near_dup_hash_fn: str = "xxhash64",
    near_dup_max_bucket: int | None = None,
    strip_substrings: bool = False,
    strip_lines: bool = False,
    decontaminate_mode: str = "drop",
    gate=None,
) -> DataFrame:
    """Run the corpus pipeline; returns the kept training docs as
    ``(id, domain, n_tok, cum_tok)`` (the budget-sample surface).

    ``decontaminate_mode``: ``'drop'`` (default — ≥50%-contaminated docs
    removed whole, the q_corpus_pipeline contract) or ``'strip'``
    (surgical — eval-overlapping spans are CUT via
    :func:`~bigdata_retailrocket_recsys_spark.operators.dedup
    .strip_contaminated_spans`, the rest of each doc survives, the
    budget charges cleaned token counts, emptied docs drop).

    ``gate``: optional ``Callable[[DataFrame], DataFrame]`` replacing
    the default composite-score quality gate (``quality_filter`` with
    ``min_quality``/``min_tokens``) — pass a narrow FILTER (e.g. the
    Gopher-rules conjunction from ``gopher_metric_exprs``) and the rest
    of the pipeline composes unchanged. The gate must not rename or
    drop the id/text/domain columns.

    Stages, in order (the RefinedWeb/FineWeb shape):

      [``strip_lines``: LINE-grain cross-document dedup — the CCNet
      paragraph pass, run FIRST as Wenzek et al. do (boilerplate lines
      must not rescue a junk doc through the gate, inflate token
      budgets, or perturb MinHash signatures); every later stage sees
      the line-cleaned text, and docs stripped to nothing are dropped]
      → quality gate → exact dedup → [``near_dup``: MinHash-LSH
      candidate pairs → exact-Jaccard verification → connected
      components → one canonical keeper per cluster] →
      [``strip_substrings``: corpus-wide duplicated-span REMOVAL —
      downstream stages run on the CLEANED text; docs stripped to
      nothing are dropped] → decontamination → per-domain
      token-budget cut

    The bracketed stages are off by default (the four-stage
    ``q_corpus_pipeline`` contract is unchanged); ``near_dup_hash_fn``
    is ``xxhash64`` for the scale tier and ``'md5'`` for the
    cross-engine-replayable oracle tier (the minhash_signatures split).
    Line prevalence for ``strip_lines`` is counted over the WHOLE
    corpus including the eval split (one consistent cleaned view — the
    eval docs used as the decontamination reference are line-stripped
    too).

    ``eval_source`` rows are the decontamination reference and are
    excluded from the output corpus by construction. NULL-``domain``
    docs stay and form their own budget pool; NULL id/text rows are
    dropped up front (ids key the dedup/budget hashing — the CLAUDE.md
    non-null hash-key rule — and textless docs have nothing to gate)."""
    base = docs.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(id_col, text_col, domain_col)
    if strip_lines:
        # CCNet order: the paragraph/line pass runs before everything —
        # prevalence over the whole corpus, docs rebuilt from surviving
        # lines, emptied docs dropped rather than shipped blank
        stripped = strip_repeated_lines(
            docs, id_col=id_col, text_col=text_col, min_docs=LINE_MIN_DOCS
        )
        base = base.select(id_col, domain_col).join(
            stripped.filter(F.col("text_clean") != "").select(
                id_col, F.col("text_clean").alias(text_col)
            ),
            id_col,
        ).select(id_col, text_col, domain_col)
    base = base.cache()
    if gate is not None:
        gated = gate(base).withColumn("__norm", normalize_text(text_col))
    else:
        gated = quality_filter(
            base,
            text_col=text_col,
            min_quality=min_quality,
            min_tokens=min_tokens,
        ).withColumn("__norm", normalize_text(text_col))
    gated = gated.cache()
    # Exact dedup as ONE exchange (r13): keeper = min id per normalized-
    # text digest ≡ row_number()=1 over (digest, id asc) — the operator
    # form (exact_dedup agg + keeper semi-join) pays a digest exchange
    # PLUS a two-sided id exchange for the join-back; the window form
    # keeps survivors in the same pass. Keeper selection still sees ALL
    # gated docs including the eval split (an eval doc can out-rank a
    # train duplicate), exactly as before; __norm is non-null by
    # construction (text is non-null), so the md5 key needs no NULL
    # guard here (exact_dedup's "row:<id>" branch is unreachable).
    from pyspark.sql import Window as _W

    w_dup = _W.partitionBy(F.md5(F.col("__norm"))).orderBy(
        F.col(id_col).asc()
    )
    train = (
        gated.withColumn("__rn", F.row_number().over(w_dup))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .filter(
            F.col(domain_col).isNull() | (F.col(domain_col) != eval_source)
        )
    )
    # re-cluster by id before the cache: the old keeper semi-join left
    # train hash-partitioned by id and every id-keyed consumer (shingle
    # windows, strip joins, loser/decon anti-joins — the near-dup path
    # has many) reused that layout from the cache; without this, each
    # consumer re-exchanges the digest-partitioned window output
    # (measured on sf0.1, min-of-3, with vs without: plain 2.29 s vs
    # 2.66 s, surgical 3.05 s vs 3.44 s). train is multiply referenced
    # on EVERY path — at minimum the contamination shingle scan + the
    # clean anti-join, plus the LSH candidates / Jaccard verification /
    # CC node list / strip+domain-join pair when the bracketed stages
    # are on (S7: Spark never reuses a twice-referenced exchange)
    train = train.repartition(F.col(id_col)).cache()
    if near_dup:
        # near_dup_max_bucket: the hot-bucket star guard (VERDICT r10
        # #1) — None (default) keeps the oracle-tier clique; set it for
        # boilerplate-heavy crawls where one templated family would
        # flood jaccard_verify from a single bucket
        cand = minhash_lsh_candidates(
            train,
            id_col=id_col,
            text_col=text_col,
            shingle_n=SHINGLE_N,
            num_hashes=NEAR_DUP_NUM_HASHES,
            bands=NEAR_DUP_BANDS,
            hash_fn=near_dup_hash_fn,
            max_bucket=near_dup_max_bucket,
        ).select("doc_a", "doc_b")
        edges = jaccard_verify(
            cand,
            train,
            id_col=id_col,
            text_col=text_col,
            shingle_n=SHINGLE_N,
            min_jaccard=NEAR_DUP_MIN_JACCARD,
            # LSH candidates are pair-unique by construction (groupBy
            # doc_a, doc_b in both the clique and capped tails) — skip
            # the defensive dedup exchange (r13)
            pairs_distinct=True,
        ).select("doc_a", "doc_b")
        # r13 optimization (guide §8 — decide on small rows): only docs
        # that appear in a verified edge can LOSE their cluster (every
        # other doc is a singleton keeper), so CC runs over the
        # edge-endpoint set (candidate-bounded) instead of the whole
        # corpus, and the keeper semi-join (corpus-sized right side)
        # becomes a loser ANTI-join (candidate-bounded, broadcastable).
        # Value-identical: min-label CC on the edge-induced subgraph
        # assigns the same labels to edge nodes, and keepers = all docs
        # minus {edge nodes with cluster_id != id} (oracle-locked).
        # nodes=None (r14): CC derives the endpoint set itself (no
        # distinct / semi-join / passive branch).
        cc = connected_components(
            None,
            edges,
            node_col=id_col,
            src_col="doc_a",
            dst_col="doc_b",
        )
        nd_lose = cc.filter(F.col(id_col) != F.col("cluster_id")).select(
            id_col
        )
        train = train.join(nd_lose, id_col, "left_anti")
    if strip_substrings:
        # duplicated-span detection runs on the SURVIVING corpus (a span
        # duplicated only across docs the near-dup stage removed is no
        # longer duplicated); downstream stages see the cleaned text, and
        # docs stripped to nothing are dropped rather than shipped empty
        stripped = strip_duplicated_spans(
            train,
            id_col=id_col,
            text_col=text_col,
            n=SUBSTRING_N,
            min_occurrences=SUBSTRING_MIN_OCCURRENCES,
        )
        train = train.select(id_col, domain_col).join(
            stripped.filter(F.col("text_clean") != "").select(
                id_col, F.col("text_clean").alias(text_col)
            ),
            id_col,
        )
    eval_docs = base.filter(F.col(domain_col) == eval_source)
    if decontaminate_mode == "strip":
        # surgical decontamination: cut the eval-overlapping spans and
        # keep the rest of the document (strip_contaminated_spans);
        # docs stripped to nothing drop; the budget charges the CLEANED
        # token counts
        stripped = strip_contaminated_spans(
            train,
            eval_docs,
            id_col=id_col,
            text_col=text_col,
            n=SHINGLE_N,
        )
        clean = train.select(id_col, domain_col).join(
            stripped.filter(F.col("text_clean") != "").select(
                id_col, F.col("text_clean").alias(text_col)
            ),
            id_col,
        )
    elif decontaminate_mode == "drop":
        # contamination_check(reference_side, checked_side): per CHECKED
        # doc, the share of its shingles found in the REFERENCE corpus —
        # each surviving train doc is checked against the eval split's
        # shingle set and ≥50%-contaminated docs drop whole
        flags = contamination_check(
            eval_docs, train, id_col=id_col, text_col=text_col,
            shingle_n=SHINGLE_N,
        )
        clean = train.join(
            flags.filter(F.col("contaminated") == 1).select(id_col),
            id_col,
            "left_anti",
        )
    else:
        raise ValueError(
            f"decontaminate_mode must be 'drop' or 'strip', "
            f"got {decontaminate_mode!r}"
        )
    return token_budget_sample(
        clean,
        budget_tokens,
        id_col=id_col,
        text_col=text_col,
        domain_col=domain_col,
    )


def build_corpus_incremental(
    batch: DataFrame,
    corpus_digests: DataFrame,
    eval_docs: DataFrame,
    *,
    eval_source: str = "src0",
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
    min_quality: float = 0.5,
    min_tokens: int = 5,
    corpus_signatures: DataFrame | None = None,
    near_dup_hash_fn: str = "xxhash64",
) -> DataFrame:
    """INCREMENTAL corpus maintenance — the daily-delta path: only the
    NEW batch is gated, deduped, and decontaminated; the existing corpus
    participates solely through its persisted 16-byte digest table
    (:func:`~bigdata_retailrocket_recsys_spark.operators.dedup
    .content_digest_table`), so corpus text is never read, shuffled, or
    re-hashed (the incremental_exact_dedup contract). At 100 TB a daily
    1-TB batch costs batch-sized work + one digest anti-join instead of
    a full-corpus rebuild.

    Stages (each the incremental twin of a :func:`build_corpus` stage):

      quality gate (batch-narrow filter) → eval-source exclusion →
      exact dedup vs corpus digests + within-batch (keeper = min id) →
      [``corpus_signatures``: NEAR-dup drop — batch docs sharing any
      MinHash-LSH band with the persisted corpus signature table are
      removed; banded batch signatures broadcast past a scan of the
      table, no corpus text, no corpus shuffle] →
      3-gram decontamination vs the eval split → accepted docs

    Output: ``(id, domain, n_tok)`` — the rows to APPEND to the corpus
    (their digests then appended to the digest table, keeping the next
    increment exact). No budget stage: a token budget is a corpus-global
    property re-cut at snapshot time, not per delta.
    """
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    b = batch.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(id_col, text_col, domain_col)
    gated = (
        quality_filter(
            b,
            text_col=text_col,
            min_quality=min_quality,
            min_tokens=min_tokens,
        )
        .filter(
            F.col(domain_col).isNull() | (F.col(domain_col) != eval_source)
        )
        .withColumn("__norm", normalize_text(text_col))
    )
    # gated feeds the dedup keying AND the keeper semi-join (S7)
    gated = gated.cache()
    accepted = incremental_exact_dedup(
        gated,
        corpus_digests=corpus_digests,
        key_cols=["__norm"],
        id_col=id_col,
    )
    fresh = gated.join(
        accepted.select(F.col("keeper_id").alias(id_col)),
        id_col,
        "left_semi",
    )
    if corpus_signatures is not None:
        from bigdata_retailrocket_recsys_spark.operators.dedup import (
            minhash_lsh_candidates_vs_corpus,
        )

        near = minhash_lsh_candidates_vs_corpus(
            fresh,
            corpus_signatures=corpus_signatures,
            id_col=id_col,
            text_col=text_col,
            shingle_n=SHINGLE_N,
            num_hashes=NEAR_DUP_NUM_HASHES,
            bands=NEAR_DUP_BANDS,
            hash_fn=near_dup_hash_fn,
        ).select(F.col("batch_doc").alias(id_col)).distinct()
        fresh = fresh.join(near, id_col, "left_anti")
    flags = contamination_check(
        eval_docs, fresh, id_col=id_col, text_col=text_col,
        shingle_n=SHINGLE_N,
    )
    clean = fresh.join(
        flags.filter(F.col("contaminated") == 1).select(id_col),
        id_col,
        "left_anti",
    )
    # same token count the budget stage charges (token_budget_sample's
    # n_tok expression), so a later snapshot re-cut composes directly
    n_tok = F.size(
        F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
            lambda t: t != F.lit(""),
        )
    ).cast("bigint")
    return clean.select(
        id_col,
        F.col(domain_col).alias("domain"),
        n_tok.alias("n_tok"),
    )


def corpus_commit(
    batch: DataFrame,
    accepted: DataFrame,
    *,
    digest_path: str,
    corpus_path: str | None = None,
    signature_path: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
    hash_fn: str = "xxhash64",
) -> None:
    """COMMIT an increment — the append half of the daily-delta loop
    (:func:`build_corpus_incremental` decides WHAT to keep; this
    persists it so increment N+1 is exact w.r.t. increment N,
    VERDICT r9 #3). Appends, per artifact:

    - ``digest_path`` (required): the accepted docs' 16-byte md5
      digests of NORMALIZED text — the :func:`~bigdata_retailrocket_
      recsys_spark.operators.dedup.content_digest_table` schema and
      key (``md5(normalize_text)``), so the next
      ``incremental_exact_dedup`` anti-join sees them.
    - ``signature_path`` (optional): the accepted docs' MinHash
      signatures under :data:`SHINGLE_N`/:data:`NEAR_DUP_NUM_HASHES`
      and the ``hash_fn`` the corpus table was built with
      (:func:`minhash_signatures_table` schema), so the next
      ``minhash_lsh_candidates_vs_corpus`` band-join sees them.
    - ``corpus_path`` (optional): the accepted docs themselves
      ``(id, text, domain)`` — the corpus rows a snapshot re-cut or a
      profile reads.

    ``accepted`` is :func:`build_corpus_incremental`'s output (its id
    column selects which batch docs commit); digests are distinct and
    disjoint from the table BY CONSTRUCTION (the incremental dedup
    already dropped both corpus-colliding and within-batch-duplicate
    rows), so plain parquet appends keep the digest table globally
    distinct without a read-modify-write cycle — each commit costs
    batch-sized work only. Appends are per-artifact atomic (parquet
    _SUCCESS) but not transactional ACROSS the three paths; re-running
    a partially-failed commit requires caller-side idempotency (a
    warehouse would wrap this in a table format's transaction).
    """
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        minhash_signatures,
    )

    committed = (
        batch.filter(
            F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
        )
        .select(id_col, text_col, domain_col)
        .join(accepted.select(id_col), id_col, "left_semi")
    )
    # committed MUST be pinned with a lineage-TRUNCATING eager
    # localCheckpoint, not .cache(): ``accepted``'s plan typically READS
    # digest_path/signature_path (the incremental anti-join / band
    # join), and Spark's post-write refreshByPath INVALIDATES any cache
    # whose lineage touches the written path — with a cache, the first
    # append would silently rebuild ``committed`` against the
    # just-appended digests, every accepted doc would self-collide, and
    # the remaining artifacts would commit ZERO rows (measured, r10).
    # Batch-sized, and released once the appends finish.
    with Iteration() as it:
        committed = it.checkpoint(committed).df
        committed.select(
            F.md5(normalize_text(text_col)).alias("dup_key")
        ).distinct().write.mode("append").parquet(digest_path)
        if signature_path is not None:
            minhash_signatures(
                committed,
                id_col=id_col,
                text_col=text_col,
                shingle_n=SHINGLE_N,
                num_hashes=NEAR_DUP_NUM_HASHES,
                hash_fn=hash_fn,
            ).write.mode("append").parquet(signature_path)
        if corpus_path is not None:
            committed.write.mode("append").parquet(corpus_path)


def corpus_profile(
    docs: DataFrame,
    reference: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
) -> DataFrame:
    """Per-domain corpus REPORT CARD — the first query a data team runs
    on a new corpus snapshot: volume (docs, whitespace tokens), exact
    duplication (distinct normalized-text digests vs rows), heuristic
    quality (Gopher-pass share), and model-based quality (average
    reference-LM log-probability) in one per-domain rollup.

    Scan discipline (VERDICT r9 #2): the digest AND all Gopher columns
    are narrow per-row expressions, FUSED into ONE projection of the
    corpus (``gopher_metric_exprs`` — no second scan, no id join-back);
    only the LM token bag genuinely needs its own pass (it reduces the
    corpus to (doc, term) counts), left-joined by id. Two corpus scans
    total, plus the reference-split scan for the LM table. All
    aggregates are exact integers except the final average, which is
    ONE IEEE division guarded against empty-token domains (NULL, not
    NaN — NaN stringifies differently per engine).

    Output: (domain, n_docs, n_words, n_distinct, n_gopher_pass,
    lm_logprob_u, lm_tokens, lm_avg).
    """
    from bigdata_retailrocket_recsys_spark.operators.text import (
        gopher_metric_exprs,
        lm_score,
    )

    n_words, _n_lines, flags = gopher_metric_exprs(text_col)
    gpass = None
    for v in flags.values():
        gpass = v if gpass is None else (gpass & v)
    base = docs.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        id_col,
        F.col(domain_col).alias("domain"),
        F.md5(normalize_text(text_col)).alias("__digest"),
        n_words.alias("n_words"),
        gpass.cast("int").alias("gopher_pass"),
    )
    lm = lm_score(docs, reference).select(
        id_col,
        F.col("n_tokens").alias("__lm_tok"),
        F.col("logprob_u").alias("__lm_lp"),
    )
    per_doc = base.join(lm, id_col, "left")
    agg = per_doc.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.countDistinct("__digest").cast("bigint").alias("n_distinct"),
        F.sum("gopher_pass").cast("bigint").alias("n_gopher_pass"),
        F.sum(F.coalesce("__lm_lp", F.lit(0)))
        .cast("bigint")
        .alias("lm_logprob_u"),
        F.sum(F.coalesce("__lm_tok", F.lit(0)))
        .cast("bigint")
        .alias("lm_tokens"),
    )
    return agg.withColumn(
        "lm_avg",
        F.when(
            F.col("lm_tokens") > 0,
            F.col("lm_logprob_u").cast("double")
            / (F.col("lm_tokens").cast("double") * F.lit(1e6)),
        ),
    )
