"""Text-analysis operators for large-scale training-data pipelines.

All pure ``pyspark.sql.functions`` column expressions / DataFrame ops —
no Python UDFs, so every operator stays inside whole-stage codegen and
scales linearly with input splits (narrow, shuffle-free except the final
aggregations).

Operators: whitespace/regex tokenization, token counting, language-ID
heuristic, quality scoring, document fingerprinting (md5 shingle rolling
hash).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_retailrocket_recsys_spark.operators.iterate import Iteration

#: tiny per-language stopword anchors for the n-gram/stopword-ratio
#: heuristic language id. Deliberately minimal — the operator's value is the
#: distributed shape (scan → narrow map → optional agg), not lexicon size.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "es": ["el", "la", "de", "que", "y", "en"],
    "fr": ["le", "la", "de", "et", "est", "que"],
}

#: BPE-ish subtoken pattern: letter runs, digit runs, or single non-space
SUBTOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def ws_tokens(text: Column | str) -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Whitespace token count + BPE-ish regex subtoken count per document."""
    return df.select(
        id_col,
        F.size(ws_tokens(text_col)).alias("n_ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(SUBTOKEN_PATTERN))
        .cast("int")
        .alias("n_subtokens"),
    )


def lang_id(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hit counts,
    'und' (undetermined) when no language scores a hit. Deterministic
    tiebreak: language key ascending."""
    toks = ws_tokens(text_col)
    scores = [
        F.struct(
            F.size(F.filter(toks, lambda t: t.isin(sw))).alias("hits"),
            F.lit(code).alias("code"),
        )
        for code, sw in sorted(LANG_STOPWORDS.items(), reverse=True)
    ]
    # array_max on struct(hits, code): lexicographic → max hits, then max
    # code; reverse-sorted input + max-code tiebreak ≡ ascending-key argmax
    best = F.array_max(F.array(*scores))
    return df.select(
        id_col,
        F.when(best["hits"] > 0, best["code"]).otherwise(F.lit("und")).alias(
            "lang_guess"
        ),
        best["hits"].alias("stopword_hits"),
    )


def _quality_exprs(
    text_col: str,
) -> tuple[Column, Column, Column, Column, Column, Column]:
    """The shared quality expression tree: (n_chars, n_tokens,
    avg_token_len, punct_ratio, digit_ratio, score). One definition
    feeds both :func:`quality_score` (the feature table) and
    :func:`quality_filter` (the narrow corpus gate) so the composite
    score can never drift between the two — and stays the identical
    IEEE tree the DuckDB oracles replay."""
    toks = ws_tokens(text_col)
    n_chars = F.length(text_col).cast("double")
    n_tokens = F.size(toks).cast("double")
    n_punct = F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]")).cast("double")
    n_digit = F.regexp_count(F.col(text_col), F.lit(r"[0-9]")).cast("double")
    avg_tok_len = (n_chars - (n_tokens - F.lit(1.0))) / F.greatest(
        n_tokens, F.lit(1.0)
    )
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1.0))
    digit_ratio = n_digit / F.greatest(n_chars, F.lit(1.0))
    score = (
        F.least(n_tokens / F.lit(64.0), F.lit(1.0)) * F.lit(0.5)
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(4.0), F.lit(1.0))) * F.lit(0.25)
        + (F.lit(1.0) - F.least(digit_ratio * F.lit(4.0), F.lit(1.0))) * F.lit(0.25)
    )
    return n_chars, n_tokens, avg_tok_len, punct_ratio, digit_ratio, score


def quality_filter(
    df: DataFrame,
    *,
    text_col: str = "text",
    min_quality: float = 0.5,
    min_tokens: int = 5,
) -> DataFrame:
    """Narrow quality gate: keep rows whose composite quality score and
    token count clear the thresholds. Same expression tree as
    :func:`quality_score` via :func:`_quality_exprs`, but applied as a
    FILTER on the input frame — no feature table, no join-back shuffle,
    so at 100 TB the gate is a zero-exchange scan stage that Catalyst
    fuses into the read (the right shape for the first pass of a corpus
    pipeline). The score comparison is cross-engine-safe because the
    tree is IEEE-identical on both engines (see q_quality_score)."""
    _, n_tokens, _, _, _, score = _quality_exprs(text_col)
    return df.filter(
        (score >= F.lit(float(min_quality)))
        & (n_tokens >= F.lit(float(min_tokens)))
    )


def quality_score(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Cheap quality features: length, token stats, punctuation/digit
    ratios, plus a [0,1] composite. All arithmetic IEEE-deterministic."""
    (
        n_chars,
        n_tokens,
        avg_tok_len,
        punct_ratio,
        digit_ratio,
        score,
    ) = _quality_exprs(text_col)
    return df.select(
        id_col,
        n_chars.cast("int").alias("n_chars_obs"),
        n_tokens.cast("int").alias("n_tokens"),
        avg_tok_len.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        score.alias("quality"),
    )


def tfidf(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int | None = None,
) -> DataFrame:
    """TF-IDF term weights per document — corpus-statistic operator for
    training-data curation (term-based filtering, keyword extraction).

    Fully relational: tokenize-once explode → (doc, term) counts → document
    frequency → smooth idf ``ln((N+1)/(df+1)) + 1``. Three hash aggregates
    (all map-side combinable) + one broadcast of the 1-row corpus size;
    no UDFs. With ``top_k``, keeps the k highest-weight terms per doc
    ranked by the µ-floored weight (bigint — cross-engine deterministic,
    SURVEY float rule 3) with term-ascending tiebreak.

    Output: doc, term, n_tf, n_df, tfidf_u (= floor(tf·idf·1e6)).
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col).alias("doc"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("term"),
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("n_tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("n_df"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    weighted = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf_u",
            F.floor(
                F.col("n_tf").cast("double")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1)).cast("double")
                        / (F.col("n_df") + F.lit(1)).cast("double")
                    )
                    + F.lit(1.0)
                )
                * F.lit(1e6)
            ),
        )
        .select("doc", "term", "n_tf", "n_df", "tfidf_u")
    )
    if top_k is None:
        return weighted
    w = Window.partitionBy("doc").orderBy(
        F.col("tfidf_u").desc(), F.col("term").asc()
    )
    return (
        weighted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )


def fingerprint(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Document fingerprint: md5 of normalized text (exact-dup key) plus a
    16-hex-char rolling fingerprint of the token stream (first 8 hex of the
    md5 of the first and last 5-token shingles) — order-sensitive, cheap,
    cross-engine reproducible."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    toks = ws_tokens(F.lower(F.col(text_col)))
    head = F.array_join(F.slice(toks, 1, 5), " ")
    # last-5 shingle in reverse order: well-defined for short docs on every
    # engine (negative-start slice semantics differ across engines)
    tail = F.array_join(F.slice(F.reverse(toks), 1, 5), " ")
    return df.select(
        id_col,
        F.md5(norm).alias("fp_exact"),
        F.concat(
            F.substring(F.md5(head), 1, 8), F.substring(F.md5(tail), 1, 8)
        ).alias("fp_rolling"),
    )


def normalize_text(text: Column | str) -> Column:
    """Canonical text normalization for dedup/fingerprint pipelines:
    lowercase, non-alphanumerics → space, collapse runs, trim. Pure
    JVM-side regex (whole-stage codegen, no UDF); the exact same
    transform precedes shingling in the MinHash/Jaccard ops so near-dup
    candidates are case/punctuation-insensitive. Engine-portable: the
    character classes are identical in Java regex and RE2."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " "), " +", " "
        )
    )


def ngram_counts(
    docs: DataFrame,
    *,
    text_col: str = "text",
    n: int = 2,
    top_k: int | None = None,
) -> DataFrame:
    """Corpus n-gram frequency table (the LM-ish corpus statistic next to
    TF-IDF): whitespace tokens → in-array n-gram assembly via zip_with
    over shifted slices (no posexplode/window — zero extra shuffles) →
    explode → count. With ``top_k``: global (count desc, ngram asc)
    TakeOrderedAndProject. One agg shuffle total."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    sz = F.size(toks)
    grams = toks
    for i in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, i + 1, F.greatest(sz - i, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    out = (
        docs.select(F.explode(grams).alias("ngram"))
        .filter(F.col("ngram").isNotNull())
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if top_k:
        out = out.orderBy(F.col("n").desc(), F.col("ngram").asc()).limit(top_k)
    return out


#: PII patterns chosen for identical semantics in Java regex (Spark) and
#: RE2 (DuckDB): plain character classes + counted repetition only — no
#: lookaround or backreferences (RE2 has neither).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}",
}


def redact_patterns(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: dict[str, str] | None = None,
    replacement: str = "[REDACTED]",
) -> DataFrame:
    """PII redaction: replace every regex match with ``replacement`` and
    count matches per pattern — the scrub step of a training-data pipeline.
    North-star extension (SURVEY §2.11) — no reference counterpart.

    Narrow, shuffle-free, whole-stage-codegen (regexp_replace/regexp_count
    are JVM built-ins); patterns apply in sorted-name order so the output
    is deterministic. NULL text propagates NULL (counted as 0 matches on
    neither engine — both yield NULL counts, stringified identically)."""
    pats = patterns if patterns is not None else PII_PATTERNS
    red = F.col(text_col)
    counts = []
    for name in sorted(pats):
        counts.append(
            F.regexp_count(F.col(text_col), F.lit(pats[name]))
            .cast("bigint")
            .alias(f"n_{name}")
        )
        red = F.regexp_replace(red, pats[name], replacement)
    return df.select(F.col(id_col), red.alias("redacted"), *counts)


def chunk_tokens(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Token-window chunking with overlap — the context-window splitter of
    a RAG / LLM-pretraining pipeline (north-star extension, SURVEY §2.11 —
    no reference counterpart): document → whitespace tokens →
    chunks of ``size`` tokens advancing by ``size - overlap`` (the last
    chunk may be partial; every token belongs to ≥1 chunk).

    Pure array ops (split → sequence of starts → explode → slice): narrow
    until the explode, no shuffle at all, output rows ~ n_tokens/stride per
    doc. NULL-text docs are dropped (nothing to chunk).
    Output: id, chunk_idx (0-based), chunk_text, n_tokens."""
    if overlap >= size:
        raise ValueError(f"overlap ({overlap}) must be < size ({size})")
    stride = size - overlap
    toks = ws_tokens(text_col)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size(toks) - overlap, F.lit(1)),
        F.lit(stride),
    )
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("toks"), F.explode(starts).alias("st")
    )
    chunk = F.slice(F.col("toks"), F.col("st"), size)
    return base.select(
        id_col,
        # starts are 1 + k*stride, so integer div is exact; div (not /)
        # keeps the arithmetic integral end-to-end
        F.expr(f"(st - 1) div {stride}").cast("bigint").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
    )


def token_repetition(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-repetition profile — the quality signal that catches
    boilerplate/spam documents (north-star extension, SURVEY §2.11 — no
    reference counterpart) (a handful of tokens repeated many times):
    per document, total tokens, distinct tokens, and the highest single
    token's count, plus an integer-arithmetic repetitive flag
    (top_token_count·5 > n_tokens ⇔ one token exceeds 20% of the document).

    Relational shape (explode → two map-side-combinable aggs) so the
    distinct count never builds a per-doc set in driver memory; both
    shuffles key on doc id. Integer outputs only — cross-engine-exact."""
    tok = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"), F.explode(ws_tokens(text_col)).alias("tok")
    )
    per_tok = tok.groupBy("doc", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_tok.groupBy("doc")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.max("cnt").alias("top_token_count"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_tokens",
            "n_distinct_tokens",
            "top_token_count",
            (F.col("top_token_count") * 5 > F.col("n_tokens"))
            .cast("int")
            .alias("is_repetitive"),
        )
    )


def lm_bigram_score(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-LM document quality score — the CCNet/Gopher-style "language
    model perplexity" filter expressed relationally: train a bigram LM on
    the corpus ITSELF (conditional P(w2|w1) = c(w1,w2) / c(w1,·)) and
    score each document by its mean bigram log-probability. Documents full
    of corpus-typical word transitions score high; boilerplate/gibberish
    with rare transitions scores low — the standard pretraining-curation
    signal, with no external model artifact to ship.

    Output: ``id_col``, ``n_bigrams`` (bigint), ``lm_logprob_u`` (bigint —
    the sum of per-bigram ``floor(ln(p)*1e6)`` quanta; exact, mergeable),
    ``lm_score`` (double — ONE IEEE division ``lm_logprob_u/n_bigrams``,
    bit-stable cross-engine per the catalog float rules). Docs with no
    bigrams (<2 tokens or NULL text) are absent from the output.

    Plan shape at scale: bigrams are assembled INSIDE the token array
    (zip_with over shifted slices — no posexplode/window) then exploded
    once; the bigram-count table is one map-side-combinable agg of that
    explode; the left-context totals c(w1,·) come from RE-AGGREGATING the
    count table (no second pass over the fact bigrams — the
    target_encode_oof move); the probability join shuffles fact bigrams
    once against the one-row-per-bigram count table (AQE skew split
    handles hot function words); the per-doc rollup is the second and
    last fact shuffle.
    """
    toks = ws_tokens(F.lower(F.col(text_col)))
    sz = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(sz - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(sz - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = (
        docs.select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .filter(F.col("w2").isNotNull())
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__n12"))
    c1 = c12.groupBy("w1").agg(F.sum("__n12").alias("__n1"))
    q = c12.join(c1, "w1").select(
        "w1",
        "w2",
        F.floor(
            F.log(
                F.col("__n12").cast("double") / F.col("__n1").cast("double")
            )
            * 1e6
        )
        .cast("bigint")
        .alias("__q"),
    )
    return (
        bg.join(q, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("__q").cast("bigint").alias("lm_logprob_u"),
        )
        .withColumn(
            "lm_score",
            F.col("lm_logprob_u").cast("double")
            / F.col("n_bigrams").cast("double"),
        )
    )


#: BM25 per-(doc,term) contribution, µ-floored (float rule 3). ONE template
#: formatted with column names for BOTH engines, so Spark's F.expr and the
#: DuckDB oracle parse the exact same IEEE expression tree (left-assoc
#: *,/ — bit-identical; ln carries the same 1-ulp-then-floor contract as
#: tfidf/lm_bigram_score). avgdl never materializes: b*dl/avgdl is written
#: b*dl*N/totdl to stay in exact-int numerators as long as possible.
BM25_CONTRIB_SQL = (
    "CAST(FLOOR(ln((CAST({N} AS DOUBLE) - CAST({df} AS DOUBLE) + 0.5)"
    " / (CAST({df} AS DOUBLE) + 0.5) + 1.0)"
    " * (CAST({tf} AS DOUBLE) * CAST({k1p1} AS DOUBLE))"
    " / (CAST({tf} AS DOUBLE) + CAST({k1_1mb} AS DOUBLE)"
    "    + CAST({k1b} AS DOUBLE) * CAST({dl} AS DOUBLE)"
    "      * CAST({N} AS DOUBLE) / CAST({totdl} AS DOUBLE))"
    " * 1e6) AS BIGINT)"
)


def _bag_tokens(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, term) bag: whitespace split of trim(lower(text)), empties
    dropped; NULL text yields no rows (explode(NULL) ≡ unnest(NULL))."""
    return docs.select(
        F.col(id_col),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("term"),
    ).filter(F.col("term") != "")


def inverted_index(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_postings: int = 20,
) -> DataFrame:
    """Build a term → posting-list inverted index (the text-search-at-rest
    primitive; also the exchange format for distributed retrieval).

    Returns ``(term, n_df, postings)`` where ``postings`` is the first
    ``max_postings`` doc ids in ascending order, comma-joined. The df
    count is over ALL matching docs; only the materialized list is
    capped — at 100 TB a stopword's full posting list is the corpus
    itself, so the cap must bind BEFORE anything accumulates: the
    postings branch is a rank-limit window (WindowGroupLimit — each
    partition keeps ≤ ``max_postings`` rows per term before the
    shuffle-side sort; a collect_set-then-slice would hold the entire
    stopword set in one aggregation buffer first), and only the ≤ cap
    survivors reach collect_list. The df branch is a map-side-combined
    count. The distinct (doc,term) bag feeds both branches and is
    cached (ReuseExchange does not dedupe shared subtrees — CLAUDE.md);
    ``min_df`` drops hapax noise.
    """
    tok = (
        _bag_tokens(docs, id_col, text_col)
        .select(F.col(id_col), "term")
        .distinct()
        .cache()
    )
    dfreq = tok.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_df")
    )
    from pyspark.sql import Window

    capped = tok.withColumn(
        "__r",
        F.row_number().over(
            Window.partitionBy("term").orderBy(F.col(id_col).asc())
        ),
    ).filter(F.col("__r") <= max_postings)
    postings = capped.groupBy("term").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(id_col)),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings")
    )
    return (
        dfreq.filter(F.col("n_df") >= min_df).join(postings, "term")
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """BM25 ranking of documents against a fixed term query (Robertson/
    Sparck Jones; the Lucene-default scoring function) as a pure
    relational plan.

    Per-(doc,term) contributions are µ-floored bigints (BM25_CONTRIB_SQL
    — identical tree in the DuckDB oracle), summed exactly per doc, so
    the ranking is deterministic cross-engine. Shuffle shape: token bag
    → per-doc lengths (map-side combinable) + per-(doc,term) tf for the
    query terms only (term filter pushed before the shuffle); df and
    corpus stats are tiny aggregates broadcast back. Global top-k
    compiles to TakeOrderedAndProject — no full sort.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    tok = _bag_tokens(docs, id_col, text_col)
    # doc-length table feeds the corpus stats AND the scoring join —
    # cache it (one row per doc) so the token bag isn't re-counted
    dl = tok.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dl")
    ).cache()
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_dl").cast("bigint").alias("tot_dl"),
    )
    tf = (
        tok.filter(F.col("term").isin(query_terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tf"))
    )
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("n_df"))
    contrib = F.expr(
        BM25_CONTRIB_SQL.format(
            N="n_docs", df="n_df", tf="n_tf", dl="n_dl", totdl="tot_dl",
            k1p1=repr(k1 + 1.0), k1_1mb=repr(k1 * (1.0 - b)), k1b=repr(k1 * b),
        )
    )
    return (
        tf.join(F.broadcast(dfq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
            F.sum(contrib).cast("bigint").alias("bm25_u"),
        )
        .orderBy(F.col("bm25_u").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


#: Per-term KL contribution p_s·ln(p_s/p_c), µ-floored, in count-ratio
#: form (c_st/c_s)·ln((c_st·c_c)/(c_s·c_ct)) — one template, one IEEE
#: tree on both engines (int counts cast to double; products may exceed
#: 2^53 at corpus scale but round identically under the shared tree).
KL_CONTRIB_SQL = (
    "CAST(FLOOR((CAST({cst} AS DOUBLE) / CAST({cs} AS DOUBLE))"
    " * ln((CAST({cst} AS DOUBLE) * CAST({cc} AS DOUBLE))"
    "      / (CAST({cs} AS DOUBLE) * CAST({cct} AS DOUBLE)))"
    " * 1e6) AS BIGINT)"
)


def domain_divergence(
    docs: DataFrame,
    *,
    text_col: str = "text",
    domain_col: str = "source",
) -> DataFrame:
    """KL(domain ‖ corpus) over unigram distributions — the drift /
    contamination monitor for corpus mixtures ("did src17's language
    shift vs the blend?"). High KL = the domain's token distribution
    diverges from the pooled corpus.

    Pure count algebra: per-(domain,term) counts (map-side combinable),
    per-domain and per-term totals RE-AGGREGATED from that table (the
    token bag is scanned once), corpus total broadcast. Every term seen
    in a domain is in the corpus by construction, so the log argument is
    always positive and finite. Per-term contributions are µ-floored
    (KL_CONTRIB_SQL — tree shared with the oracle) and summed exactly.

    Returns (domain, n_terms, n_tokens, kl_u). NULL domains form their
    own row (grouped together) — they are a real slice of the corpus.
    """
    tok = docs.select(
        F.col(domain_col).alias("domain"),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    # the count table feeds cs, cct AND the final join — cache it or the
    # token-bag scan+count recomputes 3× (no ReuseExchange, CLAUDE.md);
    # it is the compacted (domain,term) table, far smaller than the bag
    cst = tok.groupBy("domain", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_st")
    ).cache()
    cs = cst.groupBy("domain").agg(F.sum("c_st").cast("bigint").alias("c_s"))
    cct = cst.groupBy("term").agg(F.sum("c_st").cast("bigint").alias("c_ct"))
    cc = cct.agg(F.sum("c_ct").cast("bigint").alias("c_c"))
    contrib = F.expr(
        KL_CONTRIB_SQL.format(cst="c_st", cs="c_s", cc="c_c", cct="c_ct")
    )
    return (
        cst.join(cs, "domain")
        .join(cct, "term")
        .crossJoin(F.broadcast(cc))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum("c_st").cast("bigint").alias("n_tokens"),
            F.sum(contrib).cast("bigint").alias("kl_u"),
        )
    )


def gopher_metric_exprs(
    text_col: str = "text",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
) -> tuple[Column, Column, dict[str, Column]]:
    """Per-document Gopher metric/flag EXPRESSIONS — ``(n_words,
    n_lines, {flag_name: boolean Column})`` over ``text_col``. Exposed
    so composers (``pipelines.corpus.corpus_profile``) can FUSE the
    columns into an existing projection instead of paying a second
    corpus scan plus an id join-back (VERDICT r9 #2);
    :func:`gopher_quality` is the query-surface wrapper.

    NON-LATIN-SCRIPT BIAS (ADVICE r9 #4, documented): mean word length
    is measured in UTF-8 BYTES (cross-engine determinism — see the
    sum_chars comment below), and Rae et al.'s [3, 10] mean-word-length
    gate was calibrated on English. Scripts whose code points encode as
    2 bytes (Cyrillic, Greek, Arabic, Hebrew) double the apparent mean
    word length, and CJK (3 bytes, usually unsegmented by whitespace)
    inflates it further — such documents systematically FAIL the
    mean-word-length flag and the [A-Za-z]-based alpha-word flag even
    when high-quality. These gates are English-corpus filters by
    construction; for multilingual corpora, route non-Latin documents
    (language-ID first) to per-script thresholds instead of reusing
    these constants. A code-point grain would shrink but not remove the
    bias (CJK stays unsegmented; astral code points still count 2 in
    UTF-16 engines), which is why byte grain + documentation was chosen
    over a silently-engine-divergent length()."""
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )
    lines = F.filter(
        F.split(F.col(text_col), r"\n"),
        lambda ln: F.trim(ln) != F.lit(""),
    )
    n_words = F.size(words).cast("bigint")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("bigint")
    # BYTE length, not character length: Spark length() counts UTF-16
    # code units (surrogate pairs = 2) while other engines count code
    # points — UTF-8 bytes are identical everywhere
    sum_chars = F.aggregate(
        F.transform(words, lambda w: F.octet_length(w).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    n_symbols = (
        F.size(F.filter(words, lambda w: w.contains("#")))
        + F.size(F.filter(words, lambda w: w.contains("...")))
        + F.size(F.filter(words, lambda w: w.contains("…")))
    ).cast("bigint")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda ln: F.trim(ln).rlike(r"^[-*•‣▪]"),
        )
    ).cast("bigint")
    n_ell_end = F.size(
        F.filter(
            lines,
            lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$"),
        )
    ).cast("bigint")
    n_alpha = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    ).cast("bigint")
    stops = ["the", "be", "to", "of", "and", "that", "have", "with"]
    n_stop = F.size(
        F.array_distinct(
            F.filter(
                F.transform(words, lambda w: F.lower(w)),
                lambda w: w.isin(stops),
            )
        )
    ).cast("bigint")
    flags = {
        "f_word_count": (n_words >= min_words) & (n_words <= max_words),
        "f_mean_len": (F.lit(3) * n_words <= sum_chars)
        & (sum_chars <= F.lit(10) * n_words),
        "f_symbol": F.lit(10) * n_symbols < n_words,
        "f_bullet": F.lit(10) * n_bullet < F.lit(9) * n_lines,
        "f_ellipsis": F.lit(10) * n_ell_end < F.lit(3) * n_lines,
        "f_alpha": F.lit(5) * n_alpha > F.lit(4) * n_words,
        "f_stop": n_stop >= 2,
    }
    return n_words, n_lines, flags


def gopher_quality(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, §A1.1 — the
    published heuristic gate most open-data pipelines reproduce): word
    count in [50, 100k], mean word length in [3, 10], symbol-to-word
    ratio (# or …) < 0.1, <90% of lines bullet-started, <30% of lines
    ellipsis-ended, >80% of words containing an alphabetic character,
    and ≥2 distinct common English stop words present.

    Every threshold is evaluated as an INTEGER cross-multiplication
    (``10·symbols < words`` instead of ``symbols/words < 0.1``), so the
    flags are exact on any engine — no float rule needed. Flags are INT
    (NULL BOOLEAN stringifies differently across engines — the CLAUDE.md
    type rule); ``gopher_pass`` is their conjunction. One narrow
    projection per document: no shuffle, no UDF — at 100 TB this is a
    zero-exchange scan stage like ``quality_filter``.

    Mean-word-length caveat: the length is UTF-8 BYTE length (exact
    cross-engine — Spark ``length()`` counts UTF-16 code units, other
    engines code points, bytes are identical everywhere), which matches
    Rae et al.'s character grain only for ASCII-dominant text. For
    2-byte-per-char scripts (Cyrillic, Greek) apparent mean word length
    doubles and the [3,10] gate systematically fails — a non-Latin
    corpus should localize ``f_mean_len`` bounds (ADVICE r9 #4).

    Output: (id, n_words, n_lines, f_word_count, f_mean_len, f_symbol,
    f_bullet, f_ellipsis, f_alpha, f_stop, gopher_pass).
    """
    n_words, n_lines, flags = gopher_metric_exprs(
        text_col, min_words=min_words, max_words=max_words
    )
    out = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        id_col,
        n_words.alias("n_words"),
        n_lines.alias("n_lines"),
        *[v.cast("int").alias(k) for k, v in flags.items()],
    )
    passes = None
    for k in flags:
        c = F.col(k) == 1
        passes = c if passes is None else (passes & c)
    return out.withColumn("gopher_pass", passes.cast("int"))


#: shared Spark/DuckDB expression template (the BM25/KL/DCG discipline):
#: µ-floored add-one-smoothed unigram log-probability. GREATEST guards an
#: EMPTY reference corpus (n+v = 0 → ln(1) = 0 per token, not ln(∞)).
LM_CONTRIB_SQL = (
    "CAST(FLOOR(ln((CAST({cw} AS DOUBLE) + 1.0)"
    " / GREATEST(CAST({n} AS DOUBLE) + CAST({v} AS DOUBLE), 1.0))"
    " * 1e6) AS BIGINT)"
)


def lm_score(
    docs: DataFrame,
    reference: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style language-model quality score: per document, the
    average unigram log-probability under an add-one-smoothed LM trained
    on a REFERENCE corpus (CCNet scores Common Crawl against a Wikipedia
    LM and keeps the low-perplexity head — the canonical model-based
    quality gate between heuristic ratios and a real neural filter).
    Higher (less negative) score = closer to the reference distribution;
    ``-lm_score`` is a pseudo-perplexity in nats.

    Pure count algebra at scale: the LM is one (term, count) table from
    the reference (cached — it feeds both the totals aggregate and the
    scoring join, S7; VOCAB-bounded, not corpus-sized, and it backs the
    returned lazy frame so it outlives the call by design — ADVICE r9
    #1 cache-lifetime audit) with its 1-row (N, V) totals broadcast; documents
    reduce to (doc, term, c_dt) counts (map-side combinable) LEFT-joined
    to the LM (unseen terms smooth to ln(1/(N+V))). Per-term
    contributions are µ-floored bigints (``LM_CONTRIB_SQL`` — one
    expression tree shared with the DuckDB oracle) scaled by the in-doc
    count and summed exactly; the final average is ONE IEEE division, so
    scores are cross-engine value-hashable. Tokens are lowercased
    whitespace tokens (the domain_divergence convention); documents with
    zero tokens have no distribution to score and are absent.

    Output: (id, n_tokens, logprob_u [µ-floored ln-prob sum, bigint],
    lm_score [avg ln-prob, double]).
    """
    def _bag(df: DataFrame, *cols: Column) -> DataFrame:
        return df.filter(F.col(text_col).isNotNull()).select(
            *cols,
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("term"),
        ).filter(F.col("term") != "")

    lm = _bag(reference).groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_w")
    ).cache()
    tot = lm.agg(
        F.coalesce(F.sum("c_w"), F.lit(0)).cast("bigint").alias("n_ref"),
        F.count(F.lit(1)).cast("bigint").alias("v_ref"),
    )
    dt = _bag(
        docs.filter(F.col(id_col).isNotNull()), F.col(id_col).alias("__d")
    ).groupBy("__d", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_dt")
    )
    contrib = F.col("c_dt") * F.expr(
        LM_CONTRIB_SQL.format(
            cw="COALESCE(c_w, CAST(0 AS BIGINT))", n="n_ref", v="v_ref"
        )
    )
    return (
        dt.join(lm, "term", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("__d")
        .agg(
            F.sum("c_dt").cast("bigint").alias("n_tokens"),
            F.sum(contrib).cast("bigint").alias("logprob_u"),
        )
        .select(
            F.col("__d").alias(id_col),
            "n_tokens",
            "logprob_u",
            (
                F.col("logprob_u").cast("double")
                / (F.col("n_tokens").cast("double") * F.lit(1e6))
            ).alias("lm_score"),
        )
    )


def boilerplate_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_rows: int = 3,
) -> DataFrame:
    """Cross-document repeated-span (boilerplate) detector — the
    CCNet/RefinedWeb-style pass that finds token n-grams shared verbatim
    by many documents (headers, footers, licence blocks, nav chrome) so
    a cleaning pipeline can strip or down-weight them.

    Distinct from :func:`ngram_counts` (total occurrence frequency):
    here each document contributes every span at most ONCE
    (``array_distinct`` INSIDE the token array — zero extra shuffle), so
    the count is document-prevalence, the boilerplate signal. Row-grain
    on purpose: duplicate ``id_col`` values count separately, keeping
    semantics identical to the SQL oracle without assuming id uniqueness.

    Shuffle shape at 100 TB: the only wide op is the final (ngram) agg
    — map-side combinable counts over md5-free raw spans; spans are
    n·avg-token bytes, bounded, and never the full document. The explode
    fan-out is ≤ tokens-per-doc per row (linear in corpus tokens, the
    same bound tokenization itself pays).

    Returns ``(ngram, n_rows, example_doc)`` for spans present in
    ≥ ``min_rows`` rows; ``example_doc`` is the minimum id for a stable,
    deterministic exemplar. Complements exact/MinHash dedup (reference
    py:214-262 deduplicates whole sessions; this targets sub-document
    repetition).
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    sz = F.size(toks)
    grams = toks
    for i in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, i + 1, F.greatest(sz - i, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.explode(F.array_distinct(grams)).alias("ngram"),
        )
        .filter(F.col("ngram").isNotNull())
        .groupBy("ngram")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("_id").alias("example_doc"),
        )
        .filter(F.col("n_rows") >= min_rows)
    )


def strip_boilerplate(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_rows: int = 3,
) -> DataFrame:
    """Remove cross-document boilerplate spans — the CLEANING half of
    :func:`boilerplate_spans` (which only detects): every token covered
    by an n-gram span shared verbatim by ≥ ``min_rows`` documents is
    dropped, and each document is rebuilt from its surviving tokens in
    original order. The RefinedWeb/CCNet repeated-content strip, at
    token-span grain (the fixture corpus has no line structure).

    Relational shape (no UDF anywhere):
    token rows (posexplode) → spans via ``lead`` windows per doc →
    document-prevalence count → semi-join spans to the prevalent set →
    covered positions via ``sequence`` explode (overlapping spans union
    naturally through the distinct) → anti-join tokens on (doc, pos) →
    rebuild with sort_array(collect_list(struct(pos, token))). At 100 TB
    the token explode is the heavy stage (same grain as inverted_index);
    the prevalent-span set is tiny by construction (prevalence ≥
    min_rows bounds it by corpus_spans/min_rows and in practice by the
    boilerplate vocabulary) so the semi join broadcasts. Fully covered
    documents come back with ``text_clean = ''`` rather than vanishing.

    Output: (id, n_tokens, n_removed, text_clean).
    """
    from pyspark.sql import Window

    base = docs.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(F.col(id_col).alias("__d"), F.col(text_col).alias("__text"))
    tok = base.select(
        "__d", F.posexplode(ws_tokens("__text")).alias("__p", "__t")
    )
    w = Window.partitionBy("__d").orderBy("__p")
    span = F.concat_ws(
        " ", F.col("__t"), *[F.lead("__t", j).over(w) for j in range(1, n)]
    )
    last = F.lead("__t", n - 1).over(w)
    spans = (
        tok.select("__d", F.col("__p").alias("__s"), span.alias("__span"),
                   last.alias("__last"))
        .filter(F.col("__last").isNotNull())
        .drop("__last")
    )
    prevalent = (
        spans.groupBy("__span")
        .agg(F.countDistinct("__d").alias("__nd"))
        .filter(F.col("__nd") >= min_rows)
        .select("__span")
    )
    covered = (
        spans.join(prevalent, "__span", "left_semi")
        .select(
            "__d",
            F.explode(
                F.sequence(F.col("__s"), F.col("__s") + F.lit(n - 1))
            ).alias("__p"),
        )
        .distinct()
    )
    kept = tok.join(covered, ["__d", "__p"], "left_anti")
    rebuilt = kept.groupBy("__d").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__p", "__t"))),
                lambda x: x["__t"],
            ),
            " ",
        ).alias("text_clean"),
    )
    totals = base.select(
        "__d", F.size(ws_tokens("__text")).cast("bigint").alias("n_tokens")
    )
    return totals.join(rebuilt, "__d", "left").select(
        F.col("__d").alias(id_col),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("__n_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
    )


def strip_repeated_lines(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
) -> DataFrame:
    """LINE-grain cross-document dedup — the CCNet paragraph/line pass
    (Wenzek et al. 2020 dedupe Common Crawl at paragraph hash grain
    before anything token-level): every non-blank line whose NORMALIZED
    form appears in ≥ ``min_docs`` DISTINCT documents (nav chrome,
    cookie banners, footers) is removed and each document is rebuilt
    from its surviving lines in original order. Complements
    :func:`strip_boilerplate` (token n-gram spans WITHIN lines — the two
    passes catch different geometry: whole repeated lines vs repeated
    runs embedded in unique lines).

    Relational shape: one posexplode by line, document-prevalence count
    on the 16-byte md5 of the normalized line (never the line text —
    the digest-shuffle rule), LEFT join back as a membership flag, then
    ONE groupBy per document produces n_lines, n_removed, AND the
    rebuilt text (the removal filter runs INSIDE the collected struct
    array). Blank/whitespace-only lines never count as repeated content
    and are preserved verbatim (structure, not content). Shuffles: one
    by digest (map-side combinable count), one by digest for the
    membership join, ONE by doc for the rebuild (the r9 form paid two).

    Cache story: nothing corpus-sized is cached. ``prevalent`` is
    bounded (digests in ≥ ``min_docs`` docs — the boilerplate
    vocabulary) and is eagerly ``localCheckpoint``-ed, so the line frame
    is tokenized twice (once under the checkpoint, once for the rebuild)
    — the duplicated_spans A/B measured cache-vs-retokenize as
    break-even inside noise, and retokenizing avoids a session-lifetime
    corpus-sized cache entirely.

    Output: (id, n_lines [non-blank], n_removed, text_clean).
    """
    lines = _line_rows(docs, id_col=id_col, text_col=text_col)
    prevalent = (
        lines.filter(F.col("__h").isNotNull())
        .groupBy("__h")
        .agg(F.countDistinct("__d").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__h", F.lit(1).alias("__rm"))
    )
    return _rebuild_without_flagged(lines, prevalent, id_col=id_col)


def _line_rows(
    docs: DataFrame, *, id_col: str, text_col: str
) -> DataFrame:
    """(__d, __p, __l, __h) positioned-line frame — ``__h`` is the
    16-byte md5 of the NORMALIZED line (lowercased, whitespace runs
    collapsed, trimmed), NULL for blank/whitespace-only lines. Shared
    by the batch-global line strip, the persisted prevalence artifact,
    and the incremental vs-corpus strip (all three agree on line
    identity)."""
    base = docs.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(F.col(id_col).alias("__d"), F.col(text_col).alias("__text"))
    return base.select(
        "__d", F.posexplode(F.split("__text", r"\n")).alias("__p", "__l")
    ).withColumn(
        "__h",
        F.when(
            F.trim("__l") != "",
            F.md5(F.trim(F.regexp_replace(F.lower("__l"), r"\s+", " "))),
        ),
    )


def _rebuild_without_flagged(
    lines: DataFrame, flagged_keys: DataFrame, *, id_col: str
) -> DataFrame:
    """Membership-join + single-groupBy rebuild shared by the line-strip
    tiers: drop lines whose ``__h`` appears in ``flagged_keys`` (cols
    ``__h, __rm``; bounded, so checkpointed here), rebuild each doc from
    survivors in original order (blank lines always survive). Output:
    (id, n_lines, n_removed, text_clean)."""
    with Iteration() as it:
        flagged = lines.join(it.checkpoint(flagged_keys).df, "__h", "left")
        out = flagged.groupBy("__d").agg(
            F.sum(F.when(F.col("__h").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_lines"),
            F.sum(F.when(F.col("__rm").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_removed"),
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "__p",
                                    F.col("__rm").isNotNull().alias("__r"),
                                    "__l",
                                )
                            )
                        ),
                        lambda x: ~x["__r"],
                    ),
                    lambda x: x["__l"],
                ),
                "\n",
            ).alias("text_clean"),
        )
        return it.result(out.select(
            F.col("__d").alias(id_col), "n_lines", "n_removed", "text_clean"
        ))


def line_prevalence_table(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "overwrite",
) -> None:
    """Persisted per-line document-prevalence counts ``(line_key,
    n_docs)`` — the at-rest artifact that makes the CCNet line pass
    INCREMENTAL (the ngram_count_table pattern at line grain, VERDICT
    r10 #5): the corpus's lines are hashed ONCE per snapshot; a daily
    batch strips against the table without re-reading corpus text.

    ``mode="append"`` is the COMMIT half: append a committed batch's
    per-line distinct-doc counts as delta rows; readers sum per key.
    EXACTNESS CONTRACT: increments must be DOC-DISJOINT (the daily-delta
    contract — each document is committed exactly once), so summed
    per-increment distinct-doc counts equal the union's distinct-doc
    count. Line keys are 16-byte md5 of the normalized line (the
    digest-shuffle rule); blank lines are never counted."""
    lines = _line_rows(docs, id_col=id_col, text_col=text_col)
    counts = (
        lines.filter(F.col("__h").isNotNull())
        .groupBy("__h")
        .agg(F.countDistinct("__d").cast("bigint").alias("n_docs"))
        .select(F.col("__h").alias("line_key"), "n_docs")
    )
    counts.write.mode(mode).parquet(path)


def strip_repeated_lines_vs_corpus(
    batch: DataFrame,
    *,
    corpus_lines: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
) -> DataFrame:
    """Incremental CCNet line strip — the daily-delta companion to
    :func:`strip_repeated_lines` (VERDICT r10 #5): a batch line is
    removed when its normalized form appears in ≥ ``min_docs`` DISTINCT
    documents across corpus ∪ batch, with the corpus represented ONLY
    by its persisted :func:`line_prevalence_table` (summed per key —
    append deltas are exact under the doc-disjoint contract): corpus
    text is never re-read.

    COMPOSITION INVARIANT (unit-locked + two-increment oracle):
    equals ``strip_repeated_lines(corpus ∪ batch)`` restricted to batch
    documents. Every batch line key reaches the prevalence decision
    through the batch side (a line absent from the batch cannot need
    stripping), so ONE left join from batch counts to the artifact
    decides membership; the bounded prevalent set is eagerly
    localCheckpoint-ed (no corpus-sized cache — the r10 rewrite rule).

    Output: (id, n_lines [non-blank], n_removed, text_clean).
    """
    lines = _line_rows(batch, id_col=id_col, text_col=text_col)
    bc = lines.filter(F.col("__h").isNotNull()).groupBy("__h").agg(
        F.countDistinct("__d").cast("bigint").alias("__bn")
    )
    # semi-join the artifact to the batch's line vocabulary before
    # aggregating (the duplicated_spans_vs_corpus rule): only keys the
    # batch contains can need stripping, so the corpus-grain table never
    # re-aggregates whole per daily batch
    cc = (
        corpus_lines.join(
            bc.select(F.col("__h").alias("line_key")), "line_key", "left_semi"
        )
        .groupBy("line_key")
        .agg(F.sum("n_docs").cast("bigint").alias("__cn"))
    )
    prevalent = (
        bc.join(cc, bc["__h"] == cc["line_key"], "left")
        .select(
            "__h",
            (F.col("__bn") + F.coalesce(F.col("__cn"), F.lit(0))).alias(
                "__nd"
            ),
        )
        .filter(F.col("__nd") >= min_docs)
        .select("__h", F.lit(1).alias("__rm"))
    )
    return _rebuild_without_flagged(lines, prevalent, id_col=id_col)


def mojibake_gate(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bad_pct: int = 1,
) -> DataFrame:
    """Encoding-damage gate — flag documents polluted by U+FFFD
    replacement characters (the tombstone every lossy decode leaves
    behind) or C0 control characters (NUL-family bytes that survive a
    bad charset sniff; tab/newline/CR are legitimate structure and
    excluded). The crawl-cleaning step before any token-level quality
    rule — mojibake inflates vocabulary and poisons dedup digests
    (north-star extension, SURVEY §2.11 — no reference counterpart).

    Narrow, shuffle-free, whole-stage codegen: two regexp counts + an
    integer cross-multiplication gate ``100·bad > max_bad_pct·chars``
    (code-point lengths on both engines, never a float ratio).

    Output: (id, n_chars, n_replacement, n_control, is_mojibake).
    """
    base = docs.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    )
    n_repl = F.regexp_count(F.col(text_col), F.lit("�")).cast(
        "bigint"
    )
    n_ctrl = F.regexp_count(
        F.col(text_col), F.lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]")
    ).cast("bigint")
    n_chars = F.length(F.col(text_col)).cast("bigint")
    return base.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_repl.alias("n_replacement"),
        n_ctrl.alias("n_control"),
        (
            100 * (n_repl + n_ctrl)
            > F.lit(int(max_bad_pct)) * n_chars
        )
        .cast("int")
        .alias("is_mojibake"),
    )


def length_outlier_gate(
    docs: DataFrame,
    *,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 32,
) -> DataFrame:
    """Per-domain robust length-outlier gate — Tukey's IQR fence over
    token counts, computed per source (north-star extension, SURVEY
    §2.11 — no reference counterpart). Absolute length cutoffs are wrong
    across domains (tweets vs papers); the robust per-domain fence
    [Q1 − 1.5·IQR, Q3 + 1.5·IQR] adapts, and quartiles (unlike mean/std)
    don't move when the outliers themselves are extreme.

    ALL-INTEGER arithmetic: quartiles are ORDER STATISTICS
    (percentile_disc semantics — the value at rank ceil(q·n), an actual
    observed count, deterministic under ties) and the 1.5 factor is the
    cross-multiplication ``2·v < 2·Q1 − 3·IQR`` — exact on any engine.

    Scale shape: one narrow token-count projection, ONE sharded global
    rank per group (range exchange + broadcast offset table — never a
    single-reducer per-domain window; the anomaly-MAD machinery), a
    groups-bounded quartile table broadcast back (null-safe equi-join so
    a NULL domain forms its own group rather than silently dropping).

    Output: (id, group, n_tok, q1, q3, is_outlier).
    """
    from bigdata_retailrocket_recsys_spark.operators.windows import (
        _sharded_global_rank,
    )

    counts = docs.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col),
        F.col(group_col),
        F.size(ws_tokens(text_col)).cast("bigint").alias("n_tok"),
    )
    ranked = _sharded_global_rank(
        counts,
        [F.col("n_tok"), F.col(id_col)],
        n_shards,
        [group_col],
    ).select(
        group_col,
        "n_tok",
        (F.col("__rn") + F.col("__off")).alias("__rank"),
        F.col("__n"),
    )
    q1pos = F.expr("(__n + 3) div 4")
    q3pos = F.expr("(3 * __n + 3) div 4")
    qs = ranked.groupBy(group_col).agg(
        F.max(F.when(F.col("__rank") == q1pos, F.col("n_tok")))
        .cast("bigint")
        .alias("q1"),
        F.max(F.when(F.col("__rank") == q3pos, F.col("n_tok")))
        .cast("bigint")
        .alias("q3"),
    )
    joined = counts.alias("c").join(
        F.broadcast(qs.alias("q")),
        F.col(f"c.{group_col}").eqNullSafe(F.col(f"q.{group_col}")),
    )
    iqr = F.col("q.q3") - F.col("q.q1")
    return joined.select(
        F.col(f"c.{id_col}").alias(id_col),
        F.col(f"c.{group_col}").alias(group_col),
        F.col("c.n_tok").alias("n_tok"),
        F.col("q.q1").alias("q1"),
        F.col("q.q3").alias("q3"),
        (
            (2 * F.col("c.n_tok") < 2 * F.col("q.q1") - 3 * iqr)
            | (2 * F.col("c.n_tok") > 2 * F.col("q.q3") + 3 * iqr)
        )
        .cast("int")
        .alias("is_outlier"),
    )


def c4_rules(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020 §2.2 — the T5 corpus
    filter), completing the published-heuristic gate family next to
    Gopher (§A1.1/§A1.2), CCNet and DSIR:

    - LINE level: keep only lines that end in terminal punctuation
      (``. ! ? "``) AND contain ≥ ``min_words_per_line`` whitespace
      words; the document is rebuilt from kept lines in order.
    - PAGE level: drop (flag) documents with fewer than
      ``min_sentences`` sentences (terminal-punctuation count over the
      KEPT text), any curly brace (code), or the phrase "lorem ipsum"
      anywhere in the ORIGINAL text (case-insensitive) — the brace and
      lorem probes run on the raw page, as in C4.

    (The C4 bad-word-list rule is corpus-policy, not engine mechanics —
    supply it as an extra filter if needed.)

    Scale story: ALL array higher-order functions on the line array —
    narrow, zero shuffle, whole-stage codegen; per-element regexes are
    line-local so there is no re-tokenize blow-up. Every flag is an
    integer; ``text_clean`` is the kept-lines rebuild.

    Output: (id, n_lines, n_kept_lines, n_sentences, has_brace,
    has_lorem, c4_pass, text_clean).
    """
    base = docs.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    )
    lines = F.split(F.col(text_col), r"\n")
    kept = F.filter(
        lines,
        lambda l: F.trim(l).rlike('[.!?"]$')
        & (F.size(F.split(F.trim(l), r"\s+")) >= min_words_per_line),
    )
    out = base.select(
        F.col(id_col),
        F.col(text_col).alias("__text"),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_kept_lines"),
        F.array_join(kept, "\n").alias("text_clean"),
    )
    n_sent = F.regexp_count(F.col("text_clean"), F.lit("[.!?]")).cast(
        "bigint"
    )
    has_brace = (
        F.contains(F.col("__text"), F.lit("{"))
        | F.contains(F.col("__text"), F.lit("}"))
    ).cast("int")
    has_lorem = F.contains(
        F.lower(F.col("__text")), F.lit("lorem ipsum")
    ).cast("int")
    return out.select(
        id_col,
        "n_lines",
        "n_kept_lines",
        n_sent.alias("n_sentences"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem"),
        (
            (n_sent >= min_sentences)
            & (has_brace == 0)
            & (has_lorem == 0)
        )
        .cast("int")
        .alias("c4_pass"),
        "text_clean",
    )


def source_overlap_matrix(
    docs: DataFrame,
    *,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Cross-source n-gram overlap matrix — for every pair of sources,
    how much distinct shingle vocabulary they share (north-star
    extension, SURVEY §2.11 — no reference counterpart). The corpus
    diagnostic behind mixture design and leakage triage: a high-overlap
    source pair means one is a mirror/re-crawl of the other (dedup
    before mixing) or a contamination channel into an eval split.

    Relational shape: distinct (source, shingle-digest) rows — shuffles
    16-byte md5 digests, never shingle text — then a digest self-join
    (src_a < src_b) counts shared vocabulary; per-source totals and the
    full pair grid come from a source-cardinality-bounded frame joined
    broadcast. Pairs sharing nothing still appear (n_shared = 0).
    Shingles come from the tokenize-once lead-window producer
    (``shingle_rows`` with the source carried through the explode — the
    array-HOF ``shingles()`` form re-tokenizes per position and measured
    ~7× slower end-to-end at 50k docs); the distinct digest frame feeds
    three consumers (sizes + both join sides) so it is S7-cached, and —
    the island pattern — the bounded |sources|² output is eagerly
    localCheckpoint-ed and the cache released before returning.

    Scale note: the self-join emits C(k,2) rows per digest where k =
    #sources containing that shingle — total cost Σ_digest C(k,2),
    bounded by |distinct digests| · C(|sources|,2). Fine for the
    hundreds-of-domains regime this report targets; for web-scale
    domain counts, pre-bucket sources or sample digests upstream.

    Output: (src_a, src_b, n_a, n_b, n_shared, jaccard, overlap_coef) —
    exact integers plus two single IEEE divisions (cross-engine-safe).
    """
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        shingle_rows,
    )

    base = docs.filter(
        F.col(group_col).isNotNull()
        & F.col(id_col).isNotNull()
        & F.col(text_col).isNotNull()
    )
    with Iteration() as it:
        sh = it.cache(
            shingle_rows(
                base,
                id_col=id_col,
                text_col=text_col,
                n=shingle_n,
                distinct=False,
                carry_cols=[group_col],
            )
            .filter(F.col("shingle") != "")
            .select(
                F.col(group_col).alias("__g"), F.md5("shingle").alias("__h")
            )
            .distinct()
        )
        sizes = sh.groupBy("__g").agg(F.count(F.lit(1)).alias("n_sh"))
        common = (
            sh.alias("a")
            .join(
                sh.alias("b"),
                (F.col("a.__h") == F.col("b.__h"))
                & (F.col("a.__g") < F.col("b.__g")),
            )
            .groupBy(
                F.col("a.__g").alias("src_a"), F.col("b.__g").alias("src_b")
            )
            .agg(F.count(F.lit(1)).alias("n_shared"))
        )
        grid = (
            sizes.alias("sa")
            .join(
                F.broadcast(sizes.alias("sb")),
                F.col("sa.__g") < F.col("sb.__g"),
            )
            .select(
                F.col("sa.__g").alias("src_a"),
                F.col("sb.__g").alias("src_b"),
                F.col("sa.n_sh").alias("n_a"),
                F.col("sb.n_sh").alias("n_b"),
            )
        )
        out = grid.join(common, ["src_a", "src_b"], "left").select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint").alias(
                "n_shared"
            ),
        )
        shared = F.col("n_shared").cast("double")
        result = out.select(
            "*",
            (shared / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast(
                "double"
            )).alias("jaccard"),
            (shared / F.least("n_a", "n_b").cast("double")).alias(
                "overlap_coef"
            ),
        )
        return it.result(it.checkpoint(result).df)


def dedup_lines_within(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """WITHIN-document repeated-line dedup — keep the FIRST occurrence of
    each normalized non-blank line inside a document and drop later
    repeats (north-star extension, SURVEY §2.11 — no reference
    counterpart). The complement of :func:`strip_repeated_lines` at the
    opposite grain: that pass removes lines prevalent ACROSS documents
    (nav chrome); this one removes a document's OWN internal repetition
    (scraped pages that stutter the same paragraph, log spam, copy-paste
    loops) without any cross-document state at all.

    Relational shape: posexplode by line, first-occurrence flag via
    ``row_number() over (partition by doc, line-digest order by pos)``
    (blank/whitespace-only lines are structure, not content — ALL are
    preserved, never deduped), then ONE groupBy per document rebuilds the
    text from kept lines in original order. Two exchanges — by
    (doc, digest) for the window, by doc for the rebuild — both keyed on
    16-byte md5 digests of normalized lines, never line text. Nothing is
    cached; per-key state is one window row.

    Output: (id, n_lines [non-blank], n_removed, text_clean).
    """
    from pyspark.sql.window import Window

    base = docs.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(F.col(id_col).alias("__d"), F.col(text_col).alias("__text"))
    lines = base.select(
        "__d", F.posexplode(F.split("__text", r"\n")).alias("__p", "__l")
    ).withColumn(
        "__h",
        F.when(
            F.trim("__l") != "",
            F.md5(F.trim(F.regexp_replace(F.lower("__l"), r"\s+", " "))),
        ),
    )
    w = Window.partitionBy("__d", "__h").orderBy("__p")
    flagged = lines.withColumn(
        "__keep",
        F.col("__h").isNull() | (F.row_number().over(w) == 1),
    )
    out = flagged.groupBy("__d").agg(
        F.sum(F.when(F.col("__h").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_lines"),
        F.sum(F.when(~F.col("__keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("__p", "__keep", "__l"))
                    ),
                    lambda x: x["__keep"],
                ),
                lambda x: x["__l"],
            ),
            "\n",
        ).alias("text_clean"),
    )
    return out.select(
        F.col("__d").alias(id_col), "n_lines", "n_removed", "text_clean"
    )


def gopher_repetition(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher REPETITION rules (Rae et al. 2021, §A1.2 — the companion
    to the §A1.1 quality gate in :func:`gopher_quality`): documents
    dominated by repeated content are filtered on four published
    signals — duplicate-line fraction (≤ 0.30), duplicate-line
    CHARACTER fraction (≤ 0.20), top-2-gram character fraction
    (≤ 0.20), and duplicated-5-gram character fraction (≤ 0.15).

    Conventions, stated exactly (open reproductions vary):

    - lines are non-blank ``\\n``-split lines, compared TRIMMED but
      otherwise verbatim; a line occurring c times contributes c−1
      duplicate occurrences (the first is content, repeats are dups).
    - n-grams are lowercased whitespace-token n-grams, FULL windows
      only; "characters" are UTF-8 BYTES of the space-joined gram (the
      cross-engine rule from gopher_quality), counted over ALL
      occurrences for the dup-5-gram rule (Rae et al. count characters
      "contained in" duplicated n-grams; overlap is not deduplicated —
      the standard approximation) and over the single most frequent
      2-gram (ties broken lexicographically) for the top-2-gram rule.
    - denominators: total non-blank-line bytes for the line-char rule,
      total trimmed text bytes for the n-gram rules, line count for the
      line rule.

    Every rule is an INTEGER cross-multiplication (``10·dup ≤ 3·n`` for
    0.30), so flags — and every output column — are exact on any
    engine; zero-denominator documents pass vacuously (0 ≤ 0).
    ``rep_pass`` is the conjunction.

    Scale shape: three map-side-combinable (doc, unit) → doc aggregate
    chains (lines, 2-grams, 5-grams), each keyed by doc id; no windows
    except the per-doc top-1 (rank-limit pushed by WindowGroupLimit),
    no UDFs, nothing cached. Output: (id, n_lines, dup_line_u,
    dup_line_chars_u, tot_line_chars, tot_chars, top2_chars,
    dup5_chars, f_dup_line, f_dup_line_chars, f_top2, f_dup5,
    rep_pass).
    """
    from pyspark.sql import Window

    base = docs.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("__d"),
        F.col(text_col).alias("__text"),
        F.octet_length(F.trim(F.col(text_col)))
        .cast("bigint")
        .alias("tot_chars"),
    )

    lines = base.select(
        "__d",
        F.explode(
            F.filter(
                F.split("__text", r"\n"), lambda ln: F.trim(ln) != F.lit("")
            )
        ).alias("__l"),
    ).select("__d", F.trim("__l").alias("__l"))
    lstat = (
        lines.groupBy("__d", "__l")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("__d")
        .agg(
            F.sum("c").cast("bigint").alias("n_lines"),
            F.sum(F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0))
            .cast("bigint")
            .alias("dup_line_u"),
            F.sum(F.col("c") * F.octet_length("__l"))
            .cast("bigint")
            .alias("tot_line_chars"),
            F.sum(
                F.when(
                    F.col("c") > 1,
                    (F.col("c") - 1) * F.octet_length("__l"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("dup_line_chars_u"),
        )
    )

    def _gram_rows(n: int) -> DataFrame:
        toks = ws_tokens(F.lower(F.col("__text")))
        grams = toks
        for i in range(1, n):
            grams = F.zip_with(
                grams,
                F.slice(toks, i + 1, F.greatest(F.size(toks) - i, F.lit(0))),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        return (
            base.select("__d", F.explode(grams).alias("g"))
            .filter(F.col("g").isNotNull())
            .groupBy("__d", "g")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    w2 = Window.partitionBy("__d").orderBy(F.col("c").desc(), F.col("g").asc())
    top2 = (
        _gram_rows(2)
        .withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") == 1)
        .select(
            "__d",
            (F.col("c") * F.octet_length("g"))
            .cast("bigint")
            .alias("top2_chars"),
        )
    )
    dup5 = _gram_rows(5).groupBy("__d").agg(
        F.sum(
            F.when(F.col("c") > 1, F.col("c") * F.octet_length("g")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("dup5_chars")
    )

    j = (
        base.select("__d", "tot_chars")
        .join(lstat, "__d", "left")
        .join(top2, "__d", "left")
        .join(dup5, "__d", "left")
        .select(
            "__d",
            "tot_chars",
            *[
                F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
                for c in [
                    "n_lines",
                    "dup_line_u",
                    "tot_line_chars",
                    "dup_line_chars_u",
                    "top2_chars",
                    "dup5_chars",
                ]
            ],
        )
    )
    flags = {
        "f_dup_line": F.lit(10) * F.col("dup_line_u")
        <= F.lit(3) * F.col("n_lines"),
        "f_dup_line_chars": F.lit(10) * F.col("dup_line_chars_u")
        <= F.lit(2) * F.col("tot_line_chars"),
        "f_top2": F.lit(10) * F.col("top2_chars")
        <= F.lit(2) * F.col("tot_chars"),
        "f_dup5": F.lit(100) * F.col("dup5_chars")
        <= F.lit(15) * F.col("tot_chars"),
    }
    out = j.select(
        F.col("__d").alias(id_col),
        "n_lines",
        "dup_line_u",
        "dup_line_chars_u",
        "tot_line_chars",
        "tot_chars",
        "top2_chars",
        "dup5_chars",
        *[v.cast("int").alias(k) for k, v in flags.items()],
    )
    passes = None
    for k in flags:
        c = F.col(k) == 1
        passes = c if passes is None else (passes & c)
    return out.withColumn("rep_pass", passes.cast("int"))


def token_entropy(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document token (Shannon) entropy in nats — the standard
    lexical-diversity quality signal between :func:`token_repetition`'s
    top-token share and a real LM score: near-0 entropy is one token
    repeated (spam), ln(n) is all-distinct tokens; machine-generated
    keyword stuffing and template boilerplate sit far below natural
    text for the same length.

    Cross-engine determinism (the LM_CONTRIB_SQL discipline): H =
    ln(n) − Σ c·ln(c)/n is computed as an ALL-INTEGER numerator
    ``n·⌊ln(n)·1e6⌋ − Σ c·⌊ln(c)·1e6⌋`` (per-count µ-floored ln, summed
    exactly) over denominator ``n·1e6`` — ONE IEEE division at the end,
    so even the double value-hashes. ``is_low_entropy`` (< 1 nat) is an
    integer comparison on the numerator. Tokens are lowercased
    whitespace tokens (the lm_score convention); zero-token docs are
    absent (no distribution to score).

    Scale shape: explode → (doc, token) count → per-doc aggregate, both
    map-side combinable, keyed by doc id; no window, no UDF, no cache.
    Output: (id, n_tokens, n_distinct, entropy_u [bigint numerator],
    entropy [double, nats], is_low_entropy [int]).
    """
    tok = docs.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("__d"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("__t"),
    ).filter(F.col("__t") != "")
    cnt = tok.groupBy("__d", "__t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    ln_u = "CAST(FLOOR(ln(CAST({x} AS DOUBLE)) * 1e6) AS BIGINT)"
    per = cnt.groupBy("__d").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(F.col("c") * F.expr(ln_u.format(x="c")))
        .cast("bigint")
        .alias("__sum_clnc"),
    )
    entropy_u = (
        F.col("n_tokens") * F.expr(ln_u.format(x="n_tokens"))
        - F.col("__sum_clnc")
    ).cast("bigint")
    return per.select(
        F.col("__d").alias(id_col),
        "n_tokens",
        "n_distinct",
        entropy_u.alias("entropy_u"),
        (
            entropy_u.cast("double")
            / (F.col("n_tokens").cast("double") * F.lit(1e6))
        ).alias("entropy"),
        (entropy_u < F.col("n_tokens") * F.lit(1_000_000))
        .cast("int")
        .alias("is_low_entropy"),
    )


def ngram_diversity(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
) -> DataFrame:
    """Per-domain lexical diversity at 1/2/3-gram grain — the corpus-QA
    degeneracy report (self-repetition / templated-text detection at the
    SOURCE grain, where :func:`token_entropy` and
    :func:`gopher_repetition` score single documents). A domain whose
    distinct-trigram share collapses is boilerplate-heavy or
    machine-generated even when each individual page looks fine —
    the aggregate-grain signal corpus curators cut sources on
    (type-token ratio / distinct-n-gram diversity, the Self-BLEU-family
    statistic computable exactly at 100 TB).

    Tokenizes ONCE (posexplode) and forms bigrams/trigrams with lead()
    windows per doc — the shingle_rows discipline; NEVER an array-HOF
    over an inlined tokenize (the r10 re-tokenize-per-position lesson).
    Shuffle shape: one exchange by doc for the lead windows, then one
    grouped multi-distinct aggregate by domain (Expand ×3, partial
    distinct map-side). All outputs exact integers; the three diversity
    ratios are integer-div ppm (distinct·1e6 div instances), NULL for a
    grain with zero instances. NULL domains group together (a real
    corpus slice); NULL id/text rows contribute nothing.

    Output: (domain, n_tokens, n_uni, n_big_inst, n_big, n_tri_inst,
    n_tri, ttr_ppm, big_ppm, tri_ppm).
    """
    from pyspark.sql import Window

    tok = (
        docs.filter(F.col(id_col).isNotNull() & F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("__d"),
            F.col(domain_col).alias("domain"),
            F.posexplode(ws_tokens(F.lower(F.col(text_col)))).alias(
                "__pos", "__t"
            ),
        )
        .filter(F.col("__t") != "")
    )
    w = Window.partitionBy("__d").orderBy("__pos")
    l1, l2 = F.lead("__t", 1).over(w), F.lead("__t", 2).over(w)
    grams = tok.select(
        "domain",
        F.col("__t").alias("uni"),
        F.when(l1.isNotNull(), F.concat_ws(" ", F.col("__t"), l1)).alias(
            "big"
        ),
        F.when(
            l1.isNotNull() & l2.isNotNull(),
            F.concat_ws(" ", F.col("__t"), l1, l2),
        ).alias("tri"),
    )
    agg = grams.groupBy("domain").agg(
        F.count("uni").cast("bigint").alias("n_tokens"),
        F.countDistinct("uni").cast("bigint").alias("n_uni"),
        F.count("big").cast("bigint").alias("n_big_inst"),
        F.countDistinct("big").cast("bigint").alias("n_big"),
        F.count("tri").cast("bigint").alias("n_tri_inst"),
        F.countDistinct("tri").cast("bigint").alias("n_tri"),
    )

    def _ppm(dis: str, inst: str):
        return F.when(
            F.col(inst) > 0,
            F.expr(f"({dis} * CAST(1000000 AS BIGINT)) div {inst}"),
        ).cast("bigint")

    return agg.select(
        "domain",
        "n_tokens",
        "n_uni",
        "n_big_inst",
        "n_big",
        "n_tri_inst",
        "n_tri",
        _ppm("n_uni", "n_tokens").alias("ttr_ppm"),
        _ppm("n_big", "n_big_inst").alias("big_ppm"),
        _ppm("n_tri", "n_tri_inst").alias("tri_ppm"),
    )


def bm25_hard_negatives(
    corpus: DataFrame,
    query_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "q_id",
    qtext_col: str = "q_text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 5,
    positives: DataFrame | None = None,
) -> DataFrame:
    """Hard-negative mining for embedding/contrastive training: for each
    query document, the top-k BM25-scored corpus documents that are NOT
    the query itself (nor a known positive) — lexically confusable
    neighbors, the negatives that actually teach a bi-encoder (DPR /
    sentence-transformers practice; random negatives are too easy).

    Relational shape, scale-first: the query set is benchmark-sized by
    contract, so the distinct (qid, term) table BROADCASTS past the
    corpus scan; the corpus reduces to per-(doc, term) tf restricted to
    query terms BEFORE any join (semi-join on the broadcast term set —
    the filter-pushdown of retrieval), plus a cached one-row-per-doc
    length table; df and corpus totals are tiny broadcast aggregates.
    Scoring sums µ-floored BM25_CONTRIB_SQL bigints (the exact tree the
    DuckDB oracle parses), so ranking is deterministic cross-engine
    (bm25_u DESC, doc id ASC). The per-query top-k is a rank-limit
    window partitioned by qid (WindowGroupLimit — each partition keeps
    <= top_k rows per query before the sort).

    ``positives``: optional (qid_col, id_col) pairs anti-joined out
    (labeled true pairs must not become negatives). Output:
    (qid, neg_id, n_terms_hit, bm25_u, rank).

    EAGER: the output is bounded (≤ queries × top_k rows), so it is
    checkpointed and the corpus-sized per-doc length cache is released
    before returning (ADVICE r10 closed: a lazily-returned frame would
    pin the 10M-row dl cache in executor storage for the session).
    """
    from pyspark.sql import Window

    qterms = (
        query_docs.filter(
            F.col(qid_col).isNotNull() & F.col(qtext_col).isNotNull()
        )
        .select(
            F.col(qid_col).alias("qid"),
            F.explode(
                F.split(F.trim(F.lower(F.col(qtext_col))), r"\s+")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    tok = _bag_tokens(corpus, id_col, text_col)
    with Iteration() as it:
        dl = it.cache(
            tok.groupBy(id_col).agg(F.count(F.lit(1)).cast("bigint").alias("n_dl"))
        )
        stats = dl.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_dl").cast("bigint").alias("tot_dl"),
        )
        tf = (
            tok.join(
                F.broadcast(qterms.select("term").distinct()), "term", "semi"
            )
            .groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tf"))
        )
        dfq = tf.groupBy("term").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_df")
        )
        contrib = F.expr(
            BM25_CONTRIB_SQL.format(
                N="n_docs", df="n_df", tf="n_tf", dl="n_dl", totdl="tot_dl",
                k1p1=repr(k1 + 1.0), k1_1mb=repr(k1 * (1.0 - b)), k1b=repr(k1 * b),
            )
        )
        scored = (
            tf.join(F.broadcast(qterms), "term")
            .join(F.broadcast(dfq), "term")
            .join(dl, id_col)
            .crossJoin(F.broadcast(stats))
            .filter(F.col("qid") != F.col(id_col))
            .groupBy("qid", id_col)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
                F.sum(contrib).cast("bigint").alias("bm25_u"),
            )
        )
        if positives is not None:
            pos = positives.select(
                F.col(qid_col).alias("qid"), F.col(id_col)
            )
            scored = scored.join(pos, ["qid", id_col], "anti")
        w = Window.partitionBy("qid").orderBy(
            F.col("bm25_u").desc(), F.col(id_col).asc()
        )
        out = (
            scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= top_k)
            .select(
                F.col("qid"),
                F.col(id_col).alias("neg_id"),
                "n_terms_hit",
                "bm25_u",
                "rank",
            )
        )
        return it.result(it.checkpoint(out).df)


def readability_scores(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flesch-Kincaid-style readability proxy per document — the classic
    pedagogical-complexity quality signal (too-low grade = fragment
    spam, absurdly-high = OCR damage / run-on boilerplate), cheap
    enough to run at crawl scale because every input is a regex count:
    words (whitespace tokens), sentences (terminal-punctuation runs),
    syllable proxy (vowel-group runs — the standard cheap
    approximation). All-integer outputs: the two ratios are integer-div
    ppm, and the grade is the FK linear form with µ-scaled integer
    coefficients and zero-guarded divisors —
    ``fk_u = 390000·w div max(s,1) + 11800000·syl div max(w,1)
    − 15590000`` (grade ×1e6) — deterministic on any engine, no
    floats anywhere. Zero shuffle: a pure projection over the scan.

    Output: (id, n_words, n_sentences, n_syllables, wps_ppm, spw_ppm,
    fk_u).
    """
    t = F.lower(F.col(text_col))
    w = F.size(F.filter(ws_tokens(t), lambda x: x != "")).cast("bigint")
    s = F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")).cast("bigint")
    syl = F.regexp_count(t, F.lit(r"[aeiouy]+")).cast("bigint")
    base = docs.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col),
        w.alias("n_words"),
        s.alias("n_sentences"),
        syl.alias("n_syllables"),
    )
    return base.select(
        id_col,
        "n_words",
        "n_sentences",
        "n_syllables",
        F.expr(
            "(n_words * CAST(1000000 AS BIGINT))"
            " div greatest(n_sentences, 1)"
        ).alias("wps_ppm"),
        F.expr(
            "(n_syllables * CAST(1000000 AS BIGINT))"
            " div greatest(n_words, 1)"
        ).alias("spw_ppm"),
        F.expr(
            "(n_words * CAST(390000 AS BIGINT))"
            " div greatest(n_sentences, 1)"
            " + (n_syllables * CAST(11800000 AS BIGINT))"
            " div greatest(n_words, 1)"
            " - CAST(15590000 AS BIGINT)"
        ).alias("fk_u"),
    )


#: Per-bigram PMI contribution, µ-floored — ONE template formatted with
#: column names for BOTH engines (the KL_CONTRIB_SQL discipline:
#: identical IEEE tree, so the bigint PMI values value-hash). PMI =
#: ln( c_ab·N / (c_a·c_b) ) over bigram-event counts.
PMI_CONTRIB_SQL = (
    "CAST(FLOOR(ln((CAST({cab} AS DOUBLE) * CAST({n} AS DOUBLE))"
    "             / (CAST({ca} AS DOUBLE) * CAST({cb} AS DOUBLE)))"
    " * 1e6) AS BIGINT)"
)


def collocations_pmi(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Collocation mining — the top-k adjacent word pairs by pointwise
    mutual information (Church & Hanks 1990): bigrams whose joint
    frequency beats the independence expectation ("new york",
    "machine learning"), the classic phrase-detection / tokenizer-
    merge-candidate surface. ``min_count`` suppresses the PMI
    low-frequency pathology (a 1-occurrence pair of two hapaxes maxes
    PMI).

    Determinism: counts are exact bigints from ONE tokenize-once
    lead-window pass (corpus-wide — no per-doc state); unigram margins
    are the bigram table's own left/right sums, so p(a), p(b), p(ab)
    share one event space; PMI is µ-floored through PMI_CONTRIB_SQL
    (the KL/BM25 shared-template discipline — both engines parse the
    identical IEEE tree) and ranked on the exact bigint with a total
    (pmi_u DESC, w1, w2) tiebreak; the global top-k is a
    TakeOrderedAndProject, never a full sort.

    Output: (w1, w2, n_ab, n_a, n_b, pmi_u) — ≤ top_k rows.
    """
    from pyspark.sql import Window

    base = docs.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("__d"),
        F.posexplode(ws_tokens(text_col)).alias("__p", "__t"),
    )
    w = Window.partitionBy("__d").orderBy("__p")
    big = (
        base.select(
            F.col("__t").alias("w1"),
            F.lead("__t", 1).over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    with Iteration() as it:
        # margins from the SAME bigram event space (left/right position
        # counts) — cached: three consumers (S7)
        cab = it.cache(
            big.groupBy("w1", "w2").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_ab")
            )
        )
        ca = cab.groupBy("w1").agg(F.sum("n_ab").cast("bigint").alias("n_a"))
        cb = cab.groupBy("w2").agg(F.sum("n_ab").cast("bigint").alias("n_b"))
        n = cab.agg(F.sum("n_ab").cast("bigint").alias("__n"))
        contrib = F.expr(
            PMI_CONTRIB_SQL.format(cab="n_ab", n="__n", ca="n_a", cb="n_b")
        )
        out = (
            cab.filter(F.col("n_ab") >= min_count)
            .join(ca, "w1")
            .join(cb, "w2")
            .crossJoin(F.broadcast(n))
            .select("w1", "w2", "n_ab", "n_a", "n_b", contrib.alias("pmi_u"))
            .orderBy(F.col("pmi_u").desc(), F.col("w1").asc(), F.col("w2").asc())
            .limit(top_k)
        )
        return it.result(it.checkpoint(out).df)  # bounded top-k
