r"""Shared DuckDB oracle fragments — one statement per Spark operator twin.

The catalog checks each operator against an independent DuckDB oracle
(``__spark_entry__.oracle_sql()``). Many oracles replay the same operator
(the corpus quality gate, word shingles, md5 MinHash bands, connected
components, ...), so each replay is written once here and the catalog
entries splice it in with ``str.format`` (or an f-string). Most fragments
render one or more complete CTE definitions, ``name AS (...)`` up to the
closing parenthesis, at the catalog's layout: the CTE head at 4 spaces,
its body at 8. An entry writes ``WITH {gate}, keepers AS (`` and formats
``gate=quality_gate()`` in. A few render a select list or an expression
(``gopher_counts``, ``lm_logprob``) or a whole oracle
(``simhash_md5_pairs``).

The rendered SQL is the oracle contract: ``tests/test_oracle_manifest.py``
locks every oracle's text by sha256, so a fragment edit that changes a
byte fails there before it can change the SQL the oracle check runs. The docstring
of each fragment names the Spark function it mirrors; a change to that
function's rule changes the fragment, and with it every oracle that
replays it. The MinHash and shingle fragments read the same
``pipelines.corpus`` constants as the Spark entries they check.
"""

from __future__ import annotations

from bigdata_retailrocket_recsys_spark.pipelines.corpus import (
    LINE_MIN_DOCS,
    NEAR_DUP_BANDS,
    NEAR_DUP_NUM_HASHES,
    SHINGLE_N,
    SUBSTRING_MIN_OCCURRENCES,
    SUBSTRING_N,
)


def _norm_digest(indent: int) -> str:
    """``md5(normalized text)``, the key of ``operators.dedup.exact_dedup(
    normalize=True)``: lower-case, non-[a-z0-9 ] → space, collapse spaces,
    trim. ``indent`` is the continuation line's indentation."""
    return (
        "md5(trim(regexp_replace(regexp_replace(lower(text),\n"
        + " " * indent
        + "'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))"
    )


def corpus_base() -> str:
    """The corpus pipeline's input rows ``base``: documents with a
    non-NULL id and text (``pipelines.corpus.build_corpus``'s first
    filter)."""
    return """base AS (
        SELECT doc_id, text, source FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    )"""


def quality_gate(
    src: str = "base", keep: str = "doc_id, text, source"
) -> str:
    """``operators.text.quality_filter`` at the corpus pipeline's gate:
    score = 0.5·min(n_toks/64, 1) + 0.25·(1 − min(4·punct share, 1))
    + 0.25·(1 − min(4·digit share, 1)) ≥ 0.5 and n_toks ≥ 5. Renders
    the ``qf`` feature CTE over ``src`` and the ``gated`` survivors,
    carrying the columns ``keep``."""
    return rf"""qf AS (
        SELECT doc_id, text, source,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                   AS n_toks,
               CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9_ \t\n]'))
                   AS DOUBLE) AS n_punct,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                   AS n_digit
        FROM {src}
    ), gated AS (
        SELECT {keep} FROM qf
        WHERE (LEAST(n_toks / 64.0, 1.0) * 0.5
               + (1.0 - LEAST(n_punct / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25
               + (1.0 - LEAST(n_digit / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25) >= 0.5
          AND n_toks >= 5.0
    )"""


def exact_keepers(name: str = "keepers") -> str:
    """``operators.dedup.exact_dedup(normalize=True)``'s keepers: the min
    doc_id of ``gated`` per normalized-text digest."""
    return f"""{name} AS (
        SELECT MIN(doc_id) AS doc_id
        FROM (SELECT doc_id,
                     {_norm_digest(25)} AS dk
              FROM gated)
        GROUP BY dk
    )"""


def digest_batch(name: str, k: int) -> str:
    """Incremental batch ``k`` (doc_id % 4 = k, eval docs excluded) of
    the gated documents with its normalized exact-dedup digest ``dk``
    (``pipelines.corpus`` incremental commits key their ledger on it)."""
    return f"""{name} AS (
        SELECT doc_id, text, source,
               {_norm_digest(19)} AS dk
        FROM gated
        WHERE doc_id % 4 = {k} AND (source IS NULL OR source <> 'src0')
    )"""


def _shingle_rows(src: str, where: str | None = None) -> str:
    # the clamped word n-gram unnest of operators.dedup.shingle_rows:
    # a doc shorter than n words yields its whole text as one shingle
    tail = f"\n                    WHERE {where}" if where else ""
    m = SHINGLE_N - 1
    return rf"""FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - {m}, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM {src}{tail}))"""


def minhash_shingles(name: str, src: str, where: str | None = None) -> str:
    """``operators.dedup.shingle_rows`` as MinHash input: one ``(doc, s)``
    row per word ``SHINGLE_N``-gram position (not deduplicated — MIN is
    idempotent) of ``src``'s ``text``, optionally filtered by ``where``."""
    m = SHINGLE_N - 1
    return f"""{name} AS (
        SELECT doc_id AS doc,
               array_to_string(list_slice(toks, st, st + {m}), ' ') AS s
        {_shingle_rows(src, where)}
    )"""


def distinct_shingles(name: str, src: str) -> str:
    """``operators.dedup.shingle_rows`` as a set: the distinct
    ``(doc_id, shingle)`` word ``SHINGLE_N``-grams of ``src``'s ``text``
    — the train side of ``operators.dedup.contamination_check``."""
    m = SHINGLE_N - 1
    return f"""{name} AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, st, st + {m}), ' ') AS shingle
        {_shingle_rows(src)}
    )"""


def eval_shingles(name: str = "ev_sh") -> str:
    """The eval side of ``operators.dedup.contamination_check`` in the
    corpus pipeline: the distinct word ``SHINGLE_N``-grams of the
    held-out ``src0`` documents of ``base``."""
    m = SHINGLE_N - 1
    return rf"""{name} AS (
        SELECT DISTINCT array_to_string(list_slice(toks, st, st + {m}), ' ')
                   AS shingle
        FROM (SELECT toks,
                     unnest(generate_series(1, GREATEST(len(toks) - {m}, 1)))
                         AS st
              FROM (SELECT string_split_regex(trim(text), '\s+') AS toks
                    FROM base WHERE source = 'src0'))
    )"""


def contamination(name: str, src: str) -> str:
    """``operators.dedup.contamination_check``'s per-doc counts: a train
    doc's distinct shingles ``n_sh`` and how many of them the eval set
    ``ev_sh`` holds (``n_hit``); a doc is contaminated at n_hit·2 ≥ n_sh."""
    return f"""{name} AS (
        SELECT doc_id, COUNT(*) AS n_sh,
               SUM(CASE WHEN shingle IN (SELECT shingle FROM ev_sh)
                        THEN 1 ELSE 0 END) AS n_hit
        FROM {src} GROUP BY doc_id
    )"""


def minhash_sig(name: str = "sig", src: str = "sh") -> str:
    """``operators.dedup.minhash_lsh_candidates(hash_fn="md5")``'s
    signature: per doc and hash index j < ``NEAR_DUP_NUM_HASHES``, the
    min of ``md5(j || ':' || shingle)`` over ``src``'s ``(doc, s)``
    rows."""
    last = NEAR_DUP_NUM_HASHES - 1
    return f"""{name} AS (
        SELECT doc, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS h
        FROM {src}, (SELECT unnest(generate_series(0, {last})) AS j)
        GROUP BY doc, j
    )"""


def minhash_bands(name: str = "band", src: str = "sig") -> str:
    """``operators.dedup.minhash_lsh_candidates(hash_fn="md5")``'s LSH
    buckets: the md5 of each of the ``NEAR_DUP_BANDS`` bands' ordered
    signature values."""
    rows = NEAR_DUP_NUM_HASHES // NEAR_DUP_BANDS
    return f"""{name} AS (
        SELECT doc, j // {rows} AS band,
               md5(string_agg(h, '_' ORDER BY j ASC)) AS bucket
        FROM {src} GROUP BY doc, j // {rows}
    )"""


def budget_order(name: str = "toks", src: str = "clean", h: str = "h") -> str:
    """``operators.splits.token_budget_sample``'s input: per doc its
    domain (``source``), whitespace token count ``n_tok`` and the
    content-free md5 order key ``{h}`` over ``doc_id``."""
    return rf"""{name} AS (
        SELECT doc_id, source AS domain,
               CAST(len(list_filter(
                   string_split_regex(trim(lower(text)), '\s+'),
                   t -> t <> '')) AS BIGINT) AS n_tok,
               md5(CAST(doc_id AS VARCHAR)) AS {h}
        FROM {src}
    )"""


def budget_cumsum(src: str = "toks", h: str = "h") -> str:
    """``operators.splits.token_budget_sample``'s running total ``cum``:
    per domain, the cumulative ``n_tok`` in (md5 key, doc_id) order; the
    caller keeps the prefix with ``cum_tok`` ≤ budget."""
    return f"""cum AS (
        SELECT doc_id, domain, n_tok,
               CAST(SUM(n_tok) OVER (
                   PARTITION BY domain ORDER BY {h} ASC, doc_id ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
        FROM {src}
    )"""


def ngram_jaccard_common() -> str:
    r"""``operators.dedup.ngram_jaccard_pairs(n=1, block_cols=["lang",
    "source"])``'s counts: distinct word shingles per doc (``tok``), set
    sizes (``sizes``) and the shared-shingle count of every blocked
    pair ``doc_a < doc_b`` (``common``)."""
    return r"""tok AS (
        SELECT DISTINCT doc_id AS doc, lang, source,
               unnest(string_split_regex(trim(text), '\s+')) AS shingle
        FROM documents
    ), sizes AS (
        SELECT doc, COUNT(*) AS n_sh FROM tok GROUP BY doc
    ), common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b
          ON a.shingle = b.shingle AND a.doc < b.doc
         AND a.lang = b.lang AND a.source = b.source
        GROUP BY a.doc, b.doc
    )"""


def jaccard_pairs() -> str:
    """``operators.dedup.ngram_jaccard_pairs``'s verify: the ``pairs`` of
    ``common`` whose Jaccard |A∩B| / |A∪B| over ``sizes`` is ≥ 0.5."""
    return """pairs AS (
        SELECT doc_a, doc_b FROM common
        JOIN sizes sa ON sa.doc = doc_a
        JOIN sizes sb ON sb.doc = doc_b
        WHERE CAST(n_common AS DOUBLE)
                  / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
    )"""


def cc_reach(pairs: str = "pairs", nodes: str = "documents") -> str:
    """``operators.dedup.connected_components``: the undirected ``edges``
    of ``pairs`` (doc_a, doc_b) and the transitive closure ``reach(s,
    d)`` seeded with every doc_id of ``nodes``; a doc's cluster label is
    ``MIN(d)`` over its reach — the min-label fixpoint Spark iterates."""
    return f"""edges AS (
        SELECT doc_a AS s, doc_b AS d FROM {pairs}
        UNION SELECT doc_b, doc_a FROM {pairs}
    ), reach(s, d) AS (
        SELECT doc_id, doc_id FROM {nodes}
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    )"""


def gopher_counts() -> str:
    r"""``operators.text.gopher_quality``'s raw counts over a row with
    ``words`` (non-empty whitespace tokens) and ``lines`` (non-blank
    lines): the select-list items from ``n_words`` to ``n_stop``."""
    return r"""CAST(len(words) AS BIGINT) AS n_words,
               CAST(GREATEST(len(lines), 1) AS BIGINT) AS n_lines,
               CAST(COALESCE(list_sum(list_transform(words,
                    w -> strlen(w))), 0) AS BIGINT) AS sum_chars,
               CAST(len(list_filter(words, w -> position('#' IN w) > 0))
                    + len(list_filter(words, w -> position('...' IN w) > 0))
                    + len(list_filter(words, w -> position('…' IN w) > 0))
                    AS BIGINT) AS n_symbols,
               CAST(len(list_filter(lines,
                    l -> regexp_matches(trim(l), '^[-*•‣▪]')))
                    AS BIGINT) AS n_bullet,
               CAST(len(list_filter(lines,
                    l -> regexp_matches(trim(l), '(\.\.\.|…)$')))
                    AS BIGINT) AS n_ell_end,
               CAST(len(list_filter(words,
                    w -> regexp_matches(w, '[A-Za-z]')))
                    AS BIGINT) AS n_alpha,
               CAST(len(list_distinct(list_filter(
                    list_transform(words, w -> lower(w)),
                    w -> w IN ('the','be','to','of','and','that','have',
                               'with')))) AS BIGINT) AS n_stop"""


def session_flags(*where: str, gap_op: str = ">=") -> str:
    """``pipelines.retailrocket.sessionize_events``: ``flagged`` marks an
    event that opens a session (first of its user, or ``gap_op`` 30 min
    after the previous one; ties ordered by event_id) among the events
    meeting every ``where`` condition (default: a non-NULL ts), and ``s``
    numbers the sessions by a running sum of those flags."""
    cond = "\n          AND ".join(where or ("ts IS NOT NULL",))
    return f"""flagged AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            {gap_op} 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WHERE {cond}
        WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
    ), s AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST
                                 ROWS UNBOUNDED PRECEDING) AS sess
        FROM flagged
    )"""


def shingle_overlap() -> str:
    r"""``operators.dedup.jaccard_verify``'s exact side over word
    ``SHINGLE_N``-grams: ``base`` token lists, ``sh`` (doc, s) shingle rows
    (MinHash input too), their distinct set ``shd``, set ``sizes`` and
    the shared-shingle ``common`` count of every pair doc_a < doc_b."""
    m = SHINGLE_N - 1
    return rf"""base AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ), sh AS (
        SELECT doc_id AS doc,
               array_to_string(list_slice(toks, st, st + {m}), ' ') AS s
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - {m}, 1)))
                         AS st
              FROM base)
    ), shd AS (
        SELECT DISTINCT doc, s FROM sh
    ), sizes AS (
        SELECT doc, COUNT(*) AS n_sh FROM shd GROUP BY doc
    ), common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        FROM shd a JOIN shd b ON a.s = b.s AND a.doc < b.doc
        GROUP BY a.doc, b.doc
    )"""


def band_candidates() -> str:
    """``operators.dedup.minhash_lsh_candidates``' candidate pairs
    ``cand``: docs sharing a (band, bucket) in ``band``, each pair once,
    doc_a < doc_b."""
    return """cand AS (
        SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        FROM band a JOIN band b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
    )"""


def lm_reference(lm: str = "lm") -> str:
    r"""``operators.text.lm_score``'s reference LM: the unigram counts
    ``c_w`` of the held-out ``src0`` documents (``{lm}``) and their total
    ``n_ref`` / vocabulary ``v_ref`` (``tot``)."""
    return rf"""ref AS (
        SELECT unnest(list_filter(
                   string_split_regex(trim(lower(text)), '\s+'),
                   t -> t <> '')) AS term
        FROM documents WHERE source = 'src0' AND text IS NOT NULL
    ), {lm} AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS c_w FROM ref GROUP BY term
    ), tot AS (
        SELECT CAST(COALESCE(SUM(c_w), 0) AS BIGINT) AS n_ref,
               CAST(COUNT(*) AS BIGINT) AS v_ref
        FROM {lm}
    )"""


def lm_doc_terms(src: str, where: str | None = None) -> str:
    r"""``operators.text.lm_score``'s scored side: per doc of ``src``
    (optionally filtered by ``where``) the count ``c_dt`` of each
    non-empty lower-cased token (``dt``)."""
    tail = f"\n              WHERE {where}" if where else ""
    return rf"""dt AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c_dt
        FROM (SELECT doc_id,
                     unnest(list_filter(
                         string_split_regex(trim(lower(text)), '\s+'),
                         t -> t <> '')) AS term
              FROM {src}{tail})
        GROUP BY doc_id, term
    )"""


def lm_logprob() -> str:
    """``operators.text.LM_CONTRIB_SQL`` as the oracles lay it out: the
    µ-floored add-one log-probability of ``l.c_w`` under ``tot t``."""
    return """CAST(FLOOR(ln((CAST(COALESCE(l.c_w, 0) AS DOUBLE)
                          + 1.0)
                     / GREATEST(CAST(t.n_ref AS DOUBLE)
                                + CAST(t.v_ref AS DOUBLE), 1.0))
                     * 1e6) AS BIGINT)"""


def bm25_corpus_stats() -> str:
    r"""``operators.text.bm25_scores``' corpus side: lower-cased
    whitespace terms (``tok``, empty ones dropped in ``tok2``), per-doc
    term counts ``n_dl`` (``dl``) and the corpus size ``n_docs`` and
    total length ``tot_dl`` (``st``)."""
    return r"""tok AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        FROM documents
    ), tok2 AS (SELECT * FROM tok WHERE term <> ''),
    dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dl
        FROM tok2 GROUP BY doc_id
    ), st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_dl) AS BIGINT) AS tot_dl FROM dl
    )"""


def value_bins() -> str:
    """``operators.privacy`` release/t-closeness input ``b``: per event its
    (event_type, day) group and its value bin ``floor(value / 50)``, −1
    for NULL or out-of-range values."""
    return """b AS (
        SELECT event_id, user_id, event_type,
               strftime(ts, '%Y-%m-%d') AS day_str,
               COALESCE(CASE WHEN value >= -1000000000000.0
                              AND value <= 1000000000000.0
                             THEN CAST(floor(value / 50.0) AS BIGINT) END,
                        -1) AS vb
        FROM events
    )"""


def popularity_holdout() -> str:
    """``operators.evaluation``'s popularity baseline on a time split:
    item = props.k mod 50 (``it``), the top-10 items before 2024-01-25
    (``topk``) and each user's first event after it (``test``)."""
    return """it AS (
        SELECT user_id, event_id, event_type, ts,
               CAST(json_extract_string(props, '$.k') AS BIGINT) % 50 AS item
        FROM events
        WHERE user_id IS NOT NULL
          AND json_extract_string(props, '$.k') IS NOT NULL
    ), pop AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS n
        FROM it WHERE ts < TIMESTAMP '2024-01-25' GROUP BY item
    ), topk AS (
        SELECT item,
               CAST(ROW_NUMBER() OVER (ORDER BY n DESC, item ASC)
                    AS BIGINT) AS rank
        FROM pop QUALIFY rank <= 10
    ), test AS (
        SELECT event_type, item FROM (
            SELECT event_type, item,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts ASC, event_id ASC) AS rn
            FROM it WHERE ts >= TIMESTAMP '2024-01-25'
        ) WHERE rn = 1
    )"""


def winnow_fingerprints(carry: str = "", counts: bool = True) -> str:
    """``operators.dedup.winnowing_fingerprints``: md5 of every word
    ``SHINGLE_N``-gram position of ``base``'s ``toks`` (``g``), and per window of
    4 consecutive hashes the minimum, rightmost on ties (``pick``), with
    (``counts``) each doc's fingerprint count (``cnt``). ``carry`` names
    a ``base`` column kept on every row."""
    k = f"{carry}, " if carry else ""
    gk = f"g.{carry}, " if carry else ""
    cnt = """, cnt AS (
        SELECT doc, COUNT(*) AS nf FROM pick GROUP BY doc
    )""" if counts else ""
    m = SHINGLE_N - 1
    return f"""g AS (
        SELECT doc, {k}st - 1 AS pos,
               md5(array_to_string(list_slice(toks, st, st + {m}), ' ')) AS h
        FROM (SELECT doc, {k}toks,
                     unnest(generate_series(1, GREATEST(len(toks) - {m}, 1)))
                         AS st
              FROM base)
    ), n AS (
        SELECT doc, COUNT(*) AS npos FROM g GROUP BY doc
    ), wnd AS (
        SELECT g.doc, {gk}g.pos, g.h, w.j
        FROM g JOIN n USING (doc),
             LATERAL (SELECT unnest(generate_series(
                 GREATEST(g.pos - 3, 0),
                 LEAST(g.pos, GREATEST(n.npos - 4, 0)))) AS j) w
    ), pick AS (
        SELECT DISTINCT doc, {k}h FROM (
            SELECT doc, {k}pos, h, ROW_NUMBER() OVER (
                PARTITION BY doc, j ORDER BY h ASC, pos DESC) AS rn
            FROM wnd) WHERE rn = 1
    ){cnt}"""


def simhash_md5_pairs(bits: int = 64, shingle_n: int = 1) -> str:
    r"""Brute-force replay of ``operators.dedup.simhash_near_pairs(
    bits=bits, shingle_n=shingle_n, hash_fn="md5")``.

    Bit j of a shingle is bit j%4 of hex nibble j//4 of its md5; a doc's
    signature bit is set when its ±1 votes over its distinct shingles sum
    above 0, and a pair's Hamming distance counts differing bits. All of
    it is integer arithmetic, so it replays Spark exactly; banding plus
    the Hamming filter equals all pairs plus the filter (pigeonhole,
    property-locked), so the two emit identical pair sets at
    ``max_hamming=3``. ``shingle_n`` is 1 (distinct words) or 2 (clamped
    word bigrams)."""
    def nib(j: int) -> str:
        return f"(instr('0123456789abcdef', substr(hex, {j // 4 + 1}, 1)) - 1)"

    votes = ",\n               ".join(
        f"SUM(CASE WHEN (({nib(j)} >> {j % 4}) & 1) = 1 THEN 1 ELSE -1 END)"
        f" AS v{j}"
        for j in range(bits)
    )
    sig = ",\n               ".join(
        f"CASE WHEN v{j} > 0 THEN 1 ELSE 0 END AS b{j}" for j in range(bits)
    )
    terms = [
        f"CASE WHEN a.b{j} <> b.b{j} THEN 1 ELSE 0 END" for j in range(bits)
    ]
    if bits <= 64:
        ham = "\n                 + ".join(terms)
    else:
        # DuckDB binds a left-associated +-chain recursively and caps the
        # depth at 128: sum parenthesized 32-term groups instead
        ham = "\n                 + ".join(
            f"({' + '.join(terms[c:c + 32])})" for c in range(0, bits, 32)
        )
    m = shingle_n - 1
    if shingle_n == 1:
        shingles, src = r"""tok AS (
        SELECT DISTINCT doc_id AS doc,
               unnest(string_split_regex(trim(text), '\s+')) AS shingle
        FROM documents
    )""", "tok"
    else:
        shingles, src = rf"""t AS (
        SELECT doc_id AS doc, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc,
               array_to_string(list_slice(toks, st, st + {m}), ' ') AS shingle
        FROM (SELECT doc, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - {m}, 1)))
                         AS st
              FROM t)
    )""", "sh"
    return f"""
    WITH {shingles}, h AS (
        SELECT doc, md5(shingle) AS hex FROM {src}
    ), votes AS (
        SELECT doc,
               {votes}
        FROM h GROUP BY doc
    ), bits AS (
        SELECT doc,
               {sig}
        FROM votes
    ), pairs AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b,
               {ham} AS hamming
        FROM bits a JOIN bits b ON a.doc < b.doc
    )
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
    """


# md5-derived Rademacher ±1 planes × floor(v·1e9)-quantized components:
# every bucket id is exact integer arithmetic, identical in both engines
# (prototype-verified bit-identical on sf0.01: 2000/2000 bucket rows).
_EMBED_BUCKET_CTES = """
    planes AS (
        SELECT t.t, j.j, d.d,
               CASE WHEN substring(md5(CAST(t.t AS VARCHAR) || ':'
                        || CAST(j.j AS VARCHAR) || ':'
                        || CAST(d.d AS VARCHAR)), 1, 1) < '8'
                    THEN 1 ELSE -1 END AS w
        FROM (SELECT unnest(generate_series(0, {tables_m1})) AS t) t,
             (SELECT unnest(generate_series(0, {bits_m1})) AS j) j,
             (SELECT unnest(generate_series(0, {dim_m1})) AS d) d
    ), qv AS (
        SELECT uid, p - 1 AS d,
               CAST(floor(CAST(embedding[p] AS DOUBLE) * 1e9) AS BIGINT)
                   AS qv
        FROM (SELECT uid, embedding FROM {src}
              WHERE embedding IS NOT NULL AND len(embedding) = {dim}
                -- NULL-component vectors are excluded like the Spark
                -- operator (exists() 3VL → NULL → filtered); DuckDB's
                -- list_bool_or IGNORES NULL elements, so without this
                -- the oracle would keep them and silently drop the NULL
                -- positions from the dot (ADVICE r12 #1)
                AND len(list_filter(embedding, x -> x IS NULL)) = 0
                AND NOT list_bool_or(list_transform(embedding,
                        x -> isnan(CAST(x AS DOUBLE))
                             OR isinf(CAST(x AS DOUBLE))))),
             LATERAL (SELECT unnest(generate_series(1, {dim})) AS p)
    ), dots AS (
        SELECT qv.uid, p.t, p.j, SUM(p.w * qv.qv) AS dot
        FROM qv JOIN planes p USING (d) GROUP BY qv.uid, p.t, p.j
    ), bk AS (
        SELECT uid, t,
               SUM(CASE WHEN dot > 0 THEN (1::BIGINT << j) ELSE 0 END)
                   AS bucket
        FROM dots GROUP BY uid, t
    )
"""


def embed_buckets(src: str, *, tables: int, bits: int) -> str:
    """``operators.dedup.embed_sign_buckets`` over 64-dim vectors: ``src``
    must provide (uid, embedding); renders ``planes``, ``qv``, ``dots``
    and ``bk(uid, t, bucket)`` for ``tables`` tables of ``bits``-bit
    keys."""
    return _EMBED_BUCKET_CTES.format(
        src=src, tables_m1=tables - 1, bits_m1=bits - 1, dim=64, dim_m1=63
    )


def span_rows(src: str, n: int = SUBSTRING_N) -> str:
    """``operators.dedup.strip_duplicated_spans``' candidate spans ``sp``:
    every word ``n``-gram ``span`` of ``src``'s ``toks`` with its 0-based
    start ``s`` (docs shorter than ``n`` words have none)."""
    m = n - 1
    return f"""sp AS (
        SELECT doc_id, st - 1 AS s,
               array_to_string(list_slice(toks, st, st + {m}), ' ') AS span
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks) - {m})) AS st
              FROM {src} WHERE len(toks) >= {n})
    )"""


def eval_span_cover(src: str, n: int) -> str:
    """``operators.dedup.strip_contaminated_spans``' cut: the word
    ``n``-gram spans of ``src`` (:func:`span_rows`) and every token
    position ``p`` covered by a span that the eval shingle set ``ev``
    holds (``cov``)."""
    return span_rows(src, n) + f""", cov AS (
        SELECT DISTINCT doc_id, p
        FROM (SELECT doc_id, unnest(generate_series(s, s + {n - 1})) AS p
              FROM sp WHERE span IN (SELECT shingle FROM ev))
    )"""


def span_islands() -> str:
    """``operators.dedup.strip_duplicated_spans``' islands: the spans of
    ``sp`` that occur ``SUBSTRING_MIN_OCCURRENCES`` times corpus-wide
    (``dup``) and their starts grouped into runs of consecutive positions
    by the ``s − row_number()`` gaps-and-islands key ``grp`` (``st2``)."""
    k = SUBSTRING_MIN_OCCURRENCES
    return f"""dup AS (
        SELECT span FROM sp GROUP BY span HAVING COUNT(*) >= {k}
    ), st2 AS (
        SELECT doc_id, s,
               s - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s ASC)
                   AS grp
        FROM sp WHERE span IN (SELECT span FROM dup)
    )"""


def kept_tokens() -> str:
    """``operators.text.strip_boilerplate`` / ``strip_duplicated_spans``'
    rebuild: the tokens of ``tok`` not covered by a removed position of
    ``cov`` (``kept``), re-joined in order per doc (``agg``)."""
    return """kept AS (
        SELECT t.doc_id, t.p, t.t
        FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
        WHERE c.p IS NULL
    ), agg AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(t, ' ' ORDER BY p ASC) AS text_clean
        FROM kept GROUP BY doc_id
    )"""


def line_hashes(src: str) -> str:
    r"""``operators.text.strip_repeated_lines``' line table: every line of
    ``src``'s ``text`` with its 0-based position (``l``) and, for a
    non-blank line, the md5 of its lower-cased, space-collapsed form
    (``h``)."""
    return rf"""l AS (
        SELECT doc_id, p - 1 AS p, lns[p] AS ln
        FROM (SELECT doc_id, string_split(text, chr(10)) AS lns
              FROM {src}),
             LATERAL (SELECT unnest(generate_series(1, len(lns))) AS p)
    ), h AS (
        SELECT doc_id, p, ln,
               CASE WHEN trim(ln) <> '' THEN
                   md5(trim(regexp_replace(lower(ln), '\s+', ' ', 'g')))
               END AS hh
        FROM l
    )"""


def repeated_lines() -> str:
    """``operators.text.strip_repeated_lines``' cut: line hashes of ``h``
    present in at least ``LINE_MIN_DOCS`` docs (``prev``) and the lines
    that survive it (``kept``)."""
    return f"""prev AS (
        SELECT hh FROM h WHERE hh IS NOT NULL
        GROUP BY hh HAVING COUNT(DISTINCT doc_id) >= {LINE_MIN_DOCS}
    ), kept AS (
        SELECT * FROM h
        WHERE hh IS NULL OR hh NOT IN (SELECT hh FROM prev)
    )"""
