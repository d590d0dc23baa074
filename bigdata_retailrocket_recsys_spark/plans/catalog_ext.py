"""Catalog extensions — LLM-training-data-pipeline operators (SURVEY §2.11).

Dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding-cosine),
similarity search (brute-force + LSH), text analysis (tokenize / lang-id /
quality / fingerprint), vectors, Word2Vec, streaming sessionization,
multimodal plumbing. Registered into the same QUERIES registry.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_retailrocket_recsys_spark.functions.vector import (
    quantizable,
    to_double_array,
)
from bigdata_retailrocket_recsys_spark.operators.dedup import (
    contamination_check,
    embedding_cosine_pairs,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
)
from bigdata_retailrocket_recsys_spark.operators.similarity import (
    cosine_topk,
)
from bigdata_retailrocket_recsys_spark.operators.text import (
    chunk_tokens,
    fingerprint,
    lang_id,
    quality_score,
    redact_patterns,
    token_count,
    token_repetition,
)
from bigdata_retailrocket_recsys_spark.plans.catalog import (
    _dec_value,
    _floormul_sql,
    _t,
    query,
)
from bigdata_retailrocket_recsys_spark.sources.scratch import session_scratch


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    headline=True,
    oracle="""
    SELECT COALESCE(md5(text), 'row:' || CAST(doc_id AS VARCHAR)) AS dup_key,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_dups
    FROM documents
    GROUP BY COALESCE(md5(text), 'row:' || CAST(doc_id AS VARCHAR))
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest; deterministic keeper = min id.
    NULL-text rows are incomparable → each is its own single-row group
    (ADVICE r2 #1). Shuffles 16-byte digests, not documents — the 100 TB
    shape."""
    return exact_dedup(
        _t(spark, sf_dir, "documents"), key_cols=["text"], id_col="doc_id"
    )


@query("q_dedup_minhash", oracle=None, headline=True)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (shingle→minhash→band→bucket-join).
    xxhash64 signatures aren't DuckDB-expressible → rows-only check."""
    return minhash_lsh_candidates(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        shingle_n=3,
        num_hashes=16,
        bands=4,
    )


@query(
    "q_dedup_minhash_persisted",
    oracle=r"""
    WITH sh AS (
        SELECT doc_id AS doc,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS s
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM documents
                    WHERE text IS NOT NULL AND doc_id IS NOT NULL))
    ), sig AS (
        SELECT doc, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS h
        FROM sh, (SELECT unnest(generate_series(0, 15)) AS j)
        GROUP BY doc, j
    ), band AS (
        SELECT doc, j // 4 AS band,
               md5(string_agg(h, '_' ORDER BY j ASC)) AS bucket
        FROM sig GROUP BY doc, j // 4
    )
    SELECT a.doc AS doc_a, b.doc AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_bands
    FROM band a JOIN band b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
    GROUP BY a.doc, b.doc
    """,
)
def q_dedup_minhash_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates against a PERSISTED signature table — the
    warehouse-scale path the in-memory variant's docstring promises: write
    (doc, sig) parquet once via minhash_signatures_table, then band+join
    reading ONLY that table (plan has no tokenize/shingle stage — locked in
    tests/test_plans.py). Runs the md5 signature tier (r9 graduation —
    same oracle as q_dedup_minhash_md5, so the AT-REST write→read→band
    machinery is value-hashed end-to-end, not just rows-counted); the
    xxhash64 tier's at-rest value-identity with the in-memory path stays
    locked in tests/test_operators.py."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        minhash_signatures_table,
    )

    sig_path = session_scratch(spark, "minhash_sigs")
    minhash_signatures_table(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull()),
        sig_path,
        id_col="doc_id",
        text_col="text",
        shingle_n=3,
        num_hashes=16,
        hash_fn="md5",
    )
    return minhash_lsh_candidates(
        signatures=spark.read.parquet(sig_path),
        num_hashes=16,
        bands=4,
    )


# q_dedup_simhash (signature-grain, xxhash64, rows-only) RETIRED r9
# (VERDICT r8 #4): superseded by q_dedup_simhash_pairs (the pairing
# stage that actually dedups, recall property-locked), its full-oracle
# md5 twin q_dedup_simhash_pairs_md5, and the 128-bit scale tier. The
# simhash() operator itself stays exported + unit-tested.


@query(
    "q_dedup_ngram_jaccard",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id AS doc, lang, source,
               unnest(string_split_regex(trim(text), '\\s+')) AS shingle
        FROM documents
    ), sizes AS (
        SELECT doc, COUNT(*) AS n_sh FROM tok GROUP BY doc
    ), common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b
          ON a.shingle = b.shingle AND a.doc < b.doc
         AND a.lang = b.lang AND a.source = b.source
        GROUP BY a.doc, b.doc
    )
    SELECT doc_a, doc_b, n_common,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(n_common AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE CAST(n_common AS DOUBLE)
              / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard near-dup pairs, relational form (explode → shingle
    self-join within (lang, source) blocks → intersection counts). No UDF,
    no unblocked all-pairs."""
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        block_cols=["lang", "source"],
        shingle_n=1,
        min_jaccard=0.5,
    )


@query(
    "q_dedup_ngram_jaccard_persisted",
    # value-identical to q_dedup_ngram_jaccard by construction, so it
    # carries the SAME oracle (r7 graduation from rows-only — the entry
    # originally existed to lock the persisted-shingle PLAN, which
    # tests/test_plans.py still does; now the values are driver-hashed too)
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id AS doc, lang, source,
               unnest(string_split_regex(trim(text), '\\s+')) AS shingle
        FROM documents
    ), sizes AS (
        SELECT doc, COUNT(*) AS n_sh FROM tok GROUP BY doc
    ), common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b
          ON a.shingle = b.shingle AND a.doc < b.doc
         AND a.lang = b.lang AND a.source = b.source
        GROUP BY a.doc, b.doc
    )
    SELECT doc_a, doc_b, n_common,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(n_common AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE CAST(n_common AS DOUBLE)
              / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
    """,
)
def q_dedup_ngram_jaccard_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard near-dup pairs against a PERSISTED shingle table — the
    warehouse-scale path: tokenize the corpus once (shingle_table), then
    every Jaccard pass reads ONLY that table (plan has no tokenize
    posexplode — locked in tests/test_plans.py). Value-identical to
    q_dedup_ngram_jaccard (locked in tests/test_operators.py)."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import shingle_table

    sh_path = session_scratch(spark, "shingles")
    shingle_table(
        _t(spark, sf_dir, "documents"),
        sh_path,
        id_col="doc_id",
        text_col="text",
        shingle_n=1,
        block_cols=["lang", "source"],
    )
    return ngram_jaccard_pairs(
        shingles=spark.read.parquet(sh_path),
        block_cols=["lang", "source"],
        min_jaccard=0.5,
    )


@query(
    "q_dedup_incremental_exact",
    oracle="""
    WITH c AS (
        SELECT DISTINCT md5(text) AS dup_key
        FROM documents
        WHERE doc_id % 5 <> 0 AND text IS NOT NULL
    ), b AS (
        SELECT COALESCE(md5(text), 'row:' || CAST(doc_id AS VARCHAR)) AS dup_key,
               doc_id
        FROM documents
        WHERE doc_id % 5 = 0
    )
    SELECT b.dup_key, MIN(b.doc_id) AS keeper_id, COUNT(*) AS n_dups
    FROM b
    LEFT JOIN c ON b.dup_key = c.dup_key
    WHERE c.dup_key IS NULL
    GROUP BY b.dup_key
    """,
)
def q_dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of a NEW batch (doc_id % 5 = 0) against an existing
    corpus represented ONLY by its persisted digest table
    (operators/dedup.content_digest_table + incremental_exact_dedup) —
    the daily-delta path: corpus text is never read or shuffled, the
    anti-join moves 16-byte digests. Survivors are the rows to append.
    NULL-text batch rows are incomparable → always survive as their own
    group (same discipline as q_dedup_exact)."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        content_digest_table,
        incremental_exact_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    dig_path = session_scratch(spark, "corpus_digests")
    content_digest_table(
        docs.filter(F.col("doc_id") % 5 != 0), dig_path, key_cols=["text"]
    )
    return incremental_exact_dedup(
        docs.filter(F.col("doc_id") % 5 == 0),
        corpus_digests=spark.read.parquet(dig_path),
        key_cols=["text"],
        id_col="doc_id",
    )


@query(
    "q_dedup_incremental_minhash",
    oracle=r"""
    WITH sh AS (
        SELECT doc_id AS doc, doc_id % 5 = 0 AS is_batch,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS s
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM documents
                    WHERE text IS NOT NULL AND doc_id IS NOT NULL))
    ), sig AS (
        SELECT doc, is_batch, j,
               MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS h
        FROM sh, (SELECT unnest(generate_series(0, 15)) AS j)
        GROUP BY doc, is_batch, j
    ), band AS (
        SELECT doc, is_batch, j // 4 AS band,
               md5(string_agg(h, '_' ORDER BY j ASC)) AS bucket
        FROM sig GROUP BY doc, is_batch, j // 4
    ), dupes AS (
        SELECT DISTINCT b.doc
        FROM band b JOIN band c
          ON b.band = c.band AND b.bucket = c.bucket
         AND b.is_batch AND NOT c.is_batch
    )
    SELECT doc_id FROM documents
    WHERE doc_id IS NOT NULL AND doc_id % 5 = 0
      AND doc_id NOT IN (SELECT doc FROM dupes)
    """,
)
def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup of a NEW batch (doc_id % 5 = 0) against the corpus's
    persisted MinHash signature table (operators/dedup
    .minhash_lsh_candidates_vs_corpus): banded batch signatures are
    BROADCAST past a scan of the corpus signature table — no corpus text
    read, no corpus shuffle. Returns batch survivors (docs sharing no LSH
    band with any corpus doc). Runs the md5 signature tier (r9
    graduation): the whole persisted-corpus → banded batch-vs-corpus
    join → anti-join chain is value-hashed (NULL-text batch docs have no
    signature, so they always survive — mirrored by the oracle's
    text-notnull shingle base); the xxhash64 tier's full-LSH equivalence
    stays locked in tests/test_operators.py."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        minhash_lsh_candidates_vs_corpus,
        minhash_signatures_table,
    )

    docs = _t(spark, sf_dir, "documents")
    sig_path = session_scratch(spark, "corpus_sigs")
    minhash_signatures_table(
        docs.filter(F.col("doc_id") % 5 != 0),
        sig_path,
        id_col="doc_id",
        text_col="text",
        shingle_n=3,
        num_hashes=16,
        hash_fn="md5",
    )
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    cands = minhash_lsh_candidates_vs_corpus(
        batch,
        corpus_signatures=spark.read.parquet(sig_path),
        id_col="doc_id",
        text_col="text",
        shingle_n=3,
        num_hashes=16,
        bands=4,
        hash_fn="md5",
    )
    dupes = cands.select(F.col("batch_doc").alias("doc_id")).distinct()
    return batch.select("doc_id").join(dupes, "doc_id", "left_anti")


@query(
    "q_text_decontaminate",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL
    ), sh AS (
        SELECT DISTINCT doc_id, source,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS shingle
        FROM (SELECT doc_id, source, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM t)
    ), train AS (
        SELECT DISTINCT shingle FROM sh WHERE source <> 'src0'
    ), ev AS (
        SELECT doc_id, shingle FROM sh WHERE source = 'src0'
    ), tot AS (
        SELECT doc_id, COUNT(*) AS n_shingles FROM ev GROUP BY doc_id
    ), hit AS (
        SELECT doc_id, COUNT(*) AS n_matched
        FROM ev WHERE shingle IN (SELECT shingle FROM train)
        GROUP BY doc_id
    )
    SELECT tot.doc_id,
           n_shingles,
           COALESCE(n_matched, 0) AS n_matched,
           CAST(CASE WHEN COALESCE(n_matched, 0) * 2 >= n_shingles
                     THEN 1 ELSE 0 END AS INT) AS contaminated
    FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
    """,
)
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (SURVEY §2.11): eval docs (source='src0')
    checked for 3-gram containment against the rest of the corpus as
    training data (operators/dedup.contamination_check). One corpus-wide
    distinct-shingle shuffle + a left-semi join; the contaminated flag is
    integer arithmetic (matched·2 ≥ total), cross-engine-exact."""
    docs = _t(spark, sf_dir, "documents")
    return contamination_check(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        shingle_n=3,
    )


@query(
    "q_dedup_embed_cosine",
    oracle="""
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
        FROM embeddings WHERE embedding IS NOT NULL
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.vec, b.vec) >= 0.42
    """,
)
def q_dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked by label. Cosine values can
    differ across engines by ~1 ulp (summation order), so the output is the
    id pairs only; 0.42 sits ≥3e-5 from every pair's cosine at all three
    fixture SFs (measured) — far above FP noise — while returning non-empty
    results on the fixture's similarity range (max pairwise cosine 0.51)."""
    return embedding_cosine_pairs(
        _t(spark, sf_dir, "embeddings"),
        id_col="vec_id",
        vec_col="embedding",
        block_col="label",
        min_cosine=0.42,
    ).select("id_a", "id_b")


# Shared DuckDB replay of operators/dedup.embed_sign_buckets (VERDICT r11
# #3): md5-derived Rademacher ±1 planes × floor(v·1e9)-quantized
# components — every bucket id is exact integer arithmetic, identical in
# both engines (prototype-verified bit-identical on sf0.01: 2000/2000
# bucket rows). {src} must provide (uid, embedding); emits bk(uid, t,
# bucket). The shared-template rule (BM25_CONTRIB_SQL precedent) keeps
# the two embed-incremental oracles from drifting apart.
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


_EMBED_LSH_PAIRS_ORACLE = """WITH src AS (
        SELECT vec_id AS uid, embedding FROM embeddings
        WHERE vec_id IS NOT NULL
    ), {bucket_ctes}
    , cand AS (
        SELECT DISTINCT a.uid AS id_a, b.uid AS id_b
        FROM bk a JOIN bk b
          ON a.t = b.t AND a.bucket = b.bucket AND a.uid < b.uid
    )
    SELECT c.id_a, c.id_b
    FROM cand c
    JOIN embeddings va ON va.vec_id = c.id_a
    JOIN embeddings vb ON vb.vec_id = c.id_b
    WHERE list_cosine_similarity(CAST(va.embedding AS DOUBLE[]),
                                 CAST(vb.embedding AS DOUBLE[])) >= 0.42
"""


@query(
    "q_dedup_embed_cosine_lsh",
    oracle=_EMBED_LSH_PAIRS_ORACLE.format(
        bucket_ctes=_EMBED_BUCKET_CTES.format(
            src="src", tables_m1=15, bits_m1=3, dim=64, dim_m1=63
        ).lstrip()
    ),
)
def q_dedup_embed_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, scale path: banded sign-LSH candidates +
    exact cosine verify (candidate volume bounded by bucket size, never
    all-pairs — VERDICT r1 scale-killer #2 remediation). Same output shape
    as q_dedup_embed_cosine, unblocked. GRADUATED r12 (VERDICT r11 #8):
    runs the DETERMINISTIC Rademacher tier (operators/dedup
    .embed_lsh_pairs — md5-derived ±1 planes over floor(v·1e9)-quantized
    components give exact-integer buckets DuckDB reproduces bit-for-bit,
    so the candidate SET itself is value-hashed, then the 0.42
    margin-threshold verify — the q_dedup_embed_apply rule); its
    exact-subset + recall invariants are unit-locked at 12×8. Banding is
    tuned to the fixture's similarity regime (pairs near cosine 0.42,
    θ≈65° → P(bit)≈0.64): 4-bit buckets × 16 tables ≈ 95% recall; for
    true near-dup work (cosine ≥0.9) the defaults (8×12) are the right
    trade."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        embed_lsh_pairs,
    )

    return embed_lsh_pairs(
        _t(spark, sf_dir, "embeddings"),
        dim=64,
        id_col="vec_id",
        vec_col="embedding",
        min_cosine=0.42,
        bits=4,
        tables=16,
    ).select("id_a", "id_b")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@query(
    "q_sim_topk",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
        FROM embeddings WHERE vec_id < 3
    ), scored AS (
        SELECT q.query_id, c.vec_id,
               list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), q.qvec)
                   AS cosine
        FROM embeddings c CROSS JOIN q
        WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, rank FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC NULLS LAST, vec_id ASC NULLS FIRST) AS rank
        FROM scored
    ) WHERE rank <= 10
    """,
    headline=True,
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k cosine neighbors for 3 query vectors (broadcast
    queries × one corpus pass → WindowGroupLimit top-k). Scores are
    engine-ulp-sensitive → output is (query_id, vec_id, rank) only."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(
        emb, queries, k=10, id_col="vec_id", vec_col="embedding"
    ).select("query_id", "vec_id", "rank")


@query("q_sim_topk_ivf", oracle=None)
def q_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-indexed approximate top-k: MLlib KMeans cells, queries probe
    their nprobe nearest cells only (the at-rest layout is
    cell-partitioned parquet). KMeans assignment isn't DuckDB-expressible
    → rows-only."""
    from bigdata_retailrocket_recsys_spark.operators.similarity import (
        cosine_topk_ivf,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_ivf(
        emb, queries, k=10, n_cells=8, nprobe=3, id_col="vec_id",
        vec_col="embedding",
    ).select("query_id", "vec_id", "rank")


@query(
    "q_sim_topk_ivf_pinned",
    oracle="""WITH src AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id IS NOT NULL
    ), elig AS (
        SELECT vec_id, embedding FROM src
        WHERE embedding IS NOT NULL AND len(embedding) = 64
          AND len(list_filter(embedding, x -> x IS NULL)) = 0
          AND NOT list_bool_or(list_transform(embedding,
                  x -> isnan(CAST(x AS DOUBLE))
                       OR abs(CAST(x AS DOUBLE)) >= CAST('inf' AS DOUBLE)
                       OR abs(CAST(x AS DOUBLE)) >= 100))
    ), qv AS (
        SELECT vec_id, p - 1 AS d,
               CAST(floor(CAST(embedding[p] AS DOUBLE) * 1000000) AS BIGINT)
                   AS q
        FROM elig, LATERAL (SELECT unnest(generate_series(1, 64)) AS p)
    ), cent_ids AS (
        SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1
                            AS INT) AS cell
        FROM (SELECT vec_id FROM elig ORDER BY vec_id ASC LIMIT 8)
    ), cent AS (
        SELECT c.cell, v.d, v.q FROM cent_ids c
        JOIN qv v ON v.vec_id = c.vec_id
    ), dist AS (
        SELECT v.vec_id, c.cell,
               CAST(SUM((v.q - c.q) * (v.q - c.q)) AS BIGINT) AS d2
        FROM qv v JOIN cent c USING (d) GROUP BY v.vec_id, c.cell
    ), assign AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
            FROM dist) WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS query_id, cell FROM (
            SELECT vec_id, cell, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
            FROM dist
            WHERE ((vec_id % 100) + 100) % 100 = 7) WHERE rn <= 2
    ), pairs AS (
        SELECT p.query_id, a.vec_id FROM probes p
        JOIN assign a USING (cell) WHERE a.vec_id != p.query_id
    ), dots AS (
        SELECT pr.query_id, pr.vec_id,
               CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
        FROM pairs pr
        JOIN qv qa ON qa.vec_id = pr.vec_id
        JOIN qv qb ON qb.vec_id = pr.query_id AND qb.d = qa.d
        GROUP BY pr.query_id, pr.vec_id
    )
    SELECT query_id, vec_id, dot, CAST(rank AS INT) AS rank FROM (
        SELECT query_id, vec_id, dot, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY dot DESC, vec_id ASC) AS rank
        FROM dots) WHERE rank <= 5
    """,
)
def q_sim_topk_ivf_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer IVF at rest with PINNED sample centroids — the
    ORACLED twin of q_sim_topk_ivf_at_rest (r13 graduation, VERDICT r12
    #4; the md5 SimHash twin precedent): centroids are the quantized
    vectors of the 8 smallest eligible ids, cell assignment is an exact
    bigint argmin of squared distances over floor(v·1e6) components
    (ties → smaller cell), queries (vec_id ≡ 7 mod 100) probe their 2
    nearest cells via directory-pruned partition scans, and the top-5
    ranks by exact bigint dot with a total tie-break — the whole
    write→partition→probe→rank chain value-hashed in DuckDB. The KMeans
    tier stays the quality-centroid path (floats inherent to the fit,
    rows-only); this entry value-checks the at-rest MACHINERY."""
    from bigdata_retailrocket_recsys_spark.operators.similarity import (
        dot_topk_ivf_pinned_at_rest,
        ivf_pinned_write_at_rest,
    )

    idx_path = session_scratch(spark, "ivf_pinned_index")
    emb = _t(spark, sf_dir, "embeddings")
    ivf_pinned_write_at_rest(emb, idx_path, dim=64, n_cells=8)
    queries = emb.filter(
        (F.pmod(F.col("vec_id"), F.lit(100)) == 7)
        & F.col("vec_id").isNotNull()
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    return dot_topk_ivf_pinned_at_rest(
        spark, idx_path, queries, dim=64, k=5, nprobe=2
    ).select("query_id", "vec_id", "dot", "rank")


@query(
    "q_vector_norm",
    oracle="""
    WITH n AS (
        SELECT vec_id,
               CAST(len(embedding) AS INT) AS dim,
               sqrt(list_aggregate(
                   list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
                   'sum')) AS norm
        FROM embeddings
    )
    SELECT vec_id, dim,
           CASE WHEN isnan(norm) OR isinf(norm) THEN NULL
                ELSE CAST(FLOOR(norm * 1000) AS BIGINT) END AS norm_e3
    FROM n
    """,
)
def q_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector ops surface: per-vector L2 norm (array HOFs, JVM-side).
    floor(×1e3) absorbs cross-engine summation-order ulp."""
    emb = _t(spark, sf_dir, "embeddings")
    v = to_double_array("embedding")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    finite = ~F.isnan(norm) & (norm != float("inf"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.when(finite, F.floor(norm * 1000).cast("bigint")).alias("norm_e3"),
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "q_text_tokenize",
    headline=True,
    oracle="""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
          FROM documents)
    GROUP BY token HAVING COUNT(*) >= 100
    """,
)
def q_text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize + explode + frequency rollup (SURVEY §2.11 text analysis)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 100)
    )


@query(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS INT)
               AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]'))
               AS INT) AS n_subtokens
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting."""
    return token_count(_t(spark, sf_dir, "documents"))


@query(
    "q_lang_id",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
    ), hits AS (
        SELECT doc_id,
          len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is')))
              AS h_en,
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht')))
              AS h_de,
          len(list_filter(toks, x -> x IN ('el','la','de','que','y','en')))
              AS h_es,
          len(list_filter(toks, x -> x IN ('le','la','de','et','est','que')))
              AS h_fr
        FROM t
    )
    SELECT doc_id,
           CASE WHEN GREATEST(h_en, h_de, h_es, h_fr) IS NULL THEN 'und'
                WHEN GREATEST(h_en, h_de, h_es, h_fr) = 0 THEN 'und'
                WHEN h_fr = GREATEST(h_en, h_de, h_es, h_fr) THEN 'fr'
                WHEN h_es = GREATEST(h_en, h_de, h_es, h_fr) THEN 'es'
                WHEN h_en = GREATEST(h_en, h_de, h_es, h_fr) THEN 'en'
                ELSE 'de' END AS lang_guess,
           GREATEST(h_en, h_de, h_es, h_fr) AS stopword_hits
    FROM hits
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-anchor language-ID heuristic; argmax with deterministic
    tiebreak (highest language code wins ties — mirrored in the oracle)."""
    out = lang_id(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "lang_guess", F.col("stopword_hits").cast("bigint").alias("stopword_hits")
    )


@query(
    "q_quality_score",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                   AS n_tokens,
               CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9_ \\t\\n]'))
                   AS DOUBLE) AS n_punct,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) AS n_digit
        FROM documents
    )
    SELECT doc_id,
           CAST(n_chars AS INT) AS n_chars_obs,
           CAST(n_tokens AS INT) AS n_tokens,
           (n_chars - (n_tokens - 1.0)) / GREATEST(n_tokens, 1.0)
               AS avg_token_len,
           n_punct / GREATEST(n_chars, 1.0) AS punct_ratio,
           n_digit / GREATEST(n_chars, 1.0) AS digit_ratio,
           LEAST(n_tokens / 64.0, 1.0) * 0.5
             + (1.0 - LEAST(n_punct / GREATEST(n_chars, 1.0) * 4.0, 1.0)) * 0.25
             + (1.0 - LEAST(n_digit / GREATEST(n_chars, 1.0) * 4.0, 1.0)) * 0.25
               AS quality
    FROM f
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality features + composite score (identical IEEE
    expression tree on both engines — no rounding needed)."""
    return quality_score(_t(spark, sf_dir, "documents"))


@query(
    "q_text_redact_pii",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '[REDACTED]', 'g'),
               '\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}', '[REDACTED]', 'g')
               AS redacted,
           CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
               AS n_email,
           CAST(len(regexp_extract_all(text,
               '\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}')) AS BIGINT) AS n_phone
    FROM documents
    """,
)
def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (SURVEY §2.11 text analysis): regex scrub + per-pattern
    match counts, narrow and codegen'd (operators/text.redact_patterns).
    Patterns use only RE2∩Java-regex constructs (char classes + counted
    repetition, no lookaround) so both engines match identical spans;
    DuckDB needs the 'g' flag to match Spark's replace-all default."""
    return redact_patterns(_t(spark, sf_dir, "documents"))


@query(
    "q_text_chunk",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL
    ), s AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, GREATEST(len(toks) - 8, 1), 24))
                   AS st
        FROM t
    )
    SELECT doc_id,
           CAST((st - 1) // 24 AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(toks, st, st + 31), ' ') AS chunk_text,
           CAST(len(list_slice(toks, st, st + 31)) AS BIGINT) AS n_tokens
    FROM s
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking with overlap (size=32, overlap=8 → stride 24)
    — the RAG/pretraining context-window splitter
    (operators/text.chunk_tokens). No shuffle at all: split → sequence of
    starts → explode → slice, all narrow. Oracle mirrors with
    generate_series + list_slice (both inclusive-stop, 1-based — same
    clipping on the final partial chunk)."""
    return chunk_tokens(
        _t(spark, sf_dir, "documents"), size=32, overlap=8
    )


@query(
    "q_text_repetition",
    oracle=r"""
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_distinct_tokens,
           MAX(cnt) AS top_token_count,
           CAST(CASE WHEN MAX(cnt) * 5 > SUM(cnt) THEN 1 ELSE 0 END AS INT)
               AS is_repetitive
    FROM (
        SELECT doc_id, tok, COUNT(*) AS cnt
        FROM (SELECT doc_id,
                     unnest(string_split_regex(trim(text), '\s+')) AS tok
              FROM documents WHERE text IS NOT NULL)
        GROUP BY doc_id, tok
    )
    GROUP BY doc_id
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-repetition boilerplate/spam profile
    (operators/text.token_repetition): total / distinct / top-token counts
    + integer-arithmetic repetitive flag (top·5 > total ⇔ one token exceeds
    20% of the doc — no float division, cross-engine-exact). Two
    map-side-combinable aggs, both keyed on doc id."""
    return token_repetition(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Streaming, ML, multimodal (rows-only surfaces)
# ---------------------------------------------------------------------------


@query(
    "q_session_window_batch",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            >= 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
    ), s AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST
                                 ROWS UNBOUNDED PRECEDING) AS sess
        FROM flagged
    )
    SELECT user_id,
           MIN(epoch_us(ts)) AS start_us,
           MAX(epoch_us(ts)) + 1800000000 AS end_us,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sess
    """,
)
def q_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``F.session_window`` in batch mode (same operator Structured
    Streaming uses). Oracle replicates merge-on-overlap semantics: a
    successor exactly at the gap boundary starts a NEW session (>=, unlike
    the batch gap-rule's >); window end = last event + gap."""
    from bigdata_retailrocket_recsys_spark.streaming.sessionize_stream import (
        streaming_session_stats,
    )

    ev = _t(spark, sf_dir, "events")
    return streaming_session_stats(ev, gap_minutes=30, watermark="365 days")


@query(
    "q_stream_session_window",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            >= 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
    ), s AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST
                                 ROWS UNBOUNDED PRECEDING) AS sess
        FROM flagged
    )
    SELECT user_id,
           MIN(epoch_us(ts)) AS start_us,
           MAX(epoch_us(ts)) + 1800000000 AS end_us,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sess
    """.replace(
        "WHERE ts IS NOT NULL",
        "WHERE ts IS NOT NULL AND epoch_us(ts) >= 0",
    ),
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Structured Streaming sessionization: parquet file stream →
    watermark → session_window agg → memory sink (Trigger.AvailableNow).
    The bounded source arrives as ONE micro-batch (single file), so the
    watermark drops nothing and the sink equals the batch session_window
    result — same DuckDB oracle as q_session_window_batch, restricted to
    the streaming event-time domain (non-null, post-epoch ts — see
    sources/readers.events_stream)."""
    from bigdata_retailrocket_recsys_spark.streaming.sessionize_stream import (
        run_streaming_sessionize,
    )

    return run_streaming_sessionize(spark, sf_dir)


@query(
    "q_scan_pysource",
    oracle="""
    WITH g AS (
        SELECT range AS i,
               1704067200000000 + range * 1000000 AS ts_us,
               (range * 2654435761) % 1000 AS user_id,
               ['view','click','purchase','signup','error'][
                   CAST((range * 7) % 5 AS INT) + 1] AS event_type,
               ((range * 48271) % 100000) / 100.0 AS value
        FROM range(50000)
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           MIN(user_id) AS min_user, MAX(user_id) AS max_user,
           MIN(ts_us) AS first_ts_us, MAX(ts_us) AS last_ts_us,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM g GROUP BY event_type
    """,
)
def q_scan_pysource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source (Spark 4 ``pyspark.sql.datasource``):
    deterministic synthetic events generated in 8 parallel tasks with zero
    storage (sources/generator.py) — the scale/soak-test ingest path; any
    volume is one option away. Every column is a closed form of the row
    index, so DuckDB reproduces the whole table from ``range(n)`` and this
    custom source is FULLY oracle-checked (not rows-only)."""
    from bigdata_retailrocket_recsys_spark.sources.generator import (
        register_events_generator,
    )

    register_events_generator(spark)
    df = (
        spark.read.format("bdrr_events_gen")
        .option("rows", 50_000)
        .option("partitions", 8)
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
        F.min(F.unix_micros("ts")).alias("first_ts_us"),
        F.max(F.unix_micros("ts")).alias("last_ts_us"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


@query(
    "q_scan_pysource_pruned",
    oracle="""
    WITH g AS (
        SELECT range AS i,
               1704067200000000 + range * 1000000 AS ts_us,
               (range * 2654435761) % 1000 AS user_id,
               ['view','click','purchase','signup','error'][
                   CAST((range * 7) % 5 AS INT) + 1] AS event_type,
               ((range * 48271) % 100000) / 100.0 AS value
        FROM range(50000)
    )
    SELECT i AS event_id, ts_us, user_id, event_type, value
    FROM g WHERE i >= 20000 AND i < 20400 AND event_type <> 'error'
    """,
)
def q_scan_pysource_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushdown INTO the custom Python source (Spark 4.1
    ``pushFilters``): the event_id range conjuncts are consumed as
    arithmetic partition pruning — the clipped rows are never generated,
    the custom-source analogue of parquet row-group pruning — while the
    event_type predicate comes back as a residual Spark evaluates
    post-scan. The oracle applies the SAME predicates to the closed-form
    table, so a pruning bug (off-by-one clip, dropped residual) breaks
    the hash."""
    from bigdata_retailrocket_recsys_spark.sources.generator import (
        register_events_generator,
    )

    register_events_generator(spark)
    df = (
        spark.read.format("bdrr_events_gen")
        .option("rows", 50_000)
        .option("partitions", 8)
        .load()
    )
    return df.filter(
        (F.col("event_id") >= 20_000)
        & (F.col("event_id") < 20_400)
        & (F.col("event_type") != "error")
    ).select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


@query(
    "q_stream_pysource",
    oracle="""
    WITH g AS (
        SELECT 1704067200000000 + range * 1000000 AS ts_us,
               (range * 2654435761) % 1000 AS user_id,
               ['view','click','purchase','signup','error'][
                   CAST((range * 7) % 5 AS INT) + 1] AS event_type
        FROM range(30000)
    )
    SELECT event_type, COUNT(*) AS n_events,
           MIN(user_id) AS min_user, MAX(user_id) AS max_user,
           MIN(ts_us) AS first_ts_us, MAX(ts_us) AS last_ts_us
    FROM g GROUP BY event_type
    """,
)
def q_stream_pysource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING Python Data Source (SimpleDataSourceStreamReader):
    the generator's micro-batch reader feeds 3 batches of 10k rows with the
    offset AS the row index — exactly-once replay after failure is
    arithmetic (restart from the checkpointed offset, regenerate identical
    rows). Complete-mode aggregate over the exhausted stream equals the
    batch aggregate → full DuckDB oracle (sources/generator.py)."""
    from bigdata_retailrocket_recsys_spark.sources.generator import (
        run_generator_stream,
    )

    return run_generator_stream(spark, rows=30_000, batch_rows=10_000)


@query(
    "q_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n FROM (
        SELECT DISTINCT event_id, event_type FROM events
        WHERE ts IS NOT NULL AND epoch_us(ts) >= 0
    ) GROUP BY event_type
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicates on the stream (state = seen
    keys, bounded by watermark in production via
    dropDuplicatesWithinWatermark) → per-type counts. Bounded source ⇒
    equals batch DISTINCT ⇒ full oracle."""
    from bigdata_retailrocket_recsys_spark.sources.readers import events_stream
    from bigdata_retailrocket_recsys_spark.streaming import pin_streaming_confs

    pin_streaming_confs(spark)
    out = (
        events_stream(spark, sf_dir).select("event_id", "event_type")
        .dropDuplicates(["event_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        out.writeStream.format("memory")
        .queryName("bdrr_stream_dedup")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("bdrr_stream_dedup")


@query(
    "q_stream_dedup_watermarked",
    oracle="""
    SELECT event_type, COUNT(*) AS n FROM (
        SELECT DISTINCT event_id, event_type FROM events
        WHERE ts IS NOT NULL AND epoch_us(ts) >= 0
    ) GROUP BY event_type
    """,
)
def q_stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state: ``dropDuplicatesWithinWatermark``
    evicts seen-key state once the watermark passes — the production form
    of q_stream_dedup, whose plain ``dropDuplicates`` state grows without
    bound on an infinite stream. With the bounded source arriving as one
    micro-batch, no key can be evicted before its duplicate arrives, so
    the result equals batch DISTINCT and the same oracle applies (the
    semantic difference is purely the state-store eviction contract)."""
    from bigdata_retailrocket_recsys_spark.sources.readers import events_stream
    from bigdata_retailrocket_recsys_spark.streaming import pin_streaming_confs

    pin_streaming_confs(spark)
    out = (
        events_stream(spark, sf_dir)
        .select("event_id", "event_type", "ts")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        out.writeStream.format("memory")
        .queryName("bdrr_stream_dedup_wm")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("bdrr_stream_dedup_wm")


@query(
    "q_stream_static_join",
    oracle="""
    WITH cat AS (
        SELECT DISTINCT user_id % 10 AS user_bucket FROM events
    )
    SELECT e.user_id % 10 AS user_bucket, COUNT(*) AS n_events
    FROM events e JOIN cat c ON e.user_id % 10 = c.user_bucket
    WHERE e.ts IS NOT NULL AND epoch_us(e.ts) >= 0
    GROUP BY 1
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the streaming fact joins a static
    (batch) dimension per micro-batch — the streaming form of dimension
    enrichment (no state, dim re-resolved each batch). Bounded source ⇒
    equals the batch join ⇒ full oracle."""
    from bigdata_retailrocket_recsys_spark.sources.readers import events_stream
    from bigdata_retailrocket_recsys_spark.streaming import pin_streaming_confs

    pin_streaming_confs(spark)
    stream = events_stream(spark, sf_dir).withColumn(
        "user_bucket", F.col("user_id") % 10
    )
    static_dim = (
        _t(spark, sf_dir, "events")
        .select((F.col("user_id") % 10).alias("user_bucket"))
        .distinct()
    )
    out = (
        stream.join(F.broadcast(static_dim), "user_bucket")
        .groupBy("user_bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        out.writeStream.format("memory")
        .queryName("bdrr_stream_static")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("bdrr_stream_static")


@query(
    "q_stream_stateful_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND epoch_us(ts) >= 0
        WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
    ), s AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST
                                 ROWS UNBOUNDED PRECEDING) AS sess
        FROM flagged
    )
    SELECT user_id,
           MIN(epoch_us(ts)) AS session_start_us,
           MAX(epoch_us(ts)) AS session_end_us,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sess
    """,
)
def q_stream_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user open-session state + event-time timeout, carrying the BATCH
    strict-> gap rule into streaming (unlike session_window's >=). Bounded
    source → one micro-batch → upserts equal the batch sessionization →
    full DuckDB oracle."""
    from bigdata_retailrocket_recsys_spark.streaming.stateful import (
        run_stateful_sessionize,
    )

    return run_stateful_sessionize(spark, sf_dir)


@query(
    "q_stream_tumbling_window",
    # window-start bucketing must FLOOR (Spark's window() floors) — the
    # trunc-vs-floor-proof exact-division form, negative-epoch safe
    oracle=f"""
    SELECT {_floormul_sql("epoch_us(ts)", 3600000000)} AS win_start_us,
           event_type,
           count(*) AS n_events,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    WHERE ts IS NOT NULL AND epoch_us(ts) >= 0
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window aggregation with watermark:
    parquet file stream → window(1h) agg → memory sink (AvailableNow).
    Bounded source + deterministic aggs (count/min/max) ⇒ value-equal to
    the batch GROUP BY ⇒ full DuckDB oracle, not just rows-only."""
    from bigdata_retailrocket_recsys_spark.streaming.sessionize_stream import (
        run_streaming_tumbling,
    )

    return run_streaming_tumbling(spark, sf_dir)


@query("q_w2v_embed", oracle=None)
def q_w2v_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Word2Vec category embeddings (MLlib replaces the
    reference's driver-side gensim, py:403-431). Float values are
    seed/implementation-specific → rows-only."""
    from pyspark.sql import functions as F2

    from bigdata_retailrocket_recsys_spark.pipelines.retailrocket import (
        PipelineConfig,
        sessionize_events,
        train_category_embeddings,
    )

    raw = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F2.get_json_object("props", "$.k").cast("bigint").alias("item_id"),
        F2.col("event_type").alias("event"),
    )
    cfg = PipelineConfig()
    ev = sessionize_events(raw, cfg).withColumn(
        "category_id", F2.col("item_id") % 20
    )
    emb = train_category_embeddings(ev, cfg)
    return emb.select(
        "category_id", F.size("vector").alias("dim")
    )


@query("q_multimodal_meta", oracle=None)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload + metadata struct + Arrow-batched
    mapInPandas feature extraction (decode stubbed — no codecs in this
    environment; the distributed path is real)."""
    from bigdata_retailrocket_recsys_spark.operators.multimodal import (
        attach_fake_media,
        extract_media_features,
    )

    docs = _t(spark, sf_dir, "documents")
    assets = attach_fake_media(docs, id_col="doc_id", payload_from="text")
    feats = extract_media_features(assets, decode_stub="fake")
    return feats.join(
        assets.select("asset_id", F.col("meta.n_bytes").alias("meta_bytes")),
        "asset_id",
    )


@query(
    "q_fingerprint",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    )
    SELECT doc_id,
           md5(norm) AS fp_exact,
           substr(md5(array_to_string(toks[1:5], ' ')), 1, 8)
             || substr(md5(array_to_string(list_reverse(toks)[1:5], ' ')), 1, 8)
               AS fp_rolling
    FROM t
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of normalized text + head/tail shingle
    rolling fingerprint (md5 on both engines → byte-identical)."""
    return fingerprint(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# As-of / band joins, hash split, TF-IDF, dedup clustering (session additions)
# ---------------------------------------------------------------------------


@query(
    "q_join_asof_nearest",
    headline=True,
    oracle="""
    WITH anchors AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), src AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type <> 'purchase'
    )
    SELECT a.event_id, a.user_id, epoch_us(a.ts) AS ts_us,
           e.event_id AS prev_event_id, e.value AS prev_value,
           epoch_us(e.ts) AS prev_ts_us
    FROM anchors a LEFT JOIN src e
      ON a.user_id = e.user_id AND e.ts < a.ts
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY a.event_id
        ORDER BY e.ts DESC NULLS LAST, e.event_id DESC NULLS LAST) = 1
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True as-of join (nearest preceding, strict `<`): each purchase gets
    the single latest earlier non-purchase event of the same user. The
    reference builds as-of lookups from theta joins (py:349-353); this is
    the proper operator via union+window — ONE shuffle, no per-key
    history fan-out (operators/joins.asof_join)."""
    from bigdata_retailrocket_recsys_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    anchors = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    src = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        anchors,
        src,
        key_cols=["user_id"],
        anchor_ts="ts",
        event_ts="ts",
        value_cols=["event_id", "value"],
        tiebreak_col="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "prev_event_id",
        "prev_value",
        F.unix_micros("prev_ts").alias("prev_ts_us"),
    )


@query(
    "q_join_range_band",
    oracle="""
    SELECT a.event_id AS a_event_id, b.event_id AS b_event_id,
           a.value - b.value AS diff
    FROM events a JOIN events b
      ON a.event_type = b.event_type AND a.event_id < b.event_id
     AND abs(a.value - b.value) <= 0.02
    """,
)
def q_join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-band join: same-type event pairs with |Δvalue| ≤ 0.02, via
    bucket-explode equi join (operators/joins.band_join) — shuffle-
    partitionable, never a BroadcastNestedLoopJoin cross product. Oracle is
    the naive theta join; results are value-identical (subtraction is exact
    IEEE — float rule 3)."""
    from bigdata_retailrocket_recsys_spark.operators.joins import band_join

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = band_join(
        ev,
        ev,
        left_val="value",
        right_val="value",
        eps=0.02,
        key_cols=["event_type"],
        extra_cond=F.col("a_event_id") < F.col("b_event_id"),
    )
    return out.select(
        "a_event_id",
        "b_event_id",
        (F.col("a_value") - F.col("b_value")).alias("diff"),
    )


@query(
    "q_split_hash",
    oracle="""
    SELECT event_id,
           CASE WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 4) < '199a'
                THEN 'valid'
                WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 4) < '3333'
                THEN 'test'
                ELSE 'train' END AS split
    FROM events
    """,
)
def q_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/test/valid split (10/10/80).
    Unlike randomSplit/sample (partition-seeded RNG), membership depends
    only on the key — stable across runs, engines, and repartitioning
    (operators/splits.hash_split). Reference splits by time range
    (py:199-207); hash splits are the corpus-pipeline complement."""
    from bigdata_retailrocket_recsys_spark.operators.splits import hash_split

    ev = _t(spark, sf_dir, "events").select("event_id")
    return hash_split(
        ev,
        key_cols=["event_id"],
        splits=[("valid", 0.1), ("test", 0.1), ("train", 0.8)],
    )


@query(
    "q_split_kfold",
    oracle="""
    SELECT doc_id,
           CAST(CAST((substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= '3333') AS INT)
              + CAST((substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= '6666') AS INT)
              + CAST((substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= '999a') AS INT)
              + CAST((substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= 'cccd') AS INT)
             AS INT) AS fold
    FROM documents
    """,
)
def q_split_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold assignment by content hash
    (operators/splits.kfold_assign): fold = Σ[h ≥ boundᵢ] over equal
    16-bit thresholds — pure fixed-width-hex string compares, so the same
    expression runs in any engine; membership survives reruns and
    repartitioning (the leakage-safe CV building block)."""
    from bigdata_retailrocket_recsys_spark.operators.splits import kfold_assign

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return kfold_assign(docs, key_cols=["doc_id"], k=5)


@query(
    "q_feature_hash",
    oracle="""
    SELECT doc_id, lang,
           CAST(CAST('0x' || substr(md5(lang), 1, 8) AS BIGINT) % 64 AS INT)
               AS feat_idx
    FROM documents
    """,
)
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick categorical index (operators/features
    .feature_hash_index): first 32 md5 bits mod n_buckets — no fitted
    vocabulary, no OOV, content-defined so indices are stable across
    engines/runs/corpus growth. Narrow JVM expression (conv+pmod), no
    shuffle. Oracle parses the same 8 hex chars via '0x'-cast."""
    from bigdata_retailrocket_recsys_spark.operators.features import (
        feature_hash_index,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        feature_hash_index("lang", n_buckets=64).alias("feat_idx"),
    )


@query(
    "q_target_encode_oof",
    oracle="""
    WITH f AS (
        SELECT doc_id, lang, n_chars,
               CAST(CAST((substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= '3333') AS INT)
                  + CAST((substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= '6666') AS INT)
                  + CAST((substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= '999a') AS INT)
                  + CAST((substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= 'cccd') AS INT)
                 AS INT) AS fold
        FROM documents
    ), s AS (
        SELECT lang, fold,
               CAST(SUM(n_chars) AS BIGINT) AS fs,
               CAST(COUNT(n_chars) AS BIGINT) AS fc
        FROM f GROUP BY lang, fold
    ), ct AS (
        SELECT lang, CAST(SUM(fs) AS BIGINT) AS cs,
               CAST(SUM(fc) AS BIGINT) AS cc
        FROM s GROUP BY lang
    ), gf AS (
        SELECT fold, CAST(SUM(fs) AS BIGINT) AS gfs,
               CAST(SUM(fc) AS BIGINT) AS gfc
        FROM s GROUP BY fold
    ), g AS (
        SELECT CAST(SUM(fs) AS BIGINT) AS gs, CAST(SUM(fc) AS BIGINT) AS gc
        FROM s
    )
    SELECT f.doc_id, f.fold,
           CASE WHEN (COALESCE(ct.cc, 0) - COALESCE(s.fc, 0)) > 0
                THEN CAST(COALESCE(ct.cs, 0) - COALESCE(s.fs, 0) AS DOUBLE)
                     / CAST(COALESCE(ct.cc, 0) - COALESCE(s.fc, 0) AS DOUBLE)
                WHEN (g.gc - COALESCE(gf.gfc, 0)) > 0
                THEN CAST(g.gs - COALESCE(gf.gfs, 0) AS DOUBLE)
                     / CAST(g.gc - COALESCE(gf.gfc, 0) AS DOUBLE)
                ELSE NULL END AS te
    FROM f
    LEFT JOIN s ON f.lang = s.lang AND f.fold = s.fold
    LEFT JOIN ct ON f.lang = ct.lang
    LEFT JOIN gf ON f.fold = gf.fold
    CROSS JOIN g
    """,
)
def q_target_encode_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe out-of-fold target encoding (operators/features
    .target_encode_oof): mean n_chars per lang computed EXCLUDING the
    row's own hash-assigned fold; lang-in-one-fold-only rows fall back to
    the global OOF mean. One map-side partial agg to the tiny (lang,
    fold) table, broadcast-joined back — the fact rows never shuffle.
    Exact BIGINT sums + one IEEE division → cross-engine bit-stable."""
    from bigdata_retailrocket_recsys_spark.operators.features import (
        target_encode_oof,
    )

    docs = _t(spark, sf_dir, "documents")
    return target_encode_oof(
        docs,
        cat_col="lang",
        target_col="n_chars",
        key_cols=["doc_id"],
        k=5,
    ).select("doc_id", "fold", "te")


@query(
    "q_negative_sample",
    oracle="""
    WITH pos AS (
        SELECT DISTINCT user_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
        FROM events
        WHERE event_type = 'view'
          AND json_extract_string(props, '$.k') IS NOT NULL
          AND user_id IS NOT NULL
    ), w AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS wt FROM pos GROUP BY item
    ), cum AS (
        SELECT item, wt,
               CAST(COALESCE(SUM(wt) OVER (ORDER BY item
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS lo
        FROM w
    ), tot AS (
        SELECT CAST(SUM(wt) AS BIGINT) AS total FROM w
    ), draws AS (
        SELECT p.user_id, p.item, CAST(g.j AS INT) AS j,
               CAST(('0x' || substr(md5(
                   CAST(p.user_id AS VARCHAR) || chr(31) ||
                   CAST(p.item AS VARCHAR) || chr(31) ||
                   CAST(g.j AS VARCHAR)), 1, 8))::BIGINT % t.total
                 AS BIGINT) AS target
        FROM pos p
        CROSS JOIN tot t
        CROSS JOIN generate_series(0, 2) g(j)
    )
    SELECT d.user_id, d.item, d.j, c.item AS neg_item
    FROM draws d
    JOIN cum c ON d.target >= c.lo AND d.target < c.lo + c.wt
    WHERE NOT EXISTS (
        SELECT 1 FROM pos p2
        WHERE p2.user_id = d.user_id AND p2.item = c.item
    )
    """,
)
def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic popularity-proportional negative sampling
    (operators/features.popularity_negative_samples) over view positives —
    the training-example op the reference's positives-only matrix
    (prepare_training_data_pyspark.py:441-626) hands off to the trainer.
    Draws come from md5 bits mod total-weight; item intervals on the
    cumulative-popularity line; interval lookup is a bucketed broadcast
    equi-join (no nested-loop range join); negatives that collide with
    ANY of the user's positives are dropped (≤ k per positive). Oracle
    uses the naive range join — value-identical, just not the plan you'd
    run at scale."""
    from bigdata_retailrocket_recsys_spark.operators.features import (
        popularity_negative_samples,
    )

    pos = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("item"),
        )
        .filter(F.col("item").isNotNull())
    )
    return popularity_negative_samples(
        pos, user_col="user_id", item_col="item", k=3
    )


@query(
    "q_pack_sequences",
    oracle="""
    WITH d AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS nt,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                    % 8 AS INT) AS shard
        FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0
    ), c AS (
        SELECT shard, doc_id, nt,
               CAST(COALESCE(SUM(nt) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS s
        FROM d
    ), seg AS (
        SELECT shard, doc_id, s, s + nt AS e,
               unnest(generate_series(s // 4096, (s + nt - 1) // 4096)) AS seq_id
        FROM c
    )
    SELECT shard, seq_id, doc_id,
           GREATEST(s, seq_id * 4096) - s AS doc_offset,
           GREATEST(s, seq_id * 4096) - seq_id * 4096 AS seq_offset,
           LEAST(e, seq_id * 4096 + 4096) - GREATEST(s, seq_id * 4096) AS seg_len
    FROM seg
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style pretraining sequence packing (operators/features
    .pack_sequences): documents concatenated per content-hash shard in
    doc_id order, the token line cut every 4096 tokens (n_chars standing
    in for token counts — the operator only sees a length column), docs
    spanning cuts. One window cumsum + interval-arithmetic explode — no
    loop, no UDF; shards parallelize the sort at 100 TB. Segments tile
    both every sequence and every document exactly (property-tested)."""
    from bigdata_retailrocket_recsys_spark.operators.features import (
        pack_sequences,
    )

    return pack_sequences(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        n_tokens_col="n_chars",
        seq_len=4096,
        n_shards=8,
    )


@query(
    "q_tfidf",
    oracle="""
    WITH tok AS (
        SELECT doc_id AS doc,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        FROM documents
    ), tf AS (
        SELECT doc, term, COUNT(*) AS n_tf
        FROM tok WHERE term <> '' GROUP BY doc, term
    ), dfreq AS (
        SELECT term, COUNT(*) AS n_df FROM tf GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc, term, n_tf, n_df, tfidf_u, rank FROM (
        SELECT tf.doc, tf.term, tf.n_tf, dfreq.n_df,
               CAST(FLOOR(CAST(tf.n_tf AS DOUBLE)
                    * (ln(CAST(n_docs + 1 AS DOUBLE)
                          / CAST(dfreq.n_df + 1 AS DOUBLE)) + 1.0)
                    * 1e6) AS BIGINT) AS tfidf_u,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc
                   ORDER BY CAST(FLOOR(CAST(tf.n_tf AS DOUBLE)
                        * (ln(CAST(n_docs + 1 AS DOUBLE)
                              / CAST(dfreq.n_df + 1 AS DOUBLE)) + 1.0)
                        * 1e6) AS BIGINT) DESC NULLS LAST, tf.term ASC NULLS FIRST) AS rank
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ) WHERE rank <= 5
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-5 terms per document (operators/text.tfidf): three
    map-side-combinable aggregates + 1-row corpus-size broadcast, ranked by
    the µ-floored weight (float rule 3 — ln goes through floor(x*1e6))."""
    from bigdata_retailrocket_recsys_spark.operators.text import tfidf

    return tfidf(_t(spark, sf_dir, "documents"), top_k=5)


@query(
    "q_dedup_clusters",
    oracle="""
    WITH RECURSIVE tok AS (
        SELECT DISTINCT doc_id AS doc, lang, source,
               unnest(string_split_regex(trim(text), '\\s+')) AS shingle
        FROM documents
    ), sizes AS (
        SELECT doc, COUNT(*) AS n_sh FROM tok GROUP BY doc
    ), common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b
          ON a.shingle = b.shingle AND a.doc < b.doc
         AND a.lang = b.lang AND a.source = b.source
        GROUP BY a.doc, b.doc
    ), pairs AS (
        SELECT doc_a, doc_b FROM common
        JOIN sizes sa ON sa.doc = doc_a
        JOIN sizes sb ON sb.doc = doc_b
        WHERE CAST(n_common AS DOUBLE)
                  / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
    ), edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ), reach(s, d) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    )
    SELECT s AS doc_id, MIN(d) AS cluster_id FROM reach GROUP BY s
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering: connected components over Jaccard≥0.5 near-dup
    pairs (min-label propagation, operators/dedup.connected_components) —
    the canonical-doc-per-group step after pairwise dedup. Oracle:
    recursive-CTE transitive closure over the same edge set."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        connected_components,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(
        docs,
        id_col="doc_id",
        text_col="text",
        block_cols=["lang", "source"],
        shingle_n=1,
        min_jaccard=0.5,
    ).select("doc_a", "doc_b")
    return connected_components(
        docs, edges, node_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )


@query(
    "q_stream_sliding_window",
    # slide-start bucketing must FLOOR (Spark window() floors) — see tumbling
    oracle=f"""
    WITH w AS (
        SELECT unnest([
                   {_floormul_sql("epoch_us(ts)", 1800000000)},
                   {_floormul_sql("epoch_us(ts)", 1800000000)} - 1800000000
               ]) AS win_start_us,
               event_type, value
        FROM events
        WHERE ts IS NOT NULL AND epoch_us(ts) >= 0
    )
    SELECT win_start_us, event_type, count(*) AS n_events,
           min(value) AS min_value, max(value) AS max_value
    FROM w GROUP BY 1, 2
    """,
)
def q_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming SLIDING-window aggregation (1h window / 30min
    slide — each event in 2 overlapping windows), watermarked, AvailableNow
    → memory sink. Bounded source + deterministic aggs ⇒ batch-equal ⇒
    full DuckDB oracle (each event unnested into its 2 windows)."""
    from bigdata_retailrocket_recsys_spark.streaming.sessionize_stream import (
        run_streaming_tumbling,
    )

    return run_streaming_tumbling(
        spark,
        sf_dir,
        window="1 hour",
        slide="30 minutes",
        sink_table="bdrr_stream_sliding",
    )


@query(
    "q_agg_grouping_sets",
    oracle="""
    SELECT COALESCE(o_orderstatus, '*') AS status,
           COALESCE(o_orderpriority, '*') AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price,
           GROUPING(o_orderstatus, o_orderpriority) AS gid
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (completes the rollup/cube family, SURVEY
    §2.4 'engine adds') with grouping_id — one pass, no union of scans.
    Decimal-routed price sum (float rule 2); COALESCE sentinels make the
    subtotal rows hash-comparable."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("*")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("*")).alias("priority"),
            "n",
            "sum_price",
            "gid",
        )
    )


@query(
    "q_agg_histogram",
    oracle="""
    SELECT CASE WHEN isnan(value) OR isinf(value) THEN NULL
                ELSE CAST(FLOOR(value / 25.0) AS BIGINT) END AS bin,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning (floor arithmetic — IEEE-identical
    across engines, float rule 3): one map-side-combinable aggregate, the
    distributed profile/summary-stats shape for data curation."""
    ev = _t(spark, sf_dir, "events")
    finite = ~F.isnan("value") & (F.abs("value") != float("inf"))
    return ev.groupBy(
        F.when(finite, F.floor(F.col("value") / F.lit(25.0)).cast("bigint")).alias(
            "bin"
        ),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec_value()).cast("double").alias(
            "sum_value"
        ),
    )


@query(
    "q_stream_stream_join",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           epoch_us(v.ts) AS view_ts_us, epoch_us(p.ts) AS purchase_ts_us
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    WHERE epoch_us(v.ts) >= 0 AND epoch_us(p.ts) >= 0
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (views ⋈ purchases within 1h,
    same user): both streams buffer watermark-bounded state; the time-range
    condition lets Spark expire it. Bounded source + AvailableNow ⇒ every
    qualifying pair emitted exactly once ⇒ full DuckDB oracle
    (streaming/stream_join.py)."""
    from bigdata_retailrocket_recsys_spark.streaming.stream_join import (
        run_stream_stream_join,
    )

    return run_stream_stream_join(spark, sf_dir)


@query(
    "q_dedup_apply",
    oracle="""
    WITH RECURSIVE tok AS (
        SELECT DISTINCT doc_id AS doc, lang, source,
               unnest(string_split_regex(trim(text), '\\s+')) AS shingle
        FROM documents
    ), sizes AS (
        SELECT doc, COUNT(*) AS n_sh FROM tok GROUP BY doc
    ), common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b
          ON a.shingle = b.shingle AND a.doc < b.doc
         AND a.lang = b.lang AND a.source = b.source
        GROUP BY a.doc, b.doc
    ), pairs AS (
        SELECT doc_a, doc_b FROM common
        JOIN sizes sa ON sa.doc = doc_a
        JOIN sizes sb ON sb.doc = doc_b
        WHERE CAST(n_common AS DOUBLE)
                  / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
    ), edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ), reach(s, d) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ), clusters AS (
        SELECT s AS doc_id, MIN(d) AS cluster_id FROM reach GROUP BY s
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
    WHERE c.doc_id = c.cluster_id
    """,
)
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup REMOVAL: cluster Jaccard≥0.5 pairs, keep one
    canonical doc per cluster (min id — deterministic), return the
    surviving corpus. The composition a production curation pipeline runs:
    pairs → components → filter."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        connected_components,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(
        docs,
        id_col="doc_id",
        text_col="text",
        block_cols=["lang", "source"],
        shingle_n=1,
        min_jaccard=0.5,
    ).select("doc_a", "doc_b")
    # r14 (the corpus-pipeline loser move, guide §8): only edge-adjacent
    # docs can lose their cluster — CC over nodes=None labels just the
    # endpoints and the corpus-sized keeper semi-join becomes a
    # candidate-bounded loser anti-join. NULL-id docs were dropped by the
    # old keeper filter (NULL == NULL is never true) — kept explicit.
    cc = connected_components(
        None, edges, node_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    losers = cc.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return (
        docs.filter(F.col("doc_id").isNotNull())
        .join(losers, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
    )


@query(
    "q_funnel",
    oracle="""
    WITH t1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), t2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN t1 ON e.user_id = t1.user_id
        WHERE e.event_type = 'signup' AND e.ts > t1.t1
        GROUP BY e.user_id
    ), t3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN t2 ON e.user_id = t2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > t2.t2
        GROUP BY e.user_id
    )
    SELECT t1.user_id,
           epoch_us(t1.t1) AS t1_us,
           epoch_us(t2.t2) AS t2_us,
           epoch_us(t3.t3) AS t3_us,
           1 + CASE WHEN t2.t2 IS NULL THEN 0 ELSE 1 END
             + CASE WHEN t3.t3 IS NULL THEN 0 ELSE 1 END AS funnel_depth
    FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
            LEFT JOIN t3 ON t1.user_id = t3.user_id
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → signup → purchase): per user, the
    first time each step completes STRICTLY AFTER the previous step
    (half-open discipline, SURVEY §4.4). Three map-side-combinable min
    aggregates chained by equi joins — each stage shrinks, so later joins
    broadcast under AQE."""
    ev = _t(spark, sf_dir, "events")
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "signup")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    depth = (
        F.lit(1)
        + F.when(F.col("t2").isNull(), 0).otherwise(1)
        + F.when(F.col("t3").isNull(), 0).otherwise(1)
    )
    return (
        t1.join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            "user_id",
            F.unix_micros("t1").alias("t1_us"),
            F.unix_micros("t2").alias("t2_us"),
            F.unix_micros("t3").alias("t3_us"),
            depth.alias("funnel_depth"),
        )
    )


@query(
    "q_cohort_retention",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    )
    SELECT epoch_us(f.cohort_week) AS cohort_week_us,
           (epoch_us(a.week) - epoch_us(f.cohort_week)) // 604800000000
               AS weeks_since,
           COUNT(DISTINCT a.user_id) AS n_active
    FROM activity a JOIN first_seen f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen week, counted as
    active N weeks later. Two aggregates + one equi join; both engines
    truncate weeks to Monday so the buckets align exactly."""
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .groupBy(
            F.unix_micros("cohort_week").alias("cohort_week_us"),
            (
                (F.unix_micros("week") - F.unix_micros("cohort_week"))
                / F.lit(604800000000)
            )
            .cast("bigint")
            .alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@query(
    "q_agg_hll_sketch",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT CAST(ts AS DATE))
                + MAX(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_daily_sketches,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
           1 AS within_bound
    FROM events GROUP BY event_type
    """,
)
def q_agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Datasketches): per-day user sketches union
    into per-type totals — THE 100 TB distinct-count pattern (pre-aggregate
    once, merge any rollup later without rescanning).

    r7 graduation (rows-only → full oracle, the q_agg_approx_distinct
    contract pattern): raw register estimates are implementation-specific,
    so the hashed output is the union's accuracy CONTRACT — the merged
    per-day estimate must sit within 10% of exact (default lgConfigK=12
    → rsd ≈ 1.6%, so the margin is ≥6σ and deterministic per dataset).
    The exact distinct count and the daily-sketch count are real hashed
    value columns; a union bug, wrong column, or dropped day flips them.
    The merged-equals-direct exactness stays unit-tested."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        F.count(F.lit(1)).alias("n_daily_sketches"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    err = F.abs(
        F.coalesce(F.col("approx_users"), F.lit(0)).cast("double")
        - F.col("n_exact").cast("double")
    )
    # eqNullSafe: a NULL event_type group must survive the merge-vs-exact
    # join (plain equi-join drops NULL keys — advdata sweep catch)
    return merged.join(
        F.broadcast(exact.withColumnRenamed("event_type", "et2")),
        merged["event_type"].eqNullSafe(F.col("et2")),
    ).select(
        "event_type",
        "n_daily_sketches",
        "n_exact",
        (err <= 0.10 * F.col("n_exact").cast("double"))
        .cast("int")
        .alias("within_bound"),
    )


@query(
    "q_dedup_jaccard_prefix",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id AS doc, lang, source,
               unnest(string_split_regex(trim(text), '\\s+')) AS shingle
        FROM documents
    ), sizes AS (
        SELECT doc, COUNT(*) AS n_sh FROM tok GROUP BY doc
    ), common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b
          ON a.shingle = b.shingle AND a.doc < b.doc
         AND a.lang = b.lang AND a.source = b.source
        GROUP BY a.doc, b.doc
    )
    SELECT doc_a, doc_b, n_common,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(n_common AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE CAST(n_common AS DOUBLE)
              / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
    """,
)
def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard near-dup pairs via PREFIX FILTERING (ppjoin-style): shingles
    globally ordered rarest-first, each doc keeps a |S|-ceil(t|S|)+1 prefix,
    candidates = prefix-share pairs, then exact verify. Value-identical to
    q_dedup_ngram_jaccard (same oracle) with asymptotically fewer candidate
    pairs — hot stopword shingles never generate candidates
    (operators/dedup.ngram_jaccard_pairs_prefix)."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        ngram_jaccard_pairs_prefix,
    )

    return ngram_jaccard_pairs_prefix(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        block_cols=["lang", "source"],
        shingle_n=1,
        min_jaccard=0.5,
    )


@query(
    "q_split_stratified",
    oracle="""
    SELECT event_id, event_type
    FROM events
    WHERE CASE
        WHEN event_type = 'purchase' THEN TRUE
        WHEN event_type = 'view'
            THEN substr(md5(CAST(event_id AS VARCHAR)), 1, 4) < '199a'
        ELSE substr(md5(CAST(event_id AS VARCHAR)), 1, 4) < '8000'
    END
    """,
)
def q_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling (class rebalancing): keep all
    purchases, 10% of views, 50% of the rest — hash-stable membership,
    pure narrow filter (operators/splits.stratified_hash_sample). The
    reproducible replacement for df.sampleBy's partition-seeded RNG."""
    from bigdata_retailrocket_recsys_spark.operators.splits import (
        stratified_hash_sample,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    return stratified_hash_sample(
        ev,
        key_cols=["event_id"],
        strata_col="event_type",
        fractions={"purchase": 1.0, "view": 0.1},
        default_fraction=0.5,
    )


@query(
    "q_agg_countmin",
    oracle="""
    WITH cnt AS (
        SELECT event_type, user_id, COUNT(*) AS c FROM events
        WHERE user_id IS NOT NULL GROUP BY event_type, user_id
    ), top AS (
        SELECT event_type, user_id, c,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY c DESC, user_id ASC) AS rn
        FROM cnt
    )
    SELECT event_type, CAST(user_id AS BIGINT) AS probe_user,
           CAST(c AS BIGINT) AS true_cnt,
           1 AS est_ge_true, 1 AS est_within_eps
    FROM top WHERE rn <= 2
    """,
)
def q_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch per event type, DECODED (heavy-hitter frequency
    estimates in fixed memory — the streaming/merge-friendly companion
    to the HLL sketch).

    r7 graduation (rows-only → full oracle): PySpark exposes no estimate
    decoder, but the sketch bytes round-trip through the JVM's
    ``CountMinSketch.readFrom`` — a BOUNDED driver-side hop (one sketch
    per event type, two probe keys each; same class as the IVF
    probe-cell collect). The hashed output is the sketch CONTRACT per
    (type, top-2 user): estimates never under-count (hard CMS
    guarantee) and sit within 5× the eps·N one-sided bound (0.95
    confidence at 1×; 5× is deterministic per dataset+seed). True
    counts ride along as real hashed values. Probe selection (rn ≤ 2)
    compiles to WindowGroupLimit — per-partition top-k, scale-safe."""
    import math

    from pyspark.sql import Window

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
    )
    sk_rows = (
        ev.groupBy("event_type")
        .agg(
            F.count_min_sketch(
                F.col("user_id"), F.lit(0.01), F.lit(0.95), F.lit(42)
            ).alias("cms"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("c").desc(), F.col("user_id").asc()
    )
    probe_rows = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .collect()
    )
    cms_cls = spark._jvm.org.apache.spark.util.sketch.CountMinSketch
    sketches = {r.event_type: (cms_cls.readFrom(bytes(r.cms)), r.n) for r in sk_rows}
    out = []
    for r in probe_rows:
        sk, n_type = sketches[r.event_type]
        est = sk.estimateCount(r.user_id)
        slack = max(1, math.ceil(0.05 * n_type))
        out.append(
            (
                r.event_type,
                r.user_id,
                r.c,
                int(est >= r.c),
                int(est <= r.c + slack),
            )
        )
    return spark.createDataFrame(
        out,
        "event_type string, probe_user bigint, true_cnt bigint, "
        "est_ge_true int, est_within_eps int",
    )


@query(
    "q_resample_ffill",
    oracle="""
    WITH src AS (
        SELECT * FROM events
        WHERE user_id < 40 AND ts >= TIMESTAMP '2024-01-01'
    ), b AS (
        SELECT user_id,
               date_trunc('hour', MIN(ts)) AS b0,
               date_trunc('hour', MAX(ts)) AS b1
        FROM src GROUP BY user_id
    ), grid AS (
        SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        FROM b
    ), latest AS (
        SELECT user_id, date_trunc('hour', ts) AS bucket, value
        FROM src
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY user_id, date_trunc('hour', ts)
            ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST) = 1
    )
    SELECT g.user_id, epoch_us(g.bucket) AS bucket_us,
           LAST_VALUE(l.value IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.bucket NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
    FROM grid g LEFT JOIN latest l
      ON g.user_id = l.user_id AND g.bucket = l.bucket
    """,
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resampling with forward fill per user (users < 40 AND
    ts >= 2024 to bound the compare — an unbounded per-user grid over an
    adversarial 1969→2024 outlier span materializes 5.2M rows and blows
    a 1g-driver collect; resampling a bounded recent window is also the
    honest dashboard semantics): dense JVM-side `sequence()` grid,
    deterministic per-bucket latest observation, one cumulative fill
    window (operators/windows.resample_ffill)."""
    from bigdata_retailrocket_recsys_spark.operators.windows import (
        resample_ffill,
    )

    ev = _t(spark, sf_dir, "events").filter(
        (F.col("user_id") < 40)
        & (F.col("ts") >= F.lit("2024-01-01").cast("timestamp_ntz"))
    )
    out = resample_ffill(
        ev,
        key_cols=["user_id"],
        ts_col="ts",
        value_col="value",
        tiebreak_col="event_id",
    )
    return out.select(
        "user_id",
        F.unix_micros("bucket").alias("bucket_us"),
        "value_ffill",
    )


@query(
    "q_features_multi_horizon",
    oracle="""
    SELECT a.event_id, a.user_id, epoch_us(a.ts) AS ts_us,
           COUNT(e.event_id) AS n_all,
           CAST(COALESCE(SUM(CASE WHEN e.ts >= a.ts - INTERVAL 1 DAY
                             THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_1d,
           CAST(COALESCE(SUM(CASE WHEN e.ts >= a.ts - INTERVAL 7 DAY
                             THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_7d
    FROM (SELECT * FROM events WHERE event_type = 'purchase') a
    LEFT JOIN (SELECT * FROM events WHERE event_type <> 'purchase') e
      ON a.user_id = e.user_id AND e.ts < a.ts
    GROUP BY a.event_id, a.user_id, a.ts
    """,
)
def q_features_multi_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-horizon point-in-time features: per purchase anchor, the same
    user's strictly-prior event counts over all-history / 1-day / 7-day
    horizons — ONE prefix theta join + conditional sums (the reference
    would run one join per horizon; conditional aggregation folds them
    into a single pass — operators/joins.prefix_agg_join composability)."""
    from bigdata_retailrocket_recsys_spark.operators.joins import (
        prefix_agg_join,
    )

    ev = _t(spark, sf_dir, "events")
    anchors = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    src = ev.filter(F.col("event_type") != "purchase").select(
        F.col("event_id").alias("src_id"), "user_id", "ts"
    )
    out = prefix_agg_join(
        anchors,
        src,
        key_cols=["user_id"],
        anchor_ts="ts",
        event_ts="ts",
        aggs=[
            F.count(F.col("e.src_id")).alias("n_all"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("e.ts")
                        >= F.col("a.ts") - F.expr("interval 1 day"),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias("n_1d"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("e.ts")
                        >= F.col("a.ts") - F.expr("interval 7 days"),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias("n_7d"),
        ],
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "n_all",
        "n_1d",
        "n_7d",
    )


@query(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, value FROM (
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
               l_quantity AS value
        FROM lineitem WHERE l_orderkey < 100
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        FROM lineitem WHERE l_orderkey < 100
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        FROM lineitem WHERE l_orderkey < 100
    )
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide → long, the inverse of q_pivot): three measure
    columns become (measure, value) rows via the built-in `unpivot` —
    a narrow Generate, no shuffle, no UNION re-scan of the table (the
    oracle's UNION ALL form scans 3×; Spark's unpivot scans once)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 100)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "value",
    )


@query(
    "q_stream_foreach_batch",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_value
    FROM events WHERE ts IS NOT NULL AND epoch_us(ts) >= 0
    GROUP BY event_type
    """,
)
def q_stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch streaming sink: watermarked aggregate → idempotent
    per-batch parquet overwrite (the exactly-once pattern for sinks
    without native streaming support) → re-read. Bounded AvailableNow run
    equals the batch aggregate ⇒ full oracle
    (streaming/stream_join.run_stream_foreach_batch)."""
    from bigdata_retailrocket_recsys_spark.streaming.stream_join import (
        run_stream_foreach_batch,
    )

    return run_stream_foreach_batch(spark, sf_dir)


# ---------------------------------------------------------------------------
# Sequence / market-basket extensions (operators/sequences.py)
# ---------------------------------------------------------------------------


@query(
    "q_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS src,
               LEAD(CAST(json_extract_string(props, '$.k') AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS dst
        FROM events
    ), counts AS (
        SELECT src, dst, COUNT(*) AS n
        FROM seq WHERE dst IS NOT NULL
        GROUP BY src, dst HAVING COUNT(*) >= 3
    )
    SELECT src, dst, n,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE)
               AS p
    FROM counts
    """,
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order next-item transition counts + probabilities per user
    stream — the directed statistic the reference's unordered covis
    self-join (py:252-260) approximates. One lead-window shuffle + one
    agg shuffle; p is an IEEE bigint division (bit-identical cross-engine)
    computed over the post-HAVING counts."""
    from bigdata_retailrocket_recsys_spark.operators.sequences import (
        transition_counts,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("item"),
    )
    return transition_counts(
        ev,
        group_col="user_id",
        order_col="ts",
        item_col="item",
        tiebreak_cols=["event_id"],
        min_count=3,
    )


@query(
    "q_assoc_rules",
    oracle="""
    WITH base AS (
        SELECT DISTINCT user_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
        FROM events
    ), pairs AS (
        SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_pair
        FROM base a JOIN base b
          ON a.user_id = b.user_id AND a.item < b.item
        GROUP BY 1, 2 HAVING COUNT(*) >= 40
    ), ic AS (
        SELECT item, COUNT(*) AS n_item FROM base GROUP BY item
    ), tot AS (
        SELECT COUNT(DISTINCT user_id) AS n_groups FROM base
    ), joined AS (
        SELECT p.item_a, p.item_b, p.n_pair,
               a.n_item AS n_a, b.n_item AS n_b
        FROM pairs p
        JOIN ic a ON p.item_a = a.item
        JOIN ic b ON p.item_b = b.item
    ), directed AS (
        SELECT item_a AS antecedent, item_b AS consequent, n_pair,
               n_a AS n_ante, n_b AS n_cons FROM joined
        UNION ALL
        SELECT item_b, item_a, n_pair, n_b, n_a FROM joined
    )
    SELECT antecedent, consequent, n_pair,
           CAST(n_pair AS DOUBLE) / CAST(n_groups AS DOUBLE) AS support,
           CAST(n_pair AS DOUBLE) / CAST(n_ante AS DOUBLE) AS confidence,
           CAST(n_pair AS DOUBLE) * CAST(n_groups AS DOUBLE)
               / (CAST(n_ante AS DOUBLE) * CAST(n_cons AS DOUBLE)) AS lift
    FROM directed, tot
    """,
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules (support/confidence/lift) from the same
    covis self-join the reference's candidates use (py:252-260). Pair
    counts stay the fact; per-item counts and the 1-row group total are
    broadcast; both rule directions come from one struct-array explode —
    no UNION re-scan (the oracle's UNION ALL form is the 2-scan shape the
    engine avoids). All ratios are IEEE divisions of exact bigints."""
    from bigdata_retailrocket_recsys_spark.operators.sequences import (
        association_rules,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("item"),
    )
    return association_rules(
        ev, group_col="user_id", item_col="item", min_pair_count=40
    )


@query(
    "q_key_skew_profile",
    oracle="""
    WITH pk AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ), tot AS (
        SELECT COUNT(*) AS n_total FROM events
    )
    SELECT n // 10 * 10 AS magnitude,
           COUNT(*) AS n_keys,
           MIN(n) AS min_rows_per_key,
           MAX(n) AS max_rows_per_key,
           CAST(SUM(n) AS BIGINT) AS rows_total,
           CAST(SUM(n) AS DOUBLE) / CAST(n_total AS DOUBLE) AS row_share
    FROM pk, tot
    GROUP BY magnitude, n_total
    """,
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-frequency skew histogram over events.user_id (width-10 count
    bins): the pre-join diagnostic that tells a 100 TB planner whether a
    shuffle key needs salting / AQE skew handling BEFORE executing the
    join (SURVEY §7.3 — the covis self-join blowup is visible here
    without running it). One agg shuffle + one tiny re-agg; buckets are
    integer DIV (no libm)."""
    from bigdata_retailrocket_recsys_spark.operators.sequences import (
        key_skew_profile,
    )

    return key_skew_profile(
        _t(spark, sf_dir, "events"), "user_id", bucket_width=10
    )


@query(
    "q_join_full_outer",
    oracle="""
    SELECT p.user_id AS u_purchase, v.user_id AS u_view,
           p.n_purchases, v.n_views
    FROM (SELECT user_id, COUNT(*) AS n_purchases FROM events
          WHERE event_type = 'purchase' AND user_id < 30
          GROUP BY user_id) p
    FULL OUTER JOIN
         (SELECT user_id, COUNT(*) AS n_views FROM events
          WHERE event_type = 'view' AND user_id >= 20 AND user_id < 50
          GROUP BY user_id) v
      ON p.user_id = v.user_id
    """,
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (completes the join-type surface beyond the
    reference's inner/left/cross — SURVEY §2.3): unmatched rows from BOTH
    sides survive with NULLs; the overlapping-and-disjoint user ranges
    exercise left-only, right-only, and matched rows."""
    ev = _t(spark, sf_dir, "events")
    p = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") < 30))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .select(F.col("user_id").alias("u_purchase"), "n_purchases")
    )
    v = (
        ev.filter(
            (F.col("event_type") == "view")
            & (F.col("user_id") >= 20)
            & (F.col("user_id") < 50)
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_views"))
        .select(F.col("user_id").alias("u_view"), "n_views")
    )
    return p.join(v, p.u_purchase == v.u_view, "full_outer")


@query(
    "q_agg_mode",
    oracle="""
    SELECT user_id, event_type AS mode_event, n FROM (
        SELECT user_id, event_type, COUNT(*) AS n,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY COUNT(*) DESC NULLS LAST, event_type ASC NULLS FIRST) AS rn
        FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent value, deterministic tiebreak on the
    value itself): count-then-rank — the two-shuffle shape that scales,
    vs a collect+sort UDAF that doesn't. WindowGroupLimit prunes the
    rank."""
    from bigdata_retailrocket_recsys_spark.operators.windows import (
        topk_per_group,
    )

    counts = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return topk_per_group(
        counts,
        group_cols=["user_id"],
        order_by=[F.col("n").desc(), F.col("event_type").asc()],
        k=1,
    ).select("user_id", F.col("event_type").alias("mode_event"), "n")


@query(
    "q_window_distribution",
    oracle="""
    SELECT event_id,
           PERCENT_RANK() OVER w AS pr,
           CUME_DIST() OVER w AS cd
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value NULLS FIRST, event_id NULLS FIRST)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (percent_rank, cume_dist) — the
    normalized-rank completeness pass over q_window_analytics. Both are
    single IEEE divisions of exact ranks/counts → bit-identical
    cross-engine; one window shuffle, total order via the event_id
    tiebreak."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@query(
    "q_dedup_within_window",
    oracle="""
    SELECT event_id FROM (
        SELECT event_id,
               epoch_us(ts) - epoch_us(LAG(ts) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts NULLS FIRST, event_id NULLS FIRST)) AS gap_us
        FROM events
    ) WHERE gap_us IS NULL OR gap_us > 600000000
    """,
)
def q_dedup_within_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-window event dedup (telemetry/retry collapse): keep an event
    only if the previous event with the same (user, type) is more than
    10 min older — the batch twin of streaming dropDuplicates-with-
    watermark, and the standard repeated-beacon filter in training-data
    ingest. ONE lag window, exact-µs half-open gap (> not >=), no
    self-join."""
    from bigdata_retailrocket_recsys_spark.operators.windows import lag_delta

    return (
        lag_delta(
            _t(spark, sf_dir, "events"),
            partition_by=["user_id", "event_type"],
            ts_col="ts",
            tiebreak_cols=["event_id"],
        )
        .filter(F.col("gap_us").isNull() | (F.col("gap_us") > 600_000_000))
        .select("event_id")
    )


@query(
    "q_text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
    FROM documents
    """,
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (lowercase, strip punctuation,
    collapse whitespace) — the first stage of every dedup/fingerprint
    pipeline, JVM-side regex only (operators/text.normalize_text).
    Java-regex and RE2 agree on these character classes → full oracle."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        normalize_text,
    )

    return _t(spark, sf_dir, "documents").select(
        "doc_id", normalize_text("text").alias("norm")
    )


@query(
    "q_text_ngrams",
    oracle="""
    WITH toks AS (
        SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents
    ), bg AS (
        SELECT t[i] || ' ' || t[i + 1] AS ngram
        FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks)
    )
    SELECT ngram, COUNT(*) AS n
    FROM bg GROUP BY ngram
    ORDER BY n DESC NULLS LAST, ngram ASC NULLS FIRST LIMIT 20
    """,
)
def q_text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus word bigrams: n-grams assembled INSIDE the token
    array (zip_with over shifted slices — no posexplode/lead window, so
    the only shuffle is the count agg; top-k is TakeOrderedAndProject
    with a total-order tiebreak)."""
    from bigdata_retailrocket_recsys_spark.operators.text import ngram_counts

    return ngram_counts(
        _t(spark, sf_dir, "documents"), text_col="text", n=2, top_k=20
    )


@query(
    "q_split_per_group",
    oracle="""
    SELECT user_id, event_id FROM (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY md5(CAST(event_id AS VARCHAR)) ASC NULLS FIRST,
                            event_id ASC NULLS FIRST) AS rn
        FROM events
    ) WHERE rn <= 5
    """,
)
def q_split_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group subsample (5 events per user, ranked by
    content hash): the reproducible 'k random rows per class' for
    balanced training sets — engine-portable membership, WindowGroupLimit
    bounds memory (operators/splits.per_group_hash_sample)."""
    from bigdata_retailrocket_recsys_spark.operators.splits import (
        per_group_hash_sample,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id")
    return per_group_hash_sample(
        ev, group_cols=["user_id"], key_cols=["event_id"], k=5
    )


@query(
    "q_multimodal_chunk",
    oracle="""
    WITH a AS (
        SELECT doc_id AS asset_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents WHERE text IS NOT NULL
    ), s AS (
        SELECT asset_id, hx, n,
               unnest(generate_series(1, GREATEST(n, 1), 224)) AS off
        FROM a
    ), c AS (
        SELECT asset_id,
               CAST((off - 1) // 224 AS INT) AS chunk_idx,
               CAST(off AS INT) AS chunk_off,
               CAST(GREATEST(LEAST(256, n - off + 1), 0) AS INT)
                   AS chunk_len,
               md5(substring(hx, CAST(off AS BIGINT) * 2 - 1, 512))
                   AS chunk_hex_md5
        FROM s
    )
    SELECT asset_id, chunk_idx, chunk_off, chunk_len, chunk_hex_md5
    FROM c WHERE chunk_idx = 0 OR chunk_len > 32
    """,
)
def q_multimodal_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload chunking (256-byte windows, 32-byte overlap) over
    the fake-media assets: sequence+explode starts, binary substring
    slices — all JVM-side, zero shuffles; the Arrow decode hop happens
    per-chunk downstream, not per-asset (operators/multimodal.
    chunk_binary).

    r7 graduation (rows-only → full oracle): the fake payloads are the
    utf-8 bytes of ``text``, so every chunk is a deterministic byte
    slice DuckDB can replay. DuckDB has no BLOB md5/substring, so BOTH
    engines hash the uppercase HEX rendering of the chunk (hex is
    injective — equal hex-md5 ⟺ byte-identical chunks); a byte slice
    ``[off, len]`` is the hex slice ``[2·off−1, 2·len]``. Byte-exact
    reassembly stays unit-tested on the binary itself."""
    from bigdata_retailrocket_recsys_spark.operators.multimodal import (
        attach_fake_media,
        chunk_binary,
    )

    assets = attach_fake_media(
        _t(spark, sf_dir, "documents"), id_col="doc_id", payload_from="text"
    )
    return chunk_binary(assets, chunk_bytes=256, overlap_bytes=32).select(
        "asset_id",
        "chunk_idx",
        "chunk_off",
        "chunk_len",
        F.md5(F.hex(F.col("chunk"))).alias("chunk_hex_md5"),
    )


@query(
    "q_agg_corr_moments",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS sxx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS syy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(FLOOR((n * sxy - sx * sy)
               / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
               * 1e9) AS BIGINT) AS corr_e9
    FROM m
    """,
)
def q_agg_corr_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from exact decimal moments — the deterministic
    distributed-statistics pattern: the five sums are EXACT decimals
    (order-independent, partition-order-proof, mergeable across any
    rollup), and only the final scalar combination drops to IEEE doubles
    with the SAME expression tree on both engines (+-*/ and sqrt are
    correctly rounded → bit-identical). Contrast F.corr/DuckDB corr():
    streaming co-moment updates whose result depends on row order — not
    reproducible across engines OR across two Spark runs with different
    partitioning. One map-side-combinable agg shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    corr = (n * F.col("sxy") - sx * sy) / (
        F.sqrt(n * F.col("sxx") - sx * sx)
        * F.sqrt(n * F.col("syy") - sy * sy)
    )
    # corr_e9, not the raw double: once a decimal moment needs >53 bits
    # (price² sums do), Spark's BigDecimal→double and DuckDB's
    # int128-scaled→double casts can round 1 ulp apart — quantizing the
    # OUTPUT to 1e-9 absorbs it (corr ∈ [-1,1], so ~9 digits is full
    # useful precision anyway)
    return m.select(
        "l_returnflag",
        "n",
        F.floor(corr * 1e9).cast("bigint").alias("corr_e9"),
    )


@query(
    "q_agg_partial_merge",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               COUNT(*) AS n,
               SUM(CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE CAST(value AS DECIMAL(18,2)) END) AS sum_value
        FROM events GROUP BY event_type, d
    )
    SELECT event_type,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(SUM(sum_value) AS DOUBLE) AS sum_value
    FROM daily GROUP BY event_type
    """,
)
def q_agg_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-aggregate merge: daily (event_type, day) partials re-merged
    to per-type totals — the pre-aggregation rollup pattern that lets a
    100 TB warehouse answer any coarser rollup from stored partials
    without rescanning raw events. Works because count and DECIMAL sum
    are associative+exact (the same property the HLL-sketch query proves
    for distinct counts). The merged result is bit-identical to a direct
    aggregation — the oracle computes the same two-level shape, and the
    unit suite's oracle gate compares it against Spark's."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec_value()).alias("sum_value"),
    )
    return daily.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("sum_value").cast("double").alias("sum_value"),
    )


@query(
    "q_recommend_topk",
    oracle="""
    WITH base AS (
        SELECT DISTINCT user_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) % 20 AS cat
        FROM events
    ), pairs AS (
        SELECT a.cat AS cat_a, b.cat AS cat_b, COUNT(*) AS covis
        FROM base a JOIN base b
          ON a.user_id = b.user_id AND a.cat < b.cat
        GROUP BY 1, 2 HAVING COUNT(*) >= 5
    ), sym AS (
        SELECT cat_a, cat_b, covis FROM pairs
        UNION ALL
        SELECT cat_b, cat_a, covis FROM pairs
    ), scored AS (
        SELECT u.user_id, s.cat_b AS rec_category, MAX(s.covis) AS score
        FROM base u JOIN sym s ON u.cat = s.cat_a
        WHERE NOT EXISTS (
            SELECT 1 FROM base seen
            WHERE seen.user_id = u.user_id AND seen.cat = s.cat_b)
        GROUP BY u.user_id, s.cat_b
    )
    SELECT user_id, rec_category, score FROM (
        SELECT user_id, rec_category, score,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY score DESC NULLS LAST, rec_category ASC NULLS FIRST) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
)
def q_recommend_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 category recommendations per user — the serving-side
    composition of the engine's candidate machinery (reference's covis
    strategy py:252-287 turned into a recommendation query): category
    co-visitation scores × the user's own categories, minus already-seen
    categories (left_anti), ranked per user. Covis pairs use the
    2-shuffle array path; the seen-filter is a left_anti join (no
    NOT-IN null traps); WindowGroupLimit bounds the rank."""
    from bigdata_retailrocket_recsys_spark.operators.joins import (
        anti,
        covis_pairs,
    )
    from bigdata_retailrocket_recsys_spark.operators.windows import (
        topk_per_group,
    )

    base = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            (F.get_json_object("props", "$.k").cast("bigint") % 20).alias(
                "cat"
            ),
        )
        .distinct()
    )
    pairs = covis_pairs(
        base, group_col="user_id", item_col="cat", min_count=5,
        pair_strategy="array",
    )
    sym = pairs.select(
        F.col("item_a").alias("cat"),
        F.col("item_b").alias("rec_category"),
        "covis",
    ).union(
        pairs.select(
            F.col("item_b").alias("cat"),
            F.col("item_a").alias("rec_category"),
            "covis",
        )
    )
    scored = (
        base.join(sym, "cat")
        .groupBy("user_id", "rec_category")
        .agg(F.max("covis").alias("score"))
    )
    unseen = anti(
        scored,
        base.select("user_id", F.col("cat").alias("rec_category")),
        on=["user_id", "rec_category"],
    )
    return topk_per_group(
        unseen,
        group_cols=["user_id"],
        order_by=[F.col("score").desc(), F.col("rec_category").asc()],
        k=5,
    ).select("user_id", "rec_category", "score")


@query(
    "q_graph_pagerank",
    oracle=None,
    headline=True,  # r14: the iterative-graph tier's wall is now
    # tracked per round (this round's 0.25 A/B — the edge-pin +
    # flag-fused dangling rewrite — is the kind of drift this catches)
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the symmetric category co-visitation graph (10 power
    iterations, damping 0.85): the graph-importance complement of the
    popularity candidate strategy (py:331-340). One shuffle per
    iteration, localCheckpoint lineage truncation (operators/graph.
    pagerank). Float ranks are reduction-order dependent → rows-only;
    mass conservation + NumPy agreement are property-tested."""
    from bigdata_retailrocket_recsys_spark.operators.graph import pagerank
    from bigdata_retailrocket_recsys_spark.operators.joins import covis_pairs

    base = _t(spark, sf_dir, "events").select(
        "user_id",
        (F.get_json_object("props", "$.k").cast("bigint") % 20).alias("cat"),
    )
    pairs = covis_pairs(
        base, group_col="user_id", item_col="cat", min_count=5,
        pair_strategy="array",
    )
    sym = pairs.select(
        F.col("item_a").alias("src"), F.col("item_b").alias("dst")
    ).union(
        pairs.select(F.col("item_b").alias("src"), F.col("item_a").alias("dst"))
    )
    return pagerank(sym, iters=10)


@query(
    "q_window_gaps_islands",
    oracle="""
    WITH tagged AS (
        SELECT user_id, event_type, ts, event_id,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
             - ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
                   AS grp
        FROM events
    )
    SELECT user_id, event_type,
           COUNT(*) AS run_len,
           MIN(epoch_us(ts)) AS run_start_us,
           MAX(epoch_us(ts)) AS run_end_us
    FROM tagged
    GROUP BY user_id, event_type, grp
    """,
)
def q_window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive same-type events per
    user via the classic row_number-difference trick — the value-change
    complement of time-gap sessionization (py:96-131 splits on TIME gaps;
    this splits on VALUE changes). Both row_numbers share the user_id
    hash partitioning → one shuffle + one sort feed both windows, then
    one agg."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    return (
        ev.withColumn(
            "grp", F.row_number().over(w_all) - F.row_number().over(w_typ)
        )
        .groupBy("user_id", "event_type", "grp")
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.min(F.unix_micros("ts")).alias("run_start_us"),
            F.max(F.unix_micros("ts")).alias("run_end_us"),
        )
        .drop("grp")
    )


@query(
    "q_agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS wavg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price — exact decimal numerator and
    denominator (order-independent), ONE final IEEE division. The
    mergeable form of weighted mean: partials (Σwx, Σw) re-merge at any
    rollup level, unlike a stored avg."""
    li = _t(spark, sf_dir, "lineitem")
    w = F.col("l_quantity").cast("decimal(18,2)")
    x = F.col("l_extendedprice").cast("decimal(18,2)")
    return li.groupBy("l_returnflag").agg(
        (
            F.sum(x * w).cast("double") / F.sum(w).cast("double")
        ).alias("wavg_price")
    )


@query(
    "q_scd2_intervals",
    oracle="""
    SELECT user_id, event_type AS state,
           epoch_us(ts) AS valid_from_us,
           epoch_us(LEAD(ts) OVER (
               PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)) AS valid_to_us
    FROM events
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 validity intervals from a change log: each user state
    change is valid [its ts, next change's ts) — NULL valid_to marks the
    current row. One lead window; the half-open interval convention
    matches the engine's point-in-time joins, so an as-of lookup against
    these intervals is `valid_from <= t AND (valid_to IS NULL OR
    t < valid_to)`."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("state"),
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(F.lead("ts").over(w)).alias("valid_to_us"),
    )


@query(
    "q_union_by_name",
    oracle="""
    SELECT event_id, user_id, value FROM (
        SELECT event_id, user_id, value
        FROM events WHERE event_type = 'purchase'
        UNION ALL BY NAME
        SELECT user_id, event_id, NULL AS value
        FROM events WHERE event_type = 'signup'
    )
    """,
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: unionByName(allowMissingColumns=True)
    aligns by column NAME, not position, and null-fills columns one side
    lacks — how a 100 TB ingest concatenates drifting schema versions
    without positional corruption (plain UNION would silently zip
    event_id against user_id here)."""
    ev = _t(spark, sf_dir, "events")
    new_schema = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value"
    )
    old_schema = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "event_id"
    )
    return new_schema.unionByName(
        old_schema, allowMissingColumns=True
    ).select("event_id", "user_id", "value")


@query(
    "q_agg_argmax",
    oracle="""
    WITH r AS (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY value DESC NULLS LAST, event_id DESC) AS rmax,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY value ASC NULLS FIRST, event_id ASC) AS rmin
        FROM events
    )
    SELECT user_id,
           MAX(CASE WHEN rmax = 1 THEN event_id END) AS top_event,
           MAX(CASE WHEN rmin = 1 THEN event_id END) AS bottom_event,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM r GROUP BY user_id
    """,
)
def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin (max_by/min_by): fetch the row-identifying column AT
    the group's extreme in one aggregate pass — no self-join back, no
    window. Ties on value are broken by the (value, event_id) struct
    comparison so both engines pick the same row (bare max_by tie-breaks
    arbitrarily — SURVEY §4.4 discipline)."""
    ev = _t(spark, sf_dir, "events")
    key = F.struct(F.col("value"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        F.max_by("event_id", key).alias("top_event"),
        F.min_by("event_id", key).alias("bottom_event"),
        F.max("value").cast("double").alias("max_value"),
    )


@query(
    "q_sql_cte_window_join",
    oracle="""
    WITH spend AS (
        SELECT o_custkey, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_spend
        FROM orders GROUP BY o_custkey
    )
    SELECT c.c_mktsegment, c.c_name, s.n_orders, s.total_spend FROM (
        SELECT c_custkey, c_name, c_mktsegment,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_custkey NULLS FIRST) AS rn
        FROM customer
    ) c JOIN spend s ON c.c_custkey = s.o_custkey
    WHERE c.rn <= 10
    """,
)
def q_sql_cte_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front door, grammar breadth: CTE + window + join + rank filter
    in ONE spark.sql string (complements q_sql_tpch_q6's scan-agg shape)
    — the parser/analyzer path produces the same Catalyst plan the
    DataFrame API would (WindowGroupLimit fires on the rn filter)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("bdrr_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("bdrr_orders")
    return spark.sql(
        """
        WITH spend AS (
            SELECT o_custkey, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS total_spend
            FROM bdrr_orders GROUP BY o_custkey
        )
        SELECT c.c_mktsegment, c.c_name, s.n_orders, s.total_spend FROM (
            SELECT c_custkey, c_name, c_mktsegment,
                   ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_custkey NULLS FIRST) AS rn
            FROM bdrr_customer
        ) c JOIN spend s ON c.c_custkey = s.o_custkey
        WHERE c.rn <= 10
        """
    )


@query(
    "q_agg_salted_twophase",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def q_agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation: groupBy(key, salt) spreads a hot
    key's rows over 16 reducers, then a second (cheap, 5-row) groupBy
    merges the partials — the manual skew-agg pattern for when one key
    owns most of the table (map-side partial aggregation usually hides
    this; the salt guards the pathological all-rows-distinct-payload
    case, e.g. countDistinct-heavy aggs). Value-identical to the direct
    aggregate because count/decimal-sum partials are associative. Salt is
    deterministic (xxhash64 of the row id % 16), not rand() — replayable
    and engine-independent."""
    ev = _t(spark, sf_dir, "events")
    salted = ev.withColumn(
        "__salt", F.pmod(F.xxhash64("event_id"), F.lit(16))
    )
    partial = salted.groupBy("event_type", "__salt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec_value()).alias("s"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("n").alias("n"),
        F.sum("s").cast("double").alias("sum_value"),
    )


@query(
    "q_agg_distinct_twophase",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def q_agg_distinct_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact countDistinct as two phases: dedup on (key, value) first —
    a shuffle where every reducer holds only its hash slice, no
    per-group set in memory — then count per key. What Spark's planner
    does internally for one COUNT(DISTINCT) (Expand-based rewrite), made
    explicit as the scalable building block for multi-distinct skew
    (pair it with q_agg_salted_twophase's salt on a hot key). Identical
    result to the direct aggregate."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("user_id").alias("n_users"))  # count(col) skips the NULL-user row
    )


@query(
    "q_join_interval_overlap",
    oracle="""
    WITH iv AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               MIN(epoch_us(ts)) AS start_us,
               MAX(epoch_us(ts)) + 1 AS end_us
        FROM events
        WHERE event_type = 'purchase' AND user_id < 40
        GROUP BY user_id, day
    )
    SELECT a.user_id AS a_user_id, b.user_id AS b_user_id,
           epoch_us(a.day) AS day_us,
           a.start_us AS a_start_us, b.start_us AS b_start_us
    FROM iv a JOIN iv b
      ON a.day = b.day AND a.user_id < b.user_id
     AND a.start_us < b.end_us AND b.start_us < a.end_us
    """,
)
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join (concurrent-activity detection): per-user
    daily purchase-activity intervals, pairs of users active at
    overlapping times. Grid-bucketed into 1-hour cells → plain equi join
    on (day, cell); each pair emitted exactly once via the
    first-shared-cell rule — NO BroadcastNestedLoopJoin, no post-join
    distinct (operators/joins.interval_overlap_join; the oracle is the
    naive theta form)."""
    from bigdata_retailrocket_recsys_spark.operators.joins import (
        interval_overlap_join,
    )

    iv = (
        _t(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & (F.col("user_id") < 40))
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.min(F.unix_micros("ts")).alias("start_us"),
            (F.max(F.unix_micros("ts")) + 1).alias("end_us"),
        )
    )
    out = interval_overlap_join(
        iv,
        iv,
        start_col="start_us",
        end_col="end_us",
        cell=3_600_000_000,  # 1-hour cells ≈ typical interval length
        key_cols=["day"],
        extra_cond=F.col("a_user_id") < F.col("b_user_id"),
    )
    return out.select(
        "a_user_id",
        "b_user_id",
        F.unix_micros("a_day").alias("day_us"),
        "a_start_us",
        "b_start_us",
    )


@query(
    "q_sink_upsert",
    oracle="""
    WITH target AS (
        SELECT event_id, user_id, value FROM events WHERE user_id < 50
    ), updates AS (
        SELECT event_id, user_id, value * 2.0 AS value
        FROM events WHERE user_id >= 25 AND user_id < 75
    )
    SELECT event_id, user_id, value FROM updates
    UNION ALL
    SELECT t.event_id, t.user_id, t.value FROM target t
    WHERE NOT EXISTS (
        SELECT 1 FROM updates u WHERE u.event_id = t.event_id)
    """,
)
def q_sink_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE over plain parquet: updates replace matching
    keys, new keys append, survivors carry over — written as a NEW
    snapshot directory and re-read (sources/writers.upsert_parquet; the
    Delta/Iceberg MERGE primitive, pruned-partition-rewrite at scale).
    left_anti + unionByName, no full-outer fan-out."""
    from bigdata_retailrocket_recsys_spark.sources.writers import (
        upsert_parquet,
    )

    ev = _t(spark, sf_dir, "events")
    base_dir = session_scratch(spark, "upsert")
    target_path = os.path.join(base_dir, "v1")
    out_path = os.path.join(base_dir, "v2")
    ev.filter(F.col("user_id") < 50).select(
        "event_id", "user_id", "value"
    ).write.mode("overwrite").parquet(target_path)
    updates = ev.filter(
        (F.col("user_id") >= 25) & (F.col("user_id") < 75)
    ).select(
        "event_id", "user_id", (F.col("value") * F.lit(2.0)).alias("value")
    )
    return upsert_parquet(
        spark, target_path, updates, key_cols=["event_id"], out_path=out_path
    )


@query(
    "q_window_trailing_range",
    oracle="""
    SELECT event_id,
           COUNT(*) OVER w AS n_7d,
           CAST(SUM(CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE CAST(value AS DECIMAL(18,2)) END) OVER w AS DOUBLE)
               AS sum_7d
    FROM events
    WINDOW w AS (
        PARTITION BY user_id ORDER BY epoch_us(ts) NULLS FIRST
        RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
    """,
)
def q_window_trailing_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing bounded RANGE frame: per event, count/sum of the SAME
    user's events in the strictly-prior 7 days — the rolling-feature
    window (bounded twin of the W5 unbounded prefix counts; the window
    form of q_features_multi_horizon's 7d theta join, computed for EVERY
    event in one shuffle instead of per anchor). Value-based frame over
    exact epoch-µs ⇒ deterministic at same-timestamp ties; 1-PRECEDING
    upper bound keeps the half-open strictly-before rule."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-604_800_000_000, -1)
    )
    return ev.select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_7d"),
        F.sum(_dec_value())
        .over(w)
        .cast("double")
        .alias("sum_7d"),
    )


@query(
    "q_json_typed",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 20 AS cat
    FROM events WHERE json_valid(props)
    """,
)
def q_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing: from_json with an explicit schema → struct
    field access (the schema-enforced complement of q_json_extract's
    per-path get_json_object — ONE parse per row regardless of how many
    fields are consumed, and corrupt documents become NULL structs
    instead of silent per-path misses)."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType())])
    ev = _t(spark, sf_dir, "events").withColumn(
        "p", F.from_json("props", schema)
    )
    return ev.filter(F.col("p").isNotNull()).select(
        "event_id",
        F.col("p.k").alias("k"),
        (F.col("p.k") % 20).alias("cat"),
    )


@query(
    "q_profile_columns",
    oracle="""
    SELECT 'event_id' AS col, COUNT(*) AS n,
           COUNT(*) - COUNT(event_id) AS n_null,
           COUNT(DISTINCT event_id) AS n_distinct,
           CAST(MIN(event_id) AS DOUBLE) AS min_d,
           CAST(MAX(event_id) AS DOUBLE) AS max_d
    FROM events
    UNION ALL
    SELECT 'user_id', COUNT(*), COUNT(*) - COUNT(user_id),
           COUNT(DISTINCT user_id),
           CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE)
    FROM events
    UNION ALL
    SELECT 'value', COUNT(*), COUNT(*) - COUNT(value),
           COUNT(DISTINCT value),
           CAST(MIN(value) AS DOUBLE), CAST(MAX(value) AS DOUBLE)
    FROM events
    """,
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile (count / nulls / exact distinct / min / max) for
    three numeric columns in ONE aggregation job — the data-quality
    sweep every ingest runs. All 15 aggregates ride a single pass
    (Spark rewrites the multi-distinct with one Expand), then unpivot to
    long form via a struct array explode — vs the oracle's 3-scan UNION
    ALL shape. At 100 TB swap countDistinct for approx_count_distinct
    (q_agg_approx_distinct) and the same plan becomes Expand-free."""
    ev = _t(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "value"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__n_null"),
            F.countDistinct(c).alias(f"{c}__n_distinct"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    wide = ev.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col(f"{c}__n").alias("n"),
                F.col(f"{c}__n_null").alias("n_null"),
                F.col(f"{c}__n_distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_d"),
                F.col(f"{c}__max").alias("max_d"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select("r.*")


@query(
    "q_stream_late_drop",
    # window-start bucketing must FLOOR (Spark window() floors)
    oracle=f"""
    WITH hourly AS (
        SELECT {_floormul_sql("epoch_us(ts)", 3600000000)} AS window_start_us,
               COUNT(*) AS n
        FROM events WHERE ts IS NOT NULL AND epoch_us(ts) >= 0 GROUP BY 1
    ), wm AS (
        SELECT MAX(epoch_us(ts)) - 1800000000 AS final_wm FROM events
        WHERE ts IS NOT NULL AND epoch_us(ts) >= 0
    )
    SELECT window_start_us,
           window_start_us + 3600000000 AS window_end_us,
           n
    FROM hourly, wm
    WHERE window_start_us + 3600000000 <= final_wm
    """,
)
def q_stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data drop, made deterministic: three staged
    micro-batches; the last replays day-one events as late data — by
    then the watermark has evicted their windows, so every replay is
    dropped and the streamed hourly counts equal the ORIGINAL events'
    counts exactly; append mode emits each closed window once (windows
    still open at stream end are cut — the oracle applies the same
    final-watermark rule). The contract a production ingest relies on:
    bounded state + deterministic lateness policy
    (streaming/sessionize_stream.run_streaming_late_drop, which also
    documents the still-in-state late-merge subtlety)."""
    from bigdata_retailrocket_recsys_spark.streaming.sessionize_stream import (
        run_streaming_late_drop,
    )

    return run_streaming_late_drop(spark, sf_dir)


@query(
    "q_scan_csv_corrupt",
    oracle="""
    SELECT * FROM (VALUES
        (1, CAST(2 AS BIGINT), CAST(2 AS BIGINT)),
        (0, CAST(3 AS BIGINT), CAST(2 AS BIGINT))
    ) AS t(parsed_ok, n_rows, n_event_id_present)
    """,
)
def q_scan_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record ingestion policy: PERMISSIVE CSV read with an
    explicit schema routes malformed lines into ``_corrupt_record``
    instead of failing the 100 TB job (FAILFAST) or silently dropping
    them (DROPMALFORMED) — the quarantine-and-continue pattern. Output:
    one row per parse outcome with counts.

    r7 graduation (rows-only → full oracle): the staged file is written
    BY the query with fixed contents, so PERMISSIVE semantics have one
    documented outcome — 2 clean rows; 3 quarantined (bad bigint, wrong
    arity, bad double) of which 2 still salvage a parseable event_id.
    The oracle is that literal contract (a regression in Spark's
    PERMISSIVE parsing or in the staging breaks the hash); parsed_ok is
    INT per the cross-engine type rules (NULL-free flag)."""
    import os as _os
    import tempfile as _tmp

    out = session_scratch(spark, "corrupt_csv")
    _os.makedirs(out, exist_ok=True)
    with open(_os.path.join(out, "part-0.csv"), "w") as f:
        f.write("event_id,user_id,value\n")
        f.write("1,10,1.5\n")
        f.write("2,eleven,2.5\n")  # malformed: non-numeric user_id
        f.write("3,12,3.5\n")
        f.write("totally,broken\n")  # malformed: wrong arity + types
        f.write("4,13,not_a_double\n")  # malformed: non-numeric value
    schema = (
        "event_id bigint, user_id bigint, value double, "
        "_corrupt_record string"
    )
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    # cache before splitting on _corrupt_record — Spark requires the
    # raw parse to materialize before the corrupt column is referenced
    df = df.cache()
    return df.groupBy(
        F.col("_corrupt_record").isNull().cast("int").alias("parsed_ok")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("event_id").alias("n_event_id_present"),
    )


@query(
    "q_sink_compaction",
    oracle="""
    SELECT CAST(LEAST(64, COUNT(*)) AS BIGINT) AS files_before,
           CAST(GREATEST(1, (COUNT(*) + 4999) // 5000) AS BIGINT)
               AS files_after,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events
    """,
)
def q_sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (the 100 TB metadata-death fix): a
    deliberately fragmented 64-file write rewrites to ceil(rows/target)
    evenly-sized files via one narrow read + round-robin repartition
    (sources/writers.compact_parquet).

    r7 graduation (rows-only → full oracle): the layout is a pure
    function of the row count — round-robin over 64 partitions leaves
    min(64, n) non-empty files (one file per non-empty partition, no
    maxRecordsPerFile split), and compaction rewrites to
    max(1, ceil(n/5000)) — so DuckDB derives the exact before/after
    counts from the events table. A writer that starts splitting
    partitions or skipping compaction breaks the hash."""
    from bigdata_retailrocket_recsys_spark.sources.writers import (
        compact_parquet,
    )

    base = session_scratch(spark, "compaction")
    frag, out = os.path.join(base, "frag"), os.path.join(base, "out")
    (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id", "value")
        .repartition(64)
        .write.mode("overwrite")
        .parquet(frag)
    )
    return compact_parquet(spark, frag, out, target_rows_per_file=5000)


@query(
    "q_vector_centroids",
    oracle="""
    WITH dims AS (
        SELECT label,
               unnest(range(1, len(embedding) + 1)) AS dim,
               unnest(embedding) AS v
        FROM embeddings
    )
    SELECT label, dim,
           CAST(SUM(CASE WHEN isnan(v) OR isinf(v) THEN NULL
                         ELSE CAST(FLOOR(CAST(v AS DOUBLE) * 1e9) AS BIGINT)
                    END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) / 1e9 AS centroid_v
    FROM dims GROUP BY label, dim
    """,
)
def q_vector_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids (the mean vector each few-shot /
    nearest-centroid classifier and every clustering QA step needs):
    posexplode dims → exact integer sums of floor(v·1e9) per
    (label, dim) → ONE IEEE division chain (the catalog's floor rule —
    float→decimal casts round differently across engines, learned the
    hard way; floor of an exact double product does not). One explode +
    one agg shuffle; at 100 TB this is the map-side-combinable way to
    average vectors (vs collecting arrays)."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(
            (
                F.sum(
                    F.when(
                        ~F.isnan("v") & (F.abs("v") != float("inf")),
                        F.floor(F.col("v").cast("double") * F.lit(1e9)).cast(
                            "bigint"
                        ),
                    )
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1e9)
            ).alias("centroid_v")
        )
    )


@query(
    "q_agg_bitops",
    oracle="""
    SELECT user_id,
           bit_and(event_id) AS all_bits,
           bit_or(event_id) AS any_bits,
           bit_xor(event_id) AS parity_bits
    FROM events WHERE user_id < 20 GROUP BY user_id
    """,
)
def q_agg_bitops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates (bit_and/bit_or/bit_xor) — the flag-mask
    rollup primitives (permission masks, feature-presence bitmaps,
    xor-parity checksums). Exact integers, order-independent →
    engine-identical; map-side combinable like any algebraic agg."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    return ev.groupBy("user_id").agg(
        F.bit_and("event_id").alias("all_bits"),
        F.bit_or("event_id").alias("any_bits"),
        F.bit_xor("event_id").alias("parity_bits"),
    )


@query(
    "q_window_zscore",
    oracle="""
    WITH m AS (
        SELECT event_id, value,
               CAST(SUM(CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE CAST(value AS DECIMAL(18,2)) END) OVER w AS DOUBLE) AS s,
               CAST(SUM(CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE CAST(value AS DECIMAL(18,2)) END
                        * CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE CAST(value AS DECIMAL(18,2)) END) OVER w AS DOUBLE)
                   AS ss,
               CAST(COUNT(*) OVER w AS DOUBLE) AS n
        FROM events
        WINDOW w AS (PARTITION BY event_type)
    )
    SELECT event_id,
           (value - s / n) / sqrt((ss - s * s / n) / n) AS z
    FROM m
    """,
)
def q_window_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization (the feature-scaling step every
    numeric model input takes): group mean/stddev from EXACT decimal
    window sums (whole-partition frame — map-side no, but single
    shuffle), then one shared IEEE expression tree → bit-identical
    cross-engine, unlike stddev()'s order-dependent streaming moments.
    Population σ; groups are events.event_type (5 groups, |g| ≫ 1)."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type")
    dec = _dec_value()
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "value",
        F.sum(dec).over(w).cast("double").alias("s"),
        F.sum(dec * dec).over(w).cast("double").alias("ss"),
        F.count(F.lit(1)).over(w).cast("double").alias("n"),
    )
    s, ss, n, v = F.col("s"), F.col("ss"), F.col("n"), F.col("value")
    return ev.select(
        "event_id",
        ((v - s / n) / F.sqrt((ss - s * s / n) / n)).alias("z"),
    )


@query(
    "q_stream_upsert_merge",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN isnan(value) OR isinf(value) THEN NULL ELSE CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_value
    FROM events WHERE ts IS NOT NULL AND epoch_us(ts) >= 0
    GROUP BY event_type
    """,
)
def q_stream_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot maintenance: UPDATE-mode streaming aggregation
    + foreachBatch MERGE (copy-on-write upsert_parquet) across two
    staged micro-batches — each batch folds only its changed keys into a
    new snapshot version; the final snapshot equals the batch aggregate
    over all events (full oracle). The incremental serving-table loop
    for stores without a native streaming sink
    (streaming/stream_join.run_stream_upsert_merge)."""
    from bigdata_retailrocket_recsys_spark.streaming.stream_join import (
        run_stream_upsert_merge,
    )

    return run_stream_upsert_merge(spark, sf_dir)


@query(
    "q_agg_listagg",
    oracle="""
    SELECT user_id,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type NULLS FIRST)
               AS types_csv
    FROM events WHERE user_id < 25 GROUP BY user_id
    """,
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg — the report-
    formatting aggregate): distinct event types per user as a sorted
    CSV. Deterministic because the intra-group order is EXPLICIT
    (WITHIN GROUP ORDER BY) — the same §4.4 discipline as
    q_agg_collect_seq; Spark 4's listagg ≡ DuckDB's ordered
    string_agg."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 25)
    return ev.groupBy("user_id").agg(
        F.expr(
            "listagg(DISTINCT event_type, ',') WITHIN GROUP (ORDER BY event_type NULLS FIRST)"
        ).alias("types_csv")
    )


@query(
    "q_fn_try_arithmetic",
    oracle="""
    SELECT event_id,
           value / NULLIF(CAST(user_id % 7 AS DOUBLE), 0.0) AS safe_div,
           CASE WHEN user_id % 7 = 0 THEN NULL
                ELSE CAST(event_id // (user_id % 7) AS BIGINT) END
               AS safe_intdiv
    FROM events WHERE event_id < 3000
    """,
)
def q_fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic (try_divide): division by zero yields NULL
    instead of ±Inf (doubles) or a runtime error (ANSI integer division)
    — the guard every derived-ratio feature needs at 100 TB where SOME
    row always has a zero denominator (≡ the reference's greatest()
    divide guard, py:567-568, as a function instead of a clamp).
    Oracle: the NULLIF/CASE formulation."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    den = (F.col("user_id") % 7).cast("double")
    return ev.select(
        "event_id",
        F.try_divide(F.col("value"), den).alias("safe_div"),
        F.try_divide(F.col("event_id"), F.col("user_id") % 7)
        .cast("bigint")
        .alias("safe_intdiv"),
    )


@query(
    "q_fn_string_breadth",
    oracle="""
    SELECT doc_id,
           upper(substr(text, 1, 12)) AS head_up,
           lpad(CAST(doc_id AS VARCHAR), 6, '0') AS id_pad,
           replace(substr(text, 1, 20), ' ', '_') AS head_snake,
           CASE WHEN text IS NULL THEN NULL
                ELSE split_part(trim(text), ' ', 1) END AS first_word,
           CASE WHEN text IS NULL THEN NULL
                ELSE reverse(split_part(trim(text), ' ', 1)) END
               AS first_word_rev,
           length(text) AS n_chars,
           CAST(contains(lower(text), 'the') AS INT) AS has_the
    FROM documents WHERE doc_id < 50
    """,
)
def q_fn_string_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function breadth (the ingest-normalization toolkit beyond
    q_fn_string's concat): case mapping, substring, padding, replace,
    token extraction, reverse, length, containment — all JVM built-ins
    with identical semantics in DuckDB."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    first_word = F.split_part(F.trim("text"), F.lit(" "), F.lit(1))
    return d.select(
        "doc_id",
        F.upper(F.substring("text", 1, 12)).alias("head_up"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("id_pad"),
        F.replace(
            F.substring("text", 1, 20), F.lit(" "), F.lit("_")
        ).alias("head_snake"),
        first_word.alias("first_word"),
        F.reverse(first_word).alias("first_word_rev"),
        F.length("text").cast("bigint").alias("n_chars"),
        # int flag, not boolean: a NULL boolean stringifies differently
        # under pandas conversion (DuckDB 'nan' vs Spark 'None') — NULL
        # ints agree ('nan' both). Type rule 6, catalog.py docstring.
        F.contains(F.lower("text"), F.lit("the")).cast("int").alias("has_the"),
    )


@query(
    "q_mixture_sample",
    oracle="""
    WITH n AS (
        -- NULL-domain rows are excluded from counts AND output (operator
        -- policy: they must not deflate real domains' keep rates)
        SELECT lang AS dom, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents WHERE lang IS NOT NULL GROUP BY lang
    ), w AS (
        SELECT dom, n,
               CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1e9) AS BIGINT) AS s
        FROM n
    ), t AS (
        SELECT CAST(SUM(s) AS BIGINT) AS tot FROM w
    ), r AS (
        SELECT dom,
               CAST(FLOOR(LEAST(1.0,
                   CAST(200 AS DOUBLE) * CAST(s AS DOUBLE)
                   / CAST(t.tot AS DOUBLE) / CAST(n AS DOUBLE)
               ) * 65536.0) AS BIGINT) AS thresh
        FROM w CROSS JOIN t
    )
    SELECT d.doc_id, d.lang
    FROM documents d
    JOIN r ON d.lang = r.dom
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
          < r.thresh
    """,
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixture sampling (operators/splits
    .mixture_temperature_sample, alpha=0.5): resample the corpus so each
    language's share follows n^0.5 instead of n — the mBERT/XLM-R
    rare-domain upweighting that sets an LLM training mixture. The
    reference keeps every row (prepare_training_data_pyspark.py:441); at
    corpus scale this op decides what the model sees. Per-domain keep
    rates come from exact floor(sqrt(n)*1e9) BIGINT weights (IEEE sqrt is
    correctly rounded — bit-stable cross-engine, catalog rule set) and
    membership is the md5 16-bit bucket vs a per-domain threshold:
    one tiny count agg, broadcast join back, narrow hash filter — fact
    rows never shuffle."""
    from bigdata_retailrocket_recsys_spark.operators.splits import (
        mixture_temperature_sample,
    )

    return mixture_temperature_sample(
        _t(spark, sf_dir, "documents"),
        key_cols=["doc_id"],
        domain_col="lang",
        budget=200,
        alpha=0.5,
    ).select("doc_id", "lang")


@query(
    "q_dedup_clusters_bigstar",
    oracle="""
    WITH RECURSIVE tok AS (
        SELECT DISTINCT doc_id AS doc, lang, source,
               unnest(string_split_regex(trim(text), '\\s+')) AS shingle
        FROM documents
    ), sizes AS (
        SELECT doc, COUNT(*) AS n_sh FROM tok GROUP BY doc
    ), common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b
          ON a.shingle = b.shingle AND a.doc < b.doc
         AND a.lang = b.lang AND a.source = b.source
        GROUP BY a.doc, b.doc
    ), pairs AS (
        SELECT doc_a, doc_b FROM common
        JOIN sizes sa ON sa.doc = doc_a
        JOIN sizes sb ON sb.doc = doc_b
        WHERE CAST(n_common AS DOUBLE)
                  / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
    ), edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ), reach(s, d) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    )
    SELECT s AS doc_id, MIN(d) AS cluster_id FROM reach GROUP BY s
    """,
)
def q_dedup_clusters_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering, scale tier: alternating large-star/small-star
    connected components (operators/dedup.connected_components_bigstar,
    Kiveris et al. SoCC'14) over the same Jaccard>=0.5 near-dup edge set as
    q_dedup_clusters. O(log^2 n) rounds independent of graph diameter —
    the variant that survives chain-shaped crawl-mirror corpora where
    min-label propagation is O(diameter). Oracle: identical recursive-CTE
    transitive closure; output must bit-match q_dedup_clusters."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        connected_components_bigstar,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(
        docs,
        id_col="doc_id",
        text_col="text",
        block_cols=["lang", "source"],
        shingle_n=1,
        min_jaccard=0.5,
    ).select("doc_a", "doc_b")
    return connected_components_bigstar(
        docs, edges, node_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )


@query(
    "q_join_dim_prefiltered",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
           o.o_orderpriority, o.o_totalprice
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 200000
    """,
)
def q_join_dim_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual runtime-filter join (operators/joins.dim_prefiltered_join):
    the selective dim side's distinct keys broadcast as a left-semi prune
    of the fact BEFORE the wide join — unmatched fact rows die map-side
    at the scan instead of riding the shuffle. The explicit form of
    Spark's InjectRuntimeFilter, usable below its 10 GB application-side
    threshold and exact (no bloom false positives). The main join is
    merge-hinted so the prune is observable at toy SF (at real scale the
    planner picks SMJ on its own). Plan shape asserted in test_plans."""
    from bigdata_retailrocket_recsys_spark.operators.joins import (
        dim_prefiltered_join,
    )

    fact = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    dim = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > 200000)
        )
        .select(
            F.col("o_orderkey").alias("l_orderkey"),
            "o_orderpriority",
            "o_totalprice",
        )
    )
    return dim_prefiltered_join(
        fact, dim.hint("merge"), on=["l_orderkey"]
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "o_orderpriority",
        "o_totalprice",
    )


@query(
    "q_popularity_decay",
    oracle="""
    WITH ev AS (
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
               CAST(ts AS DATE) AS d
        FROM events
        WHERE ts IS NOT NULL
          AND json_extract_string(props, '$.k') IS NOT NULL
    ), ref AS (
        SELECT MAX(d) AS ref_d FROM ev
    )
    SELECT item,
           CAST(SUM(CAST(1 AS BIGINT) << (30 - LEAST(
               CAST(date_diff('day', d, ref_d) AS INT), 30))) AS BIGINT)
               AS decay_score,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM ev CROSS JOIN ref
    GROUP BY item
    """,
)
def q_popularity_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed item popularity with EXACT bigint
    arithmetic (operators/aggregates.time_decay_popularity): weight =
    2^(30 - age_days) per event (floor 1 past 30 days), so scores are
    bit-identical across engines and summation orders — the
    recency-weighted complement of the reference's raw popularity
    candidates (py:195-205). Reference date = max event date, a 1-row
    broadcast agg; one map-side-combinable shuffle of (item, weight)
    partials."""
    from bigdata_retailrocket_recsys_spark.operators.aggregates import (
        time_decay_popularity,
    )

    ev = _t(spark, sf_dir, "events").select(
        "ts", F.get_json_object("props", "$.k").cast("bigint").alias("item")
    )
    return time_decay_popularity(
        ev, item_col="item", ts_col="ts", half_life_days=1, cap_half_lives=30
    )


@query(
    "q_mixture_resample",
    oracle="""
    WITH n AS (
        SELECT lang AS dom, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents WHERE lang IS NOT NULL GROUP BY lang
    ), w AS (
        SELECT dom, n,
               CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1e9) AS BIGINT) AS s
        FROM n
    ), t AS (
        SELECT CAST(SUM(s) AS BIGINT) AS tot FROM w
    ), r AS (
        SELECT dom,
               CAST(FLOOR(rate) AS BIGINT) AS base,
               CAST(FLOOR((rate - FLOOR(rate)) * 65536.0) AS BIGINT)
                   AS fthresh
        FROM (
            SELECT dom,
                   CAST(600 AS DOUBLE) * CAST(s AS DOUBLE)
                   / CAST(t.tot AS DOUBLE) / CAST(n AS DOUBLE) AS rate
            FROM w CROSS JOIN t
        )
    ), c AS (
        SELECT d.doc_id, d.lang,
               r.base + CASE WHEN
                   ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
                       ::BIGINT < r.fthresh
                   THEN 1 ELSE 0 END AS copies
        FROM documents d JOIN r ON d.lang = r.dom
    )
    SELECT doc_id, lang,
           CAST(unnest(generate_series(1, copies)) AS BIGINT) AS rep
    FROM c WHERE copies >= 1
    """,
)
def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture with UPSAMPLING (operators/splits
    .mixture_temperature_resample, alpha=0.5, budget=600): rare languages
    get rate > 1 and their rows are REPEATED floor(rate) times plus a
    hash-thinned fractional copy — the repetition-factor half of the
    mixture spec that q_mixture_sample's capped keep-rate can't express.
    Deterministic (md5 16-bit fractional draw, no RNG); per-row copy
    fan-out bounded by ceil(max rate). Oracle: identical IEEE rate
    arithmetic + generate_series unnest."""
    from bigdata_retailrocket_recsys_spark.operators.splits import (
        mixture_temperature_resample,
    )

    return mixture_temperature_resample(
        _t(spark, sf_dir, "documents"),
        key_cols=["doc_id"],
        domain_col="lang",
        budget=600,
        alpha=0.5,
    ).select("doc_id", "lang", "rep")


@query(
    "q_lm_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents
    ), bg AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)
    ), c12 AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12
        FROM bg GROUP BY w1, w2
    ), c1 AS (
        SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM c12 GROUP BY w1
    ), q AS (
        SELECT w1, w2,
               CAST(FLOOR(ln(CAST(n12 AS DOUBLE) / CAST(n1 AS DOUBLE))
                    * 1e6) AS BIGINT) AS qv
        FROM c12 JOIN c1 USING (w1)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(qv) AS BIGINT) AS lm_logprob_u,
           CAST(CAST(SUM(qv) AS BIGINT) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS lm_score
    FROM bg JOIN q USING (w1, w2)
    GROUP BY doc_id
    """,
)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram-LM quality score (operators/text.lm_bigram_score):
    the CCNet/Gopher LM-perplexity curation filter with the LM trained on
    the corpus itself — mean bigram conditional log-prob per document,
    µ-floored per bigram (float rule 3) then ONE IEEE division. No
    external model artifact; two fact shuffles total (bigram-prob join +
    per-doc rollup), counts map-side combined, left-context totals
    re-aggregated from the count table instead of a second corpus pass."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        lm_bigram_score,
    )

    return lm_bigram_score(
        _t(spark, sf_dir, "documents"), id_col="doc_id", text_col="text"
    )


# ---------------------------------------------------------------------------
# Subquery surface + graph cohesion (round 5)
# ---------------------------------------------------------------------------


@query(
    "q_tpch_q4",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-03-01'
      AND o.o_orderdate <  TIMESTAMP '1996-06-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o.o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: EXISTS correlated subquery → left-semi join.

    Adapted to this schema (no l_commitdate/l_receiptdate): "late" means a
    lineitem shipped >30 days after the order date. Expressed through the
    SQL front door so Catalyst's subquery decorrelation (RewritePredicate
    Subquery → LeftSemi) is exercised, not hand-rewritten: the plan shows
    a semi join with the date residual as its join condition, orders-side
    date filter pushed to the scan. Counts are exact ints."""
    load = _t  # ensure both tables registered through the pinned readers
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        FROM v_orders o
        WHERE o.o_orderdate >= TIMESTAMP'1996-03-01'
          AND o.o_orderdate <  TIMESTAMP'1996-06-01'
          AND EXISTS (SELECT 1 FROM v_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        GROUP BY o.o_orderpriority
        """
    )


@query(
    "q_subquery_correlated",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_nationkey
    FROM customer c
    WHERE CAST(c.c_acctbal AS DECIMAL(18,2))
              * (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c2
                 WHERE c2.c_nationkey = c.c_nationkey)
          < (SELECT SUM(CAST(c3.c_acctbal AS DECIMAL(18,2))) FROM customer c3
             WHERE c3.c_nationkey = c.c_nationkey)
    """,
)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar aggregate subquery: customers with above-nation-
    average balance. Catalyst decorrelates to a per-nation aggregate +
    equi-join (25 nation rows broadcast back onto the fact side) — the
    classic decorrelation rewrite, left to the optimizer rather than
    hand-written. Two scalar subqueries because Spark requires outer
    references to sit in the subquery WHERE, not its select list. Float
    trap avoided by comparing ``n·balᵢ < Σ bal`` in exact DECIMAL
    arithmetic instead of dividing (cross-engine AVG of doubles is
    reduction-order dependent; see plans/catalog.py rules). NULL
    balances drop out identically on both engines (NULL comparison →
    filtered)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, c.c_nationkey
        FROM v_customer c
        WHERE CAST(c.c_acctbal AS DECIMAL(18,2))
                  * (SELECT CAST(COUNT(*) AS BIGINT) FROM v_customer c2
                     WHERE c2.c_nationkey = c.c_nationkey)
              < (SELECT SUM(CAST(c3.c_acctbal AS DECIMAL(18,2)))
                 FROM v_customer c3
                 WHERE c3.c_nationkey = c.c_nationkey)
        """
    )


@query(
    "q_subquery_not_in",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE c.c_custkey NOT IN (SELECT o.o_custkey FROM orders o
                              WHERE o.o_orderpriority = '1-URGENT')
    """,
)
def q_subquery_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with a possibly-NULL subquery column — the null-aware anti
    join. Distinct from `q_join_anti` (NOT EXISTS): if ANY subquery row
    is NULL, three-valued logic makes every NOT IN row UNKNOWN and the
    result is EMPTY — Spark plans a null-aware BroadcastNestedLoopJoin
    rather than a plain anti join to honor that. Both engines implement
    the same SQL-standard trap, so the oracle matches on the clean
    fixture (non-trivial rows) AND the adversarial fixture (NULL
    custkeys legally empty the result)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name
        FROM v_customer c
        WHERE c.c_custkey NOT IN (SELECT o.o_custkey FROM v_orders o
                                  WHERE o.o_orderpriority = '1-URGENT')
        """
    )


@query(
    "q_graph_triangles",
    oracle="""
    WITH e AS (
        SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
               GREATEST(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT vtx, CAST(COUNT(*) AS BIGINT) AS n_tri
    FROM (SELECT a AS vtx FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
    GROUP BY vtx
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts on the co-purchase graph (parts linked
    when they appear in the same order). Spark side enumerates with the
    degree-orientation optimization (operators/graph.triangle_counts —
    wedges only at each triangle's lowest-(deg,id) apex, O(m^1.5) wedge
    bound, hub vertices generate zero wedges); the oracle enumerates
    naively with a<b<c. Orientation changes which join FINDS a triangle,
    never the triangle set, so the counts must agree exactly — that
    equivalence is the correctness check."""
    from bigdata_retailrocket_recsys_spark.operators.graph import (
        triangle_counts,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
    )
    return triangle_counts(edges)


# ---------------------------------------------------------------------------
# Text search at rest + vector quantization + RFM (round 5)
# ---------------------------------------------------------------------------

from bigdata_retailrocket_recsys_spark.operators.text import (  # noqa: E402
    BM25_CONTRIB_SQL,
    bm25_scores,
    inverted_index,
)

_BM25_ORACLE_CONTRIB = BM25_CONTRIB_SQL.format(
    N="n_docs", df="n_df", tf="n_tf", dl="n_dl", totdl="tot_dl",
    k1p1=repr(2.2), k1_1mb=repr(1.2 * 0.25), k1b=repr(1.2 * 0.75),
)


@query(
    "q_text_inverted_index",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        FROM documents
    )
    SELECT term, CAST(COUNT(*) AS BIGINT) AS n_df,
           array_to_string(
               list_slice(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id),
                          1, 20), ',') AS postings
    FROM tok WHERE term <> ''
    GROUP BY term HAVING COUNT(*) >= 2
    """,
)
def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term → posting-list inverted index (operators/text.inverted_index):
    the text-search-at-rest primitive. df counted over ALL docs; the
    materialized list capped at 20 ids (a stopword's full posting list IS
    the corpus — the cap is the skew guard). One data shuffle."""
    return inverted_index(
        _t(spark, sf_dir, "documents"), min_df=2, max_postings=20
    )


@query(
    "q_text_bm25",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        FROM documents
    ), tok2 AS (SELECT * FROM tok WHERE term <> ''),
    dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dl
        FROM tok2 GROUP BY doc_id
    ), st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_dl) AS BIGINT) AS tot_dl FROM dl
    ), tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS n_tf
        FROM tok2 WHERE term IN ('join', 'hash', 'spark')
        GROUP BY doc_id, term
    ), dfq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS n_df FROM tf GROUP BY term
    ), c AS (
        SELECT doc_id, {_BM25_ORACLE_CONTRIB} AS u
        FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
           CAST(SUM(u) AS BIGINT) AS bm25_u
    FROM c GROUP BY doc_id
    ORDER BY bm25_u DESC NULLS LAST, doc_id ASC LIMIT 10
    """,
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 docs for a 3-term query (operators/text.bm25_scores,
    k1=1.2 b=0.75 — the Lucene defaults). Per-(doc,term) contributions
    are µ-floored through ONE expression template shared verbatim with
    the oracle (BM25_CONTRIB_SQL), summed exactly; term filter pushed
    below the tf shuffle; corpus stats broadcast; top-k is
    TakeOrderedAndProject."""
    return bm25_scores(
        _t(spark, sf_dir, "documents"), ["join", "hash", "spark"], top_k=10
    )


@query(
    "q_vector_quantize",
    oracle="""
    WITH el AS (
        SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ), f AS (
        SELECT * FROM el
        WHERE v IS NOT NULL AND NOT isnan(v) AND NOT isinf(v)
    ), st AS (
        SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM f GROUP BY i
    )
    SELECT vec_id, i,
           CAST(CASE WHEN mx > mn
                     THEN FLOOR((v - mn) * CAST(255 AS DOUBLE) / (mx - mn))
                     ELSE 0 END AS INTEGER) AS code
    FROM f JOIN st USING (i)
    """,
)
def q_vector_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 scalar quantization of the embedding corpus —
    the 4× at-rest compression step before ANN indexing (IVF/PQ family).
    Per-dim min/max are EXACT double aggregates (no reduction-order
    dependence), broadcast back (dim-count rows); the code formula is
    one shared IEEE tree so floor() agrees bit-for-bit cross-engine.
    NaN/±inf/NULL elements are excluded from both range and output
    identically on both engines. Facts shuffle once (groupBy dim on a
    64-row key space is the broadcast side, not the fact side)."""
    emb = _t(spark, sf_dir, "embeddings")
    el = emb.select(
        "vec_id", F.posexplode(to_double_array("embedding")).alias("i0", "v")
    )
    v = F.col("v")
    f = el.select(
        "vec_id", (F.col("i0") + 1).cast("bigint").alias("i"), v
    ).filter(v.isNotNull() & ~F.isnan(v) & (F.abs(v) != float("inf")))
    st = f.groupBy("i").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    code = (
        F.when(
            F.col("mx") > F.col("mn"),
            F.floor((v - F.col("mn")) * F.lit(255.0) / (F.col("mx") - F.col("mn"))),
        )
        .otherwise(0)
        .cast("int")
    )
    return f.join(F.broadcast(st), "i").select("vec_id", "i", code.alias("code"))


@query(
    "q_rfm",
    oracle="""
    WITH u AS (
        SELECT user_id,
               MAX(epoch_us(ts)) AS last_us,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               SUM(CASE WHEN isnan(value) OR isinf(value) THEN NULL
                        ELSE CAST(value AS DECIMAL(18,2)) END) AS mon_dec
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), m AS (SELECT MAX(last_us) AS mx FROM u)
    SELECT user_id,
           mx - last_us AS recency_us,
           frequency,
           CAST(mon_dec AS DOUBLE) AS monetary,
           CAST(NTILE(4) OVER (ORDER BY mx - last_us ASC NULLS LAST,
                               user_id ASC) AS INTEGER) AS r_score,
           CAST(NTILE(4) OVER (ORDER BY frequency DESC NULLS LAST,
                               user_id ASC) AS INTEGER) AS f_score,
           CAST(NTILE(4) OVER (ORDER BY mon_dec DESC NULLS LAST,
                               user_id ASC) AS INTEGER) AS m_score
    FROM u CROSS JOIN m
    """,
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency/frequency/monetary quartiles) — the
    classic CRM scoring query. Each NTILE goes through operators/windows.
    global_ntile: range-shard + per-shard row_number + broadcast offset
    table, NO single-reducer global window (the oracle's NTILE is the
    semantic spec, not the plan). Orders are total (user_id tiebreak)
    with explicit NULLS LAST on both engines (Spark's asc default is
    nulls-FIRST — the cross-engine trap). Monetary sums are NaN-guarded
    decimals cast to double only for output."""
    from bigdata_retailrocket_recsys_spark.operators.windows import (
        global_ntile,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    u = ev.groupBy("user_id").agg(
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum(_dec_value("value")).alias("mon_dec"),
    )
    mx = u.agg(F.max("last_us").alias("mx"))
    rfm = u.crossJoin(F.broadcast(mx)).select(
        "user_id",
        (F.col("mx") - F.col("last_us")).alias("recency_us"),
        "frequency",
        "mon_dec",
    )
    rfm = global_ntile(
        rfm,
        [F.col("recency_us").asc_nulls_last(), F.col("user_id").asc()],
        4,
        out_col="r_score",
    )
    rfm = global_ntile(
        rfm,
        [F.col("frequency").desc_nulls_last(), F.col("user_id").asc()],
        4,
        out_col="f_score",
    )
    rfm = global_ntile(
        rfm,
        [F.col("mon_dec").desc_nulls_last(), F.col("user_id").asc()],
        4,
        out_col="m_score",
    )
    return rfm.select(
        "user_id",
        "recency_us",
        "frequency",
        F.col("mon_dec").cast("double").alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
    )


@query(
    "q_token_budget_sample",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source AS domain,
               CAST(len(list_filter(
                   string_split_regex(trim(lower(text)), '\\s+'),
                   t -> t <> '')) AS BIGINT) AS n_tok,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents WHERE doc_id IS NOT NULL
    ), c AS (
        SELECT doc_id, domain, COALESCE(n_tok, 0) AS n_tok,
               CAST(SUM(COALESCE(n_tok, 0)) OVER (
                   PARTITION BY domain ORDER BY h ASC, doc_id ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
        FROM toks
    )
    SELECT doc_id, domain, n_tok, cum_tok FROM c WHERE cum_tok <= 800
    """,
)
def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain token-budget head sample (operators/splits.
    token_budget_sample): docs taken in content-defined md5 order until
    each domain spends its 800-token allowance — the deterministic
    corpus-mixture capping step ("N tokens of web, M of code").
    Partitioned cumulative window (domains are the parallelism unit);
    the budget cut keeps only a prefix, so a hot domain can hash-prefix
    prune before the sort without changing the result."""
    from bigdata_retailrocket_recsys_spark.operators.splits import (
        token_budget_sample,
    )

    return token_budget_sample(_t(spark, sf_dir, "documents"), 800)


@query(
    "q_winsorize",
    oracle="""
    WITH f AS (
        SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL
          AND NOT isnan(CAST(l_extendedprice AS DOUBLE))
          AND NOT isinf(CAST(l_extendedprice AS DOUBLE))
    ), o AS (
        SELECT l_returnflag, v,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY v ASC) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        FROM f
    ), b AS (
        SELECT l_returnflag,
               MIN(CASE WHEN rn = (n * 5 + 99) // 100 THEN v END) AS lo,
               MIN(CASE WHEN rn = (n * 95 + 99) // 100 THEN v END) AS hi
        FROM o GROUP BY l_returnflag
    )
    SELECT f.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CASE WHEN f.v < b.lo THEN b.lo
                              WHEN f.v > b.hi THEN b.hi
                              ELSE f.v END AS DECIMAL(18,2)))
                AS DOUBLE) AS winsorized_sum,
           CAST(SUM(CASE WHEN f.v < b.lo OR f.v > b.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
    FROM f JOIN b USING (l_returnflag)
    GROUP BY f.l_returnflag
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-group sum (outlier clipping at the 5th/95th
    percentile) — the training-data numeric-feature clipping step.
    Thresholds are EXACT order statistics (the ceil(q·n)-th smallest
    VALUE, row_number + rank join), not interpolated percentiles: an
    interpolated threshold is float arithmetic whose 1-ulp cross-engine
    wobble can flip a clamp decision at the boundary, while a data value
    compares exactly. Prices are few-decimal → DECIMAL(18,2) sums are
    exact (float rule 1). NULL/NaN/inf rows excluded identically up
    front (NaN would rank differently nulls-first vs nulls-last).

    Scale shape: only 3 returnflag groups — a plain per-group window
    would funnel a third of the table through ONE reducer each, so
    ranks come from the SHARDED grouped global_rank (range shards
    contiguous within each group + broadcast offsets; the oracle's
    window is the semantic spec, not the plan). Within-group ties get
    partitioner-dependent row numbers, but the k-th VALUE of a sorted
    multiset is order-independent, so lo/hi are still deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    from bigdata_retailrocket_recsys_spark.operators.windows import (
        global_rank,
    )

    v = F.col("l_extendedprice").cast("double")
    f = li.select("l_returnflag", v.alias("v")).filter(
        v.isNotNull() & ~F.isnan(v) & (F.abs(v) != float("inf"))
    )
    totals = f.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    o = global_rank(
        f, [F.col("v").asc()], partition_by=["l_returnflag"], out_col="rn"
    ).join(F.broadcast(totals), "l_returnflag")
    b = o.groupBy("l_returnflag").agg(
        F.min(
            F.when(F.col("rn") == F.expr("(n * 5 + 99) div 100"), F.col("v"))
        ).alias("lo"),
        F.min(
            F.when(F.col("rn") == F.expr("(n * 95 + 99) div 100"), F.col("v"))
        ).alias("hi"),
    )
    clamped = (
        F.when(F.col("v") < F.col("lo"), F.col("lo"))
        .when(F.col("v") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("v"))
    )
    return (
        f.join(F.broadcast(b), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(clamped.cast("decimal(18,2)"))
            .cast("double")
            .alias("winsorized_sum"),
            F.sum(
                F.when(
                    (F.col("v") < F.col("lo")) | (F.col("v") > F.col("hi")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_clamped"),
        )
    )


@query(
    "q_snapshot_diff",
    oracle="""
    WITH a AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt,
               MAX(epoch_us(ts)) AS last_us
        FROM events
        WHERE user_id IS NOT NULL AND ts < TIMESTAMP '2024-01-15'
        GROUP BY user_id
    ), b AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt,
               MAX(epoch_us(ts)) AS last_us
        FROM events
        WHERE user_id IS NOT NULL AND ts < TIMESTAMP '2024-01-25'
        GROUP BY user_id
    )
    SELECT COALESCE(a.user_id, b.user_id) AS user_id,
           a.cnt AS cnt_a, b.cnt AS cnt_b,
           CASE WHEN a.user_id IS NULL THEN 'inserted'
                WHEN b.user_id IS NULL THEN 'deleted'
                WHEN a.cnt = b.cnt AND a.last_us = b.last_us THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: per-user state at two as-of cuts, full
    outer join, row status inserted/deleted/changed/unchanged — the diff
    step of an incremental materialization (what a MERGE source feed
    looks like). Both snapshots derive from ONE events scan (two
    filtered aggregates); the join keys are the aggregate keys, so the
    fact table shuffles twice on user_id and never at event grain.
    'deleted' is structurally impossible with append-only snapshots
    (T1 < T2) — the branch exists for reversed cuts; correctness locked
    by the oracle, not by the fixture's shape."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())

    def snap(cut: str) -> DataFrame:
        return (
            ev.filter(F.col("ts") < F.lit(cut).cast("timestamp"))
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.max(F.unix_micros("ts")).alias("last_us"),
            )
        )

    a = snap("2024-01-15").alias("a")
    b = snap("2024-01-25").alias("b")
    status = (
        F.when(F.col("a.user_id").isNull(), "inserted")
        .when(F.col("b.user_id").isNull(), "deleted")
        .when(
            (F.col("a.cnt") == F.col("b.cnt"))
            & (F.col("a.last_us") == F.col("b.last_us")),
            "unchanged",
        )
        .otherwise("changed")
    )
    return a.join(b, F.col("a.user_id") == F.col("b.user_id"), "full_outer").select(
        F.coalesce(F.col("a.user_id"), F.col("b.user_id")).alias("user_id"),
        F.col("a.cnt").alias("cnt_a"),
        F.col("b.cnt").alias("cnt_b"),
        status.alias("status"),
    )


# ---------------------------------------------------------------------------
# Offline recsys evaluation + corpus drift (round 5)
# ---------------------------------------------------------------------------

from bigdata_retailrocket_recsys_spark.operators.evaluation import (  # noqa: E402
    DCG_GAIN_SQL,
    next_item_eval,
    popularity_topk,
)
from bigdata_retailrocket_recsys_spark.operators.text import (  # noqa: E402
    KL_CONTRIB_SQL,
    domain_divergence,
)

_EVAL_GAIN = DCG_GAIN_SQL.format(rank="rank")
_KL_ORACLE_CONTRIB = KL_CONTRIB_SQL.format(
    cst="c_st", cs="c_s", cc="c_c", cct="c_ct"
)


@query(
    "q_eval_nextitem",
    oracle=f"""
    WITH it AS (
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
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN rank IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN rank IS NOT NULL THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS hitrate_e6,
           CAST(SUM(CASE WHEN rank IS NOT NULL THEN {_EVAL_GAIN}
                         ELSE 0 END) AS BIGINT) AS dcg_u
    FROM test LEFT JOIN topk USING (item)
    GROUP BY event_type
    """,
)
def q_eval_nextitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline next-item evaluation (operators/evaluation): popularity
    top-10 trained on events before the cut, scored by hit-rate@10 and
    DCG@10 on each user's FIRST event after the cut (temporal holdout —
    the reference's train/valid split semantics, py:117-132, with a real
    metric instead of eyeballed counts). The 10-row model broadcasts;
    the only window over facts is the per-user first-test-event
    row_number (one shuffle on user_id); metrics are exact ints / the
    µ-floored DCG gain tree shared with the oracle."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    it = ev.filter(
        F.col("user_id").isNotNull() & k.isNotNull()
    ).select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        (k % 50).alias("item"),
    )
    cut = F.lit("2024-01-25").cast("timestamp")
    topk = popularity_topk(it.filter(F.col("ts") < cut), item_col="item", k=10)
    from pyspark.sql import Window

    test = (
        it.filter(F.col("ts") >= cut)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ts").asc(), F.col("event_id").asc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("event_type", "item")
    )
    return next_item_eval(test, topk, item_col="item", group_col="event_type")


@query(
    "q_domain_kl",
    oracle=f"""
    WITH tok AS (
        SELECT source AS domain,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        FROM documents
    ), cst AS (
        SELECT domain, term, CAST(COUNT(*) AS BIGINT) AS c_st
        FROM tok WHERE term <> '' GROUP BY domain, term
    ), cs AS (
        SELECT domain, CAST(SUM(c_st) AS BIGINT) AS c_s FROM cst GROUP BY domain
    ), cct AS (
        SELECT term, CAST(SUM(c_st) AS BIGINT) AS c_ct FROM cst GROUP BY term
    ), cc AS (SELECT CAST(SUM(c_ct) AS BIGINT) AS c_c FROM cct)
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(c_st) AS BIGINT) AS n_tokens,
           CAST(SUM({_KL_ORACLE_CONTRIB}) AS BIGINT) AS kl_u
    FROM cst JOIN cs USING (domain) JOIN cct USING (term) CROSS JOIN cc
    GROUP BY domain
    """,
)
def q_domain_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain KL divergence vs the pooled corpus unigram distribution
    (operators/text.domain_divergence) — the mixture drift monitor. One
    token-bag scan; totals re-aggregated from the (domain,term) count
    table; corpus total broadcast; per-term µ-floored contributions
    (tree shared with the oracle) summed exactly."""
    return domain_divergence(_t(spark, sf_dir, "documents"))


@query(
    "q_skipgram_pairs",
    oracle="""
    WITH toks AS (
        SELECT ROW_NUMBER() OVER () AS d,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ), pos AS (
        SELECT d, i, t[i] AS term
        FROM (SELECT d, t, unnest(range(1, len(t) + 1)) AS i FROM toks)
    ), fw AS (
        SELECT a.term AS c, b.term AS x
        FROM pos a JOIN pos b
          ON a.d = b.d AND b.i - a.i BETWEEN 1 AND 2
    ), bothdir AS (
        SELECT c, x FROM fw UNION ALL SELECT x AS c, c AS x FROM fw
    )
    SELECT c AS center, x AS context, CAST(COUNT(*) AS BIGINT) AS n
    FROM bothdir GROUP BY c, x HAVING COUNT(*) >= 2
    """,
)
def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) pair counts, window=2 (operators/
    sequences.skipgram_pairs) — the Word2Vec training-pair generation
    the reference hides inside gensim's C loop (py:403-431), as a
    relational plan: in-array nested-transform pair assembly (no
    positional self-join), both-directions struct explode (no second
    scan), ONE map-side-combinable count shuffle. The oracle builds the
    same pairs with a positional self-join — two shapes, one result."""
    from bigdata_retailrocket_recsys_spark.operators.sequences import (
        skipgram_pairs,
    )

    return skipgram_pairs(
        _t(spark, sf_dir, "documents"), window=2, min_count=2
    )


@query(
    "q_eval_auc",
    oracle="""
    WITH s AS (
        SELECT CAST(embedding[1] AS DOUBLE) AS sc,
               CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
        FROM embeddings
        WHERE label IS NOT NULL AND embedding[1] IS NOT NULL
          AND NOT isnan(CAST(embedding[1] AS DOUBLE))
          AND NOT isinf(CAST(embedding[1] AS DOUBLE))
    ), r AS (
        SELECT sc, y, ROW_NUMBER() OVER (ORDER BY sc ASC) AS rn FROM s
    ), g AS (
        SELECT sc, CAST(MIN(rn) + MAX(rn) AS BIGINT) AS r2,
               CAST(SUM(y) AS BIGINT) AS npos_g,
               CAST(COUNT(*) AS BIGINT) AS n_g
        FROM r GROUP BY sc
    ), t AS (
        SELECT CAST(SUM(npos_g) AS BIGINT) AS n_pos,
               CAST(SUM(n_g - npos_g) AS BIGINT) AS n_neg,
               CAST(SUM(npos_g * r2) AS BIGINT) AS s2
        FROM g
    )
    SELECT n_pos, n_neg,
           CAST(s2 - n_pos * (n_pos + 1) AS BIGINT) AS auc_num2,
           CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
               / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
    FROM t
    """,
)
def q_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC-AUC (operators/evaluation.binary_auc) of a
    1-dim embedding 'score' against a binarized label — the Mann-
    Whitney rank identity, all-integer until one final IEEE division.
    Ranks via the sharded global_rank (no single-reducer window); tie
    groups contribute min+max rank, which is partitioner-independent.
    A near-0.5 AUC on synthetic data is expected — the point is the
    exact metric plumbing, not the model."""
    from bigdata_retailrocket_recsys_spark.operators.evaluation import (
        binary_auc,
    )

    emb = _t(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.element_at("embedding", 1).alias("score"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
    ).filter(F.col("label").isNotNull())
    return binary_auc(scored, score_col="score", label_col="y")


@query(
    "q_quality_expectations",
    oracle="""
    WITH w AS (
        SELECT
            CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS v_nn,
            CAST(SUM(CASE WHEN NOT (value >= -1e6 AND value <= 1e6)
                            OR value IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS v_rng,
            CAST(SUM(CASE WHEN value IS NULL OR isnan(value)
                            OR isinf(value) THEN 1 ELSE 0 END)
                 AS BIGINT) AS v_fin,
            CAST(SUM(CASE WHEN event_type IS NULL
                            OR NOT regexp_matches(event_type, '^[a-z_]+$')
                          THEN 1 ELSE 0 END) AS BIGINT) AS v_re,
            CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events
    ), uq AS (
        SELECT CAST(COALESCE(SUM(CASE WHEN k > 1 THEN k END), 0)
                    AS BIGINT) AS v
        FROM (SELECT COUNT(*) AS k FROM events
              WHERE event_id IS NOT NULL GROUP BY event_id)
    ), st AS (
        SELECT 'not_null_user_id' AS rule, v_nn AS n_violations, n_rows
        FROM w
        UNION ALL SELECT 'between_value', v_rng, n_rows FROM w
        UNION ALL SELECT 'finite_value', v_fin, n_rows FROM w
        UNION ALL SELECT 'matches_event_type', v_re, n_rows FROM w
        UNION ALL SELECT 'unique_event_id', uq.v,
                         (SELECT n_rows FROM w) FROM uq
    )
    SELECT rule, n_violations, n_rows,
           CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END
                AS INTEGER) AS passed
    FROM st
    """,
)
def q_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative batch-gate contract over events (operators/quality):
    null-rate, range, finiteness, regex shape, uniqueness — every
    row-level rule a conditional aggregate over ONE scan (map-side
    combined, then stack()-unpivoted); uniqueness is the single extra
    grouped pass. NULL predicate results count as violations on both
    engines (explicit three-valued logic). Exact integers throughout."""
    from bigdata_retailrocket_recsys_spark.operators.quality import (
        check_expectations,
        expect_between,
        expect_finite,
        expect_matches,
        expect_not_null,
    )

    ev = _t(spark, sf_dir, "events")
    rep = check_expectations(
        ev,
        [
            expect_not_null("user_id"),
            expect_between("value", -1e6, 1e6),
            expect_finite("value"),
            expect_matches("event_type", "^[a-z_]+$"),
        ],
        unique_cols=["event_id"],
    )
    return rep.select(
        "rule", "n_violations", "n_rows",
        F.col("passed").cast("int").alias("passed"),
    )


@query(
    "q_except_all",
    oracle="""
    SELECT o_custkey FROM orders
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL (bag difference — each left occurrence
    cancels ONE right occurrence; the DISTINCT variant is `q_except`).
    Compiles to a count-compare aggregation, not a join explosion."""
    o = _t(spark, sf_dir, "orders")
    return o.select("o_custkey").exceptAll(
        o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    )


@query(
    "q_intersect_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_totalprice > 100000
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL (min of per-side multiplicities — SQL bag
    semantics; the DISTINCT variant is `q_intersect`)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_totalprice") > 100000)
        .select("o_custkey")
        .intersectAll(
            o.filter(F.col("o_orderpriority") == "1-URGENT").select(
                "o_custkey"
            )
        )
    )


# ---------------------------------------------------------------------------
# TPC-H breadth #2 + schema evolution (round 5)
# ---------------------------------------------------------------------------


@query(
    "q_tpch_q10",
    oracle="""
    SELECT c.c_custkey, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, n.n_name
    ORDER BY revenue DESC NULLS LAST, c_custkey ASC LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped (returned-item revenue, top 20 customers):
    4-table star — nation broadcasts onto customer, customer broadcasts
    onto the orders⋈lineitem shuffle; decimal-exact revenue; top-20 via
    TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "n_name")
        .agg(
            F.sum(revenue.cast("decimal(18,6)")).cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "q_tpch_q14",
    oracle="""
    SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN CAST(l.l_extendedprice * (1.0 - l.l_discount)
                                   AS DECIMAL(18,6)) END) AS DOUBLE)
               * CAST(100 AS DOUBLE)
               / CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                               AS DECIMAL(18,6))) AS DOUBLE) AS promo_pct,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped (promo revenue share): part dim broadcasts; both
    revenue sums are exact decimals; ONE shared IEEE tree for the final
    percentage (float rule 2)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    p = _t(spark, sf_dir, "part")
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(18,6)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.sum(F.when(F.col("p_type") == "PROMO", rev))
                .cast("double")
                * F.lit(100).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_pct"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


@query(
    "q_tpch_q19",
    oracle="""
    SELECT p.p_brand,
           CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 40)
    GROUP BY p.p_brand
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped (disjunctive multi-attribute predicate): the OR
    of brand/size/quantity conjunctions must still prune — Catalyst
    extracts the common l_quantity bounds and pushes the part-side
    disjunction to the dim scan before the broadcast join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#15")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 40)
    )
    rev = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(18,6)")
    return (
        joined.filter(cond)
        .groupBy("p_brand")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


@query(
    "q_scan_merge_schema",
    oracle="""
    SELECT event_id, value, CAST(NULL AS BIGINT) AS batch_tag
    FROM events WHERE event_id < 1000
    UNION ALL
    SELECT event_id, value, CAST(7 AS BIGINT) AS batch_tag
    FROM events WHERE event_id >= 1000 AND event_id < 2000
    """,
)
def q_scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution: two snapshot generations (the second
    adds a column), read back as ONE table with mergeSchema — the
    add-a-column migration every long-lived dataset hits. Old files
    surface NULL for the new column; no rewrite of historical data.
    At 100 TB this is the only affordable evolution path (footer-merge,
    not data-rewrite); pair with explicit casts to keep types stable."""
    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    base = session_scratch(spark, "merge_schema_snapshot")
    g1 = ev.filter(F.col("event_id") < 1000)
    g2 = ev.filter(
        (F.col("event_id") >= 1000) & (F.col("event_id") < 2000)
    ).withColumn("batch_tag", F.lit(7).cast("bigint"))
    g1.write.mode("overwrite").parquet(base + "/g=1")
    g2.write.mode("overwrite").parquet(base + "/g=2")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(base + "/g=1", base + "/g=2")
        .select("event_id", "value", "batch_tag")
    )


@query(
    "q_layout_advisor",
    oracle="""
    WITH base AS (
        SELECT event_id,
               epoch_us(ts) AS c_ts,
               CAST(user_id AS DOUBLE) AS c_user,
               CASE WHEN isnan(value) OR isinf(value) THEN NULL
                    ELSE value END AS c_value
        FROM events WHERE event_id IS NOT NULL
    ), r AS (
        SELECT *, (ROW_NUMBER() OVER (ORDER BY event_id ASC) - 1) // 1000
                  AS z
        FROM base
    ), st AS (
        SELECT z, col, v FROM (
            SELECT z, 'c_ts' AS col, CAST(c_ts AS DOUBLE) AS v FROM r
            UNION ALL SELECT z, 'c_user', c_user FROM r
            UNION ALL SELECT z, 'c_value', c_value FROM r
        ) WHERE v IS NOT NULL
    ), zs AS (
        SELECT col, z, MIN(v) AS zmin, MAX(v) AS zmax
        FROM st GROUP BY col, z
    ), g AS (
        SELECT col, MIN(v) AS gmin, MAX(v) AS gmax FROM st GROUP BY col
    )
    SELECT col AS "column",
           CAST(COUNT(*) AS BIGINT) AS n_zones,
           CAST(SUM(CASE WHEN gmax > gmin
                    THEN CAST(FLOOR((zmax - zmin) * 1000000.0
                                    / (gmax - gmin)) AS BIGINT)
                    ELSE 0 END) // COUNT(*) AS BIGINT) AS avg_zone_width_e6
    FROM zs JOIN g USING (col)
    GROUP BY col
    """,
)
def q_layout_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map clustering advisor (operators/layout — the SIGMOD'24
    'Automated Clustering Recommendation With Database Zone Maps' idea,
    PAPERS.md): per candidate column, how narrow are per-1000-row zone
    min/max ranges under the current event_id layout? ts is expected
    near 0 width-wise (insertion-ordered), user/value near 10⁶ (random)
    — exactly the signal that says 'zone maps already work for ts; to
    skip on user_id, re-cluster (q_sink_sorted_pruning)'. Zones via
    sharded global_rank; widths µ-floored then integer-averaged."""
    from bigdata_retailrocket_recsys_spark.operators.layout import (
        zone_clustering_profile,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id").isNotNull())
    return zone_clustering_profile(
        ev,
        "event_id",
        {
            "c_ts": F.unix_micros("ts"),
            "c_user": F.col("user_id"),
            "c_value": F.when(
                ~F.isnan("value") & (F.abs("value") != float("inf")),
                F.col("value"),
            ),
        },
        rows_per_zone=1000,
    )


@query(
    "q_fn_hof",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(list_aggregate(list_transform(toks, x -> len(x)), 'sum')
                AS BIGINT) AS total_len,
           CAST(len(list_filter(toks, x -> len(x) > 5)) AS BIGINT)
               AS n_long,
           CAST(CASE WHEN toks IS NULL THEN NULL
                     WHEN len(list_filter(toks, x -> x = '')) = 0
                     THEN 1 ELSE 0 END AS INTEGER) AS all_nonempty
    FROM t
    """,
)
def q_fn_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function breadth (SURVEY §2.8 ext): transform /
    aggregate (fold) / filter / forall — the lambda family that keeps
    per-row array logic JVM-side instead of exploding or dropping to
    Python. NULL text propagates NULL results identically on both
    engines."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    lens = F.transform(toks, lambda x: F.length(x))
    return d.select(
        "doc_id",
        F.aggregate(
            lens, F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("total_len"),
        F.size(F.filter(toks, lambda x: F.length(x) > 5))
        .cast("bigint")
        .alias("n_long"),
        F.forall(toks, lambda x: x != "").cast("int").alias("all_nonempty"),
    )


@query(
    "q_observe_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(user_id) AS BIGINT) AS n_users_nonnull,
           CAST(SUM(CASE WHEN isnan(value) OR isinf(value) THEN NULL
                         ELSE CAST(value AS DECIMAL(18,2)) END)
                AS DOUBLE) AS sum_value
    FROM events
    """,
)
def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via ``DataFrame.observe`` (Spark's named-
    metric hook): the metrics ride the SAME job as the observed action —
    zero extra scan, unlike a separate audit query — and surface to
    QueryExecutionListener / Observation. Here the observed pass is a
    noop-equivalent count and the captured metrics are returned as the
    result row (1-row driver materialization, the documented small-side
    pattern); the oracle recomputes them as a plain aggregate. At
    100 TB this is how batch gates get their counters for free."""
    from pyspark.sql import Observation

    ev = _t(spark, sf_dir, "events")
    obs = Observation("audit")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("user_id").cast("bigint").alias("n_users_nonnull"),
        F.sum(_dec_value("value")).cast("double").alias("sum_value"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_users_nonnull"], m["sum_value"])],
        "n_rows bigint, n_users_nonnull bigint, sum_value double",
    )


@query(
    "q_graph_pagerank_exact",
    oracle="""
    WITH RECURSIVE und AS (
        SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
               GREATEST(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS (
        SELECT u AS s, v AS d FROM und
        UNION ALL SELECT v AS s, u AS d FROM und
    ), od AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS o FROM e GROUP BY s
    ), it(iter, vtx, mass) AS (
        SELECT 0, s, CAST(1000000 AS BIGINT)
        FROM (SELECT DISTINCT s FROM e)
        UNION ALL
        SELECT it.iter + 1, e.d,
               CAST(150000 + (850 * SUM(it.mass // od.o)) // 1000
                    AS BIGINT)
        FROM it JOIN e ON e.s = it.vtx JOIN od ON od.s = it.vtx
        WHERE it.iter < 4
        GROUP BY it.iter, e.d
    )
    SELECT vtx, mass FROM it WHERE iter = 4
    """,
)
def q_graph_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-mass PageRank over the co-purchase graph (operators/
    graph.pagerank_exact, 4 rounds, damping 850/1000, micro-unit mass)
    — the ORACLED iterative graph algorithm: bigint + and div are
    reduction-order safe, so unlike float `q_graph_pagerank` every mass
    matches a DuckDB recursive-CTE replay bit-for-bit. Same importance
    ordering signal (py:331-340 complement), now with a hard
    cross-engine correctness gate on an iterative dataflow."""
    from bigdata_retailrocket_recsys_spark.operators.graph import (
        pagerank_exact,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
    )
    return pagerank_exact(edges, iters=4)


@query(
    "q_score_linear",
    oracle="""
    WITH w AS (
        SELECT i, CAST(FLOOR(sin(CAST(i AS DOUBLE)) * 1000) AS BIGINT)
                  / CAST(1000 AS DOUBLE) AS wt
        FROM (SELECT unnest(range(1, 9)) AS i)
    ), el AS (
        SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, UNNEST(range(1, 9)) AS t(i)
    ), z AS (
        SELECT vec_id,
               CAST(FLOOR(SUM(CAST(FLOOR(v * wt * 1e6) AS BIGINT))
                    / 1e6 * 1e6) AS BIGINT) AS z_u
        FROM el JOIN w USING (i)
        WHERE v IS NOT NULL AND NOT isnan(v) AND NOT isinf(v)
        GROUP BY vec_id
    )
    SELECT vec_id, z_u,
           CAST(FLOOR(CAST(1 AS DOUBLE)
                / (CAST(1 AS DOUBLE)
                   + exp(-(CAST(z_u AS DOUBLE) / 1e6))) * 1e6)
                AS BIGINT) AS sigmoid_u
    FROM z
    """,
)
def q_score_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model inference as a relational plan: logistic scoring of
    the first 8 embedding dims against a deterministic weight vector
    (broadcast 8-row 'model' — the shape of any linear/LR batch scorer).
    Cross-engine exactness: per-term products are µ-floored bigints
    summed exactly; the logit is reconstructed with ONE identical IEEE
    tree and the sigmoid's exp goes through the same µ-floor contract
    as tfidf/bm25 (float rule 3). Facts never shuffle — posexplode +
    broadcast join + per-vector rollup re-using the vec partitioning."""
    emb = _t(spark, sf_dir, "embeddings")
    w = spark.range(1, 9).select(
        F.col("id").alias("i"),
        (F.floor(F.sin(F.col("id").cast("double")) * 1000) / F.lit(1000.0)).alias("wt"),
    )
    # slice BEFORE the explode — 8 rows/vector leave the scan, not 64
    el = emb.select(
        "vec_id",
        F.posexplode(F.slice(to_double_array("embedding"), 1, 8)).alias(
            "i0", "v"
        ),
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "v").filter(
        F.col("v").isNotNull()
        & ~F.isnan("v")
        & (F.abs("v") != float("inf"))
    )
    z = (
        el.join(F.broadcast(w), "i")
        .groupBy("vec_id")
        .agg(
            F.floor(
                F.sum(F.floor(F.col("v") * F.col("wt") * 1e6).cast("bigint"))
                / F.lit(1e6)
                * F.lit(1e6)
            )
            .cast("bigint")
            .alias("z_u")
        )
    )
    sig = F.floor(
        F.lit(1.0)
        / (F.lit(1.0) + F.exp(-(F.col("z_u").cast("double") / F.lit(1e6))))
        * 1e6
    ).cast("bigint")
    return z.select("vec_id", "z_u", sig.alias("sigmoid_u"))


@query(
    "q_eval_calibration",
    oracle="""
    WITH s AS (
        SELECT CAST(embedding[1] AS DOUBLE) AS sc,
               CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
        FROM embeddings
        WHERE label IS NOT NULL AND embedding[1] IS NOT NULL
          AND NOT isnan(CAST(embedding[1] AS DOUBLE))
          AND NOT isinf(CAST(embedding[1] AS DOUBLE))
    ), b AS (
        SELECT CAST(FLOOR((sc + 1.0) * 5.0) AS BIGINT) AS bin, y FROM s
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_e6
    FROM b GROUP BY bin
    """,
)
def q_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability / calibration bins for a score against binary labels
    (the companion readout to `q_eval_auc`): fixed-width score bins
    (floor arithmetic — ONE shared tree, no quantile wobble), per-bin
    positive rate as exact integer parts-per-million. One map-side-
    combinable aggregate; at 100 TB this is a single scan + tiny
    shuffle on ≤ #bins keys."""
    emb = _t(spark, sf_dir, "embeddings")
    sc = F.element_at("embedding", 1).cast("double")
    s = emb.select(
        sc.alias("sc"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
    ).filter(
        F.col("label").isNotNull()
        & sc.isNotNull()
        & ~F.isnan(sc)
        & (F.abs(sc) != float("inf"))
    )
    return (
        s.select(
            F.floor((F.col("sc") + F.lit(1.0)) * F.lit(5.0))
            .cast("bigint")
            .alias("bin"),
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.expr("CAST(sum(y) * 1000000 div count(1) AS BIGINT)").alias(
                "pos_rate_e6"
            ),
        )
    )


@query("q_multimodal_resize", oracle=None)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize stage over mapInPandas (operators/multimodal.
    resize_images, decode tier 'auto': real PIL decode+re-encode when
    Pillow is on the image, deterministic pass-through fake here — same
    code self-upgrades on a codec-equipped cluster). Arrow-batched
    binary in/out; rows-only (payload bytes are not SQL-expressible);
    dims/nullability invariants unit-tested."""
    from bigdata_retailrocket_recsys_spark.operators.multimodal import (
        attach_fake_media,
        resize_images,
    )

    docs = _t(spark, sf_dir, "documents")
    assets = attach_fake_media(docs, id_col="doc_id", payload_from="text")
    out = resize_images(assets, width=64, height=64)
    return out.select(
        "asset_id", "width", "height", F.length("payload").alias("n_bytes")
    )


@query(
    "q_stream_observe",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN isnan(value) OR isinf(value) THEN NULL
                         ELSE CAST(value AS DECIMAL(18,2)) END)
                AS DOUBLE) AS sum_value
    FROM events
    WHERE ts IS NOT NULL AND epoch_us(ts) >= 0
    """,
)
def q_stream_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch audit metrics via streaming ``observe()``
    (streaming/sessionize_stream.run_streaming_observe), totalled
    across batches. Counts and decimal sums are associative, so the
    totals equal the whole-table aggregate EXACTLY for any batch split
    — a streaming query with a full DuckDB oracle, and the production
    pattern for free per-batch counters."""
    from bigdata_retailrocket_recsys_spark.streaming.sessionize_stream import (
        run_streaming_observe,
    )

    return run_streaming_observe(spark, sf_dir)


@query(
    "q_stream_scd2_enrich",
    oracle="""
    WITH dim AS (
        SELECT user_id AS d_user, event_type AS state,
               epoch_us(ts) AS valid_from_us,
               epoch_us(LEAD(ts) OVER (
                   PARTITION BY user_id
                   ORDER BY ts NULLS FIRST, event_id NULLS FIRST))
                   AS valid_to_us
        FROM events WHERE ts IS NOT NULL
    ), s AS (
        SELECT user_id, epoch_us(ts) AS ts_us FROM events
        WHERE ts IS NOT NULL AND epoch_us(ts) >= 0
    )
    SELECT state, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s JOIN dim
      ON s.user_id = dim.d_user
     AND s.ts_us >= dim.valid_from_us
     AND (dim.valid_to_us IS NULL OR s.ts_us < dim.valid_to_us)
    GROUP BY state
    """,
)
def q_stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time enrichment against SCD2 intervals
    (streaming/stream_join.run_streaming_scd2_enrich): stream-static
    interval join, stateless (no watermark/state store), append-exact;
    counts per enriched state carry a full DuckDB oracle. The streaming
    twin of `q_join_pit_user` + `q_scd2_intervals`."""
    from bigdata_retailrocket_recsys_spark.streaming.stream_join import (
        run_streaming_scd2_enrich,
    )

    return run_streaming_scd2_enrich(spark, sf_dir)


# ---------------------------------------------------------------------------
# TPC-H breadth wave (round 6) — the remaining classic shapes, adapted to
# this star schema (no partsupp / l_commitdate / c_phone in the driver
# testdata). Each exercises a DISTINCT Catalyst rewrite: correlated-MIN
# decorrelation (Q2), multi-dim broadcast star (Q7/Q8/Q9), CASE-pivot agg
# (Q12), outer-join distribution (Q13), scalar-MAX subquery (Q15),
# NOT-EXISTS anti under count-distinct (Q16), doubly-correlated scalar
# compare (Q17), semi-join chain with HAVING (Q20), EXISTS+NOT-EXISTS
# self-joins (Q21), uncorrelated-scalar + anti (Q22). Cross-engine float
# rules per plans/catalog.py: exact DECIMAL sums, integer-unit casts before
# any double division. Reference parity: the reference's single pipeline
# (prepare_training_data_pyspark.py:214-327) has only groupBy/join shapes;
# these extend the engine's relational surface the way SURVEY §2.12 declares.
# ---------------------------------------------------------------------------


@query(
    "q_tpch_q2",
    oracle="""
    SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
           l.l_extendedprice AS min_price
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE p.p_size = 15
      AND CAST(l.l_extendedprice AS DECIMAL(18,2)) =
          (SELECT MIN(CAST(l2.l_extendedprice AS DECIMAL(18,2)))
           FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    """,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped (min-cost supplier): correlated MIN subquery over
    the fact, adapted to this schema (no partsupp → cheapest lineitem
    price per part stands in for min supplycost). Through the SQL front
    door so Catalyst's scalar-subquery decorrelation does the rewrite
    (per-part MIN aggregate joined back, not hand-written). Equality is
    tested in exact DECIMAL so both engines keep the same ties; NULL
    prices compare UNKNOWN and drop identically."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("v_part")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("v_supplier")
    return spark.sql(
        """
        SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
               l.l_extendedprice AS min_price
        FROM v_part p
        JOIN v_lineitem l ON l.l_partkey = p.p_partkey
        JOIN v_supplier s ON s.s_suppkey = l.l_suppkey
        WHERE p.p_size = 15
          AND CAST(l.l_extendedprice AS DECIMAL(18,2)) =
              (SELECT MIN(CAST(l2.l_extendedprice AS DECIMAL(18,2)))
               FROM v_lineitem l2 WHERE l2.l_partkey = p.p_partkey)
        """
    )


@query(
    "q_tpch_q7",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped (volume shipping between two nations): the
    5-dimension star where BOTH nation roles come from the same dim read
    twice under different aliases. All dims broadcast; the only shuffle
    is lineitem⋈orders plus the tiny final agg. Decimal-exact revenue."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    ).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
             "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = n.select(F.col("n_nationkey").alias("sn_key"),
                  F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"),
                  F.col("n_name").alias("cust_nation"))
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1")
             & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2")
               & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(revenue.cast("decimal(18,6)")).cast("double")
             .alias("revenue"))
    )


@query(
    "q_tpch_q8",
    oracle="""
    WITH vol AS (
        SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
               CAST(l.l_extendedprice * (1.0 - l.l_discount)
                    AS DECIMAL(18,6)) AS v,
               sn.n_name AS supp_nation
        FROM lineitem l
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = cn.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
    )
    SELECT o_year,
           CASE WHEN CAST(SUM(v) * 1000000 AS BIGINT) = 0 THEN NULL
                ELSE CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN v
                                        ELSE CAST(0 AS DECIMAL(18,6)) END)
                               * 1000000 AS BIGINT) AS DOUBLE)
                     / CAST(CAST(SUM(v) * 1000000 AS BIGINT) AS DOUBLE)
           END AS mkt_share
    FROM vol GROUP BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped (national market share): 8-table star, conditional
    share-of-total per year. The float trap is the ratio: both operand
    sums are exact decimals converted to exact BIGINT micro-units, and
    the ONE division runs on identical int64→double inputs — bit-equal
    across engines (decimal→double direct would round differently past
    53 bits; plans/catalog.py CAVEAT 2)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_discount")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    cn = n.select(F.col("n_nationkey").alias("cn_key"),
                  F.col("n_regionkey").alias("cn_region"))
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = n.select(F.col("n_nationkey").alias("sn_key"),
                  F.col("n_name").alias("supp_nation"))
    v = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
         ).cast("decimal(18,6)")
    vol = (
        li.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select(F.year("o_orderdate").cast("int").alias("o_year"),
                v.alias("v"), "supp_nation")
    )
    zero = F.lit(0).cast("decimal(18,6)")
    num_units = (
        F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("v"))
              .otherwise(zero)) * 1000000
    ).cast("bigint").cast("double")
    den_units = (F.sum("v") * 1000000).cast("bigint").cast("double")
    # zero-total year -> NULL on BOTH engines (Spark non-ANSI x/0 is
    # NULL but DuckDB gives IEEE NaN — guard explicitly, the
    # q_feature_robust_scale mad4=0 discipline)
    return vol.groupBy("o_year").agg(
        F.when(den_units == 0, F.lit(None).cast("double"))
        .otherwise(num_units / den_units)
        .alias("mkt_share")
    )


@query(
    "q_tpch_q9",
    oracle="""
    SELECT sn.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY sn.n_name, year(o.o_orderdate)
    """,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped (product-line profit by nation-year): LIKE-filtered
    part dim broadcast into the fact, supplier nation as the rollup axis.
    No partsupp in this schema → profit stands as discounted revenue;
    same join/agg skeleton. Part filter prunes BEFORE the join (predicate
    on the broadcast side), so the fact rows that survive are bounded by
    the filtered dim."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_discount")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%bolt%")).select("p_partkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.sum(revenue.cast("decimal(18,6)")).cast("double")
             .alias("sum_profit"))
    )


@query(
    "q_tpch_q12",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l.l_returnflag
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped (priority split): CASE-pivot counts inside one
    agg pass (no shipmode column → returnflag is the grouping axis,
    orderpriority the pivot). NULL priorities land in the ELSE branch in
    BOTH engines (IN → UNKNOWN → ELSE) — the CASE arms are written as
    exact complements so every joined row counts exactly once."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    ).select("l_orderkey", "l_returnflag")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(
    "q_tpch_q13",
    oracle="""
    WITH c_orders AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped (customer order-count distribution): LEFT outer
    join with the filter INSIDE the join condition (customers with zero
    qualifying orders must survive with count 0 — pushing the predicate
    below the join as a WHERE would wrongly drop them), then a
    distribution-of-counts re-aggregation. COUNT(col) counts non-null
    join matches only, identically in both engines."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "q_tpch_q15",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice * (1.0 - l_discount)
                        AS DECIMAL(18,6))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped (top supplier): aggregate view consumed twice —
    once as the join input, once under a scalar MAX subquery. The
    equality gate runs on exact decimals (ties survive identically);
    only the FINAL projection casts to double. Through the SQL front
    door; the revenue CTE is supplier-grain (tiny), so the double
    evaluation Catalyst plans is bounded by the supplier count, not the
    fact (ReuseExchange doesn't dedupe shared subtrees — CLAUDE.md)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("v_supplier")
    return spark.sql(
        """
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   SUM(CAST(l_extendedprice * (1.0 - l_discount)
                            AS DECIMAL(18,6))) AS total_rev
            FROM v_lineitem
            WHERE l_shipdate >= TIMESTAMP'1996-01-01'
              AND l_shipdate <  TIMESTAMP'1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name,
               CAST(r.total_rev AS DOUBLE) AS total_rev
        FROM v_supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
        """
    )


@query(
    "q_tpch_q16",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#45'
      AND p.p_type <> 'MEDIUM'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND NOT EXISTS (SELECT 1 FROM supplier s
                      WHERE s.s_suppkey = l.l_suppkey AND s.s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped (supplier count by part attributes): count
    DISTINCT under an anti join that excludes flagged suppliers.
    Deliberately NOT EXISTS semantics (→ plain left-anti, NULL suppkeys
    survive) rather than NOT IN (null-aware, a NULL would empty the
    result) — the DataFrame side is a broadcast left-anti and the oracle
    says NOT EXISTS so both engines agree on the advdata fixture too."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q_tpch_q17",
    oracle="""
    SELECT CAST(COALESCE(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                              * 100 AS BIGINT), 0) AS DOUBLE) / 700.0
               AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND CAST(l.l_quantity AS DECIMAL(18,2)) * 5
          * (SELECT COUNT(*) FROM lineitem l2
             WHERE l2.l_partkey = l.l_partkey)
        < (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,2)))
           FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped (small-quantity revenue): the classic
    `qty < 0.2 * avg(qty per part)` rewritten division-free as
    `5·qty·n < Σqty` in exact DECIMAL. The ORACLE keeps the textbook
    correlated-scalar-subquery form; Spark runs the scale plan (r7
    volume probe: the correlated form rescanned ALL of lineitem twice —
    44 s at 12M rows vs 3 s for this rewrite): the per-part (n, Σqty)
    aggregate is computed ONCE over lineitem pre-pruned to the brand's
    partkeys (a partkey determines its part row, so restricting the
    aggregate to the brand's keys is exact; the prune is a LEFT SEMI —
    never duplicates on a hypothetical dup partkey). The global sum
    goes through exact integer cents before the single double division;
    COALESCE pins the empty-match case to 0.0 on both engines."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("v_part")
    return spark.sql(
        """
        WITH bkeys AS (
            SELECT p_partkey FROM v_part WHERE p_brand = 'Brand#23'
        ), li_b AS (
            SELECT l_partkey, l_quantity, l_extendedprice
            FROM v_lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM bkeys)
        ), agg AS (
            SELECT l_partkey,
                   COUNT(*) AS n,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s
            FROM li_b GROUP BY l_partkey
        )
        SELECT CAST(COALESCE(
                   CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                        * 100 AS BIGINT), 0) AS DOUBLE) / 700.0
                   AS avg_yearly
        FROM li_b l
        JOIN v_part p ON p.p_partkey = l.l_partkey
                     AND p.p_brand = 'Brand#23'
        JOIN agg ON agg.l_partkey = l.l_partkey
        WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * agg.n < agg.s
        """
    )


@query(
    "q_tpch_q20",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey FROM lineitem l
        WHERE l.l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE 'red%')
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l.l_suppkey
        HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 100
    )
    """,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped (suppliers with significant flow of a part
    family): nested IN chain — part-name semi inside an aggregated,
    HAVING-gated semi. Catalyst rewrites both INs to left-semi joins;
    the inner aggregate gate runs on exact decimal quantity. Through the
    SQL front door to keep the rewrite with the optimizer."""
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("v_supplier")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("v_part")
    return spark.sql(
        """
        SELECT s.s_suppkey, s.s_name
        FROM v_supplier s
        WHERE s.s_suppkey IN (
            SELECT l.l_suppkey FROM v_lineitem l
            WHERE l.l_partkey IN (SELECT p_partkey FROM v_part
                                  WHERE p_name LIKE 'red%')
              AND l.l_shipdate >= TIMESTAMP'1996-01-01'
              AND l.l_shipdate <  TIMESTAMP'1997-01-01'
            GROUP BY l.l_suppkey
            HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 100
        )
        """
    )


@query(
    "q_tpch_q21",
    headline=True,
    oracle="""
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    JOIN nation n    ON s.s_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F' AND n.n_name = 'NATION_5'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s.s_name
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped (suppliers who kept orders waiting): EXISTS and
    NOT EXISTS correlated against the SAME fact under different residuals
    — the last-to-ship supplier in multi-supplier finished orders
    (adapted: no receiptdate → shipdate ordering). Catalyst plans a
    left-semi plus a left-anti against lineitem, both decorrelated; the
    strict inequality keeps ties out identically in both engines."""
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("v_supplier")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    return spark.sql(
        """
        SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM v_supplier s
        JOIN v_lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN v_orders o    ON o.o_orderkey = l1.l_orderkey
        JOIN v_nation n    ON s.s_nationkey = n.n_nationkey
        WHERE o.o_orderstatus = 'F' AND n.n_name = 'NATION_5'
          AND EXISTS (SELECT 1 FROM v_lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM v_lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > l1.l_shipdate)
        GROUP BY s.s_name
        """
    )


@query(
    "q_tpch_q22",
    oracle="""
    WITH pos AS (
        SELECT CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        FROM customer
        WHERE c_acctbal > 0
          AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
    )
    SELECT c.c_nationkey AS cntry, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) * 100
                     AS BIGINT) AS DOUBLE) / 100.0 AS totacctbal
    FROM customer c
    WHERE c.c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
      AND CAST(c.c_acctbal AS DECIMAL(18,2)) * (SELECT COUNT(*) FROM pos)
          > (SELECT SUM(bal) FROM pos)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped (global sales opportunity): customers above the
    positive-balance average with no urgent orders — uncorrelated scalar
    aggregates (broadcast single-row) + NOT EXISTS anti join (no c_phone
    → nationkey set stands in for country codes). The average is
    division-free (`bal·n > Σbal` in exact DECIMAL) and the output sum
    goes through integer cents — both cross-engine-exact."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        WITH pos AS (
            SELECT CAST(c_acctbal AS DECIMAL(18,2)) AS bal
            FROM v_customer
            WHERE c_acctbal > 0
              AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
        )
        SELECT c.c_nationkey AS cntry, CAST(COUNT(*) AS BIGINT) AS numcust,
               CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) * 100
                         AS BIGINT) AS DOUBLE) / 100.0 AS totacctbal
        FROM v_customer c
        WHERE c.c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
          AND CAST(c.c_acctbal AS DECIMAL(18,2)) * (SELECT COUNT(*) FROM pos)
              > (SELECT SUM(bal) FROM pos)
          AND NOT EXISTS (SELECT 1 FROM v_orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        GROUP BY c.c_nationkey
        """
    )


# ---------------------------------------------------------------------------
# Round 6: graph link-prediction, boilerplate detection, growth accounting
# ---------------------------------------------------------------------------

from bigdata_retailrocket_recsys_spark.plans.catalog import (  # noqa: E402
    _floordiv_sql,
    floordiv_expr,
)


@query(
    "q_graph_jaccard",
    oracle="""
    WITH e AS (
        SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
               GREATEST(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), adj AS (
        SELECT u AS x, v AS y FROM e UNION ALL SELECT v, u FROM e
    ), deg AS (
        SELECT x, COUNT(*) AS d FROM adj GROUP BY x
    ), com AS (
        SELECT a.x AS u, b.x AS v, COUNT(*) AS common
        FROM adj a JOIN adj b ON a.y = b.y AND a.x < b.x
        GROUP BY a.x, b.x
    )
    SELECT e.u, e.v,
           CAST(COALESCE(c.common, 0) AS BIGINT) AS common,
           CAST(du.d AS BIGINT) AS deg_u,
           CAST(dv.d AS BIGINT) AS deg_v,
           CAST(COALESCE(c.common, 0) AS DOUBLE)
               / CAST(du.d + dv.d - COALESCE(c.common, 0) AS DOUBLE)
               AS jaccard
    FROM e
    JOIN deg du ON du.x = e.u
    JOIN deg dv ON dv.x = e.v
    LEFT JOIN com c ON c.u = e.u AND c.v = e.v
    """,
)
def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge neighborhood Jaccard on the co-purchase graph (operators/
    graph.edge_jaccard): link-prediction feature via the degree-oriented
    triangle closure — O(m^1.5) wedges, while the oracle pays the naive
    Σdeg² adjacency self-join. Orientation changes which join finds a
    common neighbor, never the count, so the exact-int counts and the
    single int→double division must agree bit-for-bit."""
    from bigdata_retailrocket_recsys_spark.operators.graph import edge_jaccard

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
    )
    return edge_jaccard(edges)


@query(
    "q_text_boilerplate",
    oracle="""
    WITH toks AS (
        SELECT doc_id, ROW_NUMBER() OVER () AS rid,
               string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE text IS NOT NULL
    ), spans AS (
        SELECT DISTINCT rid, doc_id, ngram
        FROM (
            SELECT rid, doc_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                   t[i+3] || ' ' || t[i+4] AS ngram
            FROM (SELECT rid, doc_id, t, unnest(range(1, len(t) - 3)) AS i
                  FROM toks)
        )
    )
    SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(doc_id) AS example_doc
    FROM spans GROUP BY ngram HAVING COUNT(*) >= 3
    """,
)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 5-gram spans (operators/text.
    boilerplate_spans): document-prevalence counts (each row contributes
    a span once — array_distinct in-array, no pre-shuffle distinct), the
    CCNet/RefinedWeb boilerplate-strip signal. The oracle's DISTINCT is
    over a synthesized ROW_NUMBER() row id (DuckDB rowid isn't available
    on views — CLAUDE.md) so duplicated rows — even with equal doc_ids —
    count separately on both engines, matching row-grain semantics."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        boilerplate_spans,
    )

    return boilerplate_spans(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        n=5,
        min_rows=3,
    )


@query(
    "q_growth_accounting",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, {_floordiv_sql('epoch_us(ts)', 86400000000)} AS day
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), dau AS (
        SELECT day, COUNT(DISTINCT user_id) AS dau FROM ev GROUP BY day
    ), fs AS (
        SELECT user_id, MIN(day) AS first_day FROM ev GROUP BY user_id
    ), nu AS (
        SELECT first_day AS day, COUNT(*) AS new_users
        FROM fs GROUP BY first_day
    )
    SELECT d.day, CAST(d.dau AS BIGINT) AS dau,
           CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
           CAST(SUM(COALESCE(n.new_users, 0))
                    OVER (ORDER BY d.day) AS BIGINT) AS cum_users
    FROM dau d LEFT JOIN nu n ON n.day = d.day
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: DAU, new users, and CUMULATIVE distinct
    users per day. The classic trap is that `COUNT(DISTINCT) OVER
    (ORDER BY day)` isn't a window aggregate in either engine — the
    rewrite is first-seen-day per user (one agg), then a running sum of
    first-seen counts, which IS the cumulative distinct. The running
    window is over the per-DAY table (bounded by calendar days, not
    facts — single-reducer is fine at any corpus scale; the per-user
    aggs are the data-sized shuffles and both are map-side combinable).
    Epoch-day ints keep dates off the DATE stringification trap."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.expr(floordiv_expr("unix_micros(ts)", 86400000000)).alias("day"),
        )
    )
    dau = ev.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    nu = (
        ev.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    from pyspark.sql import Window

    joined = dau.join(nu, "day", "left").select(
        "day",
        F.col("dau").cast("bigint").alias("dau"),
        F.coalesce("new_users", F.lit(0)).cast("bigint").alias("new_users"),
    )
    return joined.withColumn(
        "cum_users",
        F.sum("new_users").over(
            Window.orderBy("day").rangeBetween(Window.unboundedPreceding, 0)
        ).cast("bigint"),
    )


@query(
    "q_stream_chained_rollup",
    # Two chained stateful aggs in append mode: only rollup windows whose
    # END the FINAL watermark (max valid event time − 2 h) has passed are
    # emitted — the oracle cuts the identical tail. Inner hourly windows
    # always close before (or with) their enclosing rollup window, so a
    # closed rollup has absorbed all of its hourly buckets; the WHERE
    # reproduces append's emit-once gate exactly.
    oracle=f"""
    WITH ev AS (
        SELECT event_type, epoch_us(ts) AS us
        FROM events WHERE ts IS NOT NULL AND epoch_us(ts) >= 0
    ), wm AS (
        SELECT MAX(us) - 7200000000 AS w FROM ev
    ), hourly AS (
        SELECT {_floormul_sql("us", 3600000000)} AS h_start, event_type,
               COUNT(*) AS n
        FROM ev GROUP BY 1, 2
    )
    SELECT {_floormul_sql("h_start", 21600000000)} AS win_start_us,
           event_type,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(MAX(n) AS BIGINT) AS max_hourly,
           CAST(COUNT(*) AS BIGINT) AS n_hourly_buckets
    FROM hourly
    GROUP BY 1, 2
    HAVING {_floormul_sql("h_start", 21600000000)} + 21600000000
           <= (SELECT w FROM wm)
    """,
)
def q_stream_chained_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful streaming aggregation (streaming/sessionize_stream
    .streaming_chained_rollup): hourly per-type counts roll up into
    6-hour summaries INSIDE one streaming query — the Spark ≥3.4
    multiple-stateful-operator pipeline (second window keyed on
    window_time() of the first, watermark propagated through). Append
    mode + bounded AvailableNow run ⇒ deterministic emitted set ⇒ full
    DuckDB oracle including the watermark tail cut."""
    from bigdata_retailrocket_recsys_spark.streaming.sessionize_stream import (
        run_streaming_chained_rollup,
    )

    return run_streaming_chained_rollup(spark, sf_dir)


# ---------------------------------------------------------------------------
# Round 6: Spark 4 relational surface — recursive CTE, VARIANT, LATERAL
# ---------------------------------------------------------------------------


@query(
    "q_sql_recursive_bfs",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
               GREATEST(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), adj AS (
        SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e
    ), bfs AS (
        SELECT CAST(1 AS BIGINT) AS node, 0 AS hop
        UNION ALL
        SELECT a.y, b.hop + 1 FROM bfs b JOIN adj a ON a.x = b.node
        WHERE b.hop < 3
    )
    SELECT node, CAST(MIN(hop) AS BIGINT) AS min_hop,
           CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM bfs GROUP BY node
    """,
)
def q_sql_recursive_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark ≥4.0 WITH RECURSIVE): 3-hop BFS from a seed
    part over the strong co-purchase graph (pairs co-ordered ≥2×), min
    hop distance + path counts — IDENTICAL SQL on both engines, run
    through the Spark SQL front door. UNION ALL path enumeration is the
    portable form but is path-exponential on dense graphs — bounded here
    by the hop<3 gate and the ≥2 weight threshold; the scale-safe form
    for unbounded reachability is the iterative frontier operator
    (operators/dedup.connected_components_bigstar) — this entry is the
    relational-surface twin, not the 100 TB path."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        WITH RECURSIVE e AS (
            SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
                   GREATEST(a.l_partkey, b.l_partkey) AS v
            FROM v_lineitem a JOIN v_lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), adj AS (
            SELECT u AS x, v AS y FROM e
            UNION ALL SELECT v AS x, u AS y FROM e
        ), bfs AS (
            SELECT CAST(1 AS BIGINT) AS node, 0 AS hop
            UNION ALL
            SELECT a.y, b.hop + 1 FROM bfs b JOIN adj a ON a.x = b.node
            WHERE b.hop < 3
        )
        SELECT node, CAST(MIN(hop) AS BIGINT) AS min_hop,
               CAST(COUNT(*) AS BIGINT) AS n_paths
        FROM bfs GROUP BY node
        """
    )


@query(
    "q_json_variant",
    oracle="""
    WITH doc AS (
        SELECT '{"p":' || props || ',"uid":' || CAST(user_id AS VARCHAR)
               || '}' AS j
        FROM events
    )
    SELECT CAST(json_extract(j, '$.p.k') AS BIGINT) % 10 AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(CAST(json_extract(j, '$.uid') AS BIGINT)) AS BIGINT)
               AS min_uid
    FROM doc WHERE j IS NOT NULL
    GROUP BY 1
    """,
)
def q_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT semi-structured path extraction (Spark ≥4.0): a nested
    JSON document (string-concat construction — identical bytes on both
    engines, NULL-propagating through ||) is parsed ONCE with
    parse_json into a VARIANT, then two typed paths come out via
    variant_get — the parse-once/extract-many shape that replaces
    repeated get_json_object string re-parses. The oracle extracts the
    same paths with DuckDB's native JSON type. Bucketed bigint group
    keys; % on non-negative k is engine-identical."""
    ev = _t(spark, sf_dir, "events")
    doc = ev.select(
        F.concat(
            F.lit('{"p":'),
            F.col("props"),
            F.lit(',"uid":'),
            F.col("user_id").cast("string"),
            F.lit("}"),
        ).alias("j")
    ).filter(F.col("j").isNotNull())
    v = doc.select(F.parse_json("j").alias("v"))
    return (
        v.select(
            (F.expr("variant_get(v, '$.p.k', 'bigint')") % 10).alias(
                "k_bucket"
            ),
            F.expr("variant_get(v, '$.uid', 'bigint')").alias("uid"),
        )
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("uid").cast("bigint").alias("min_uid"),
        )
    )


@query(
    "q_join_lateral",
    oracle="""
    SELECT o.o_orderkey, t.l_partkey, t.l_extendedprice
    FROM orders o,
    LATERAL (SELECT l_partkey, l_extendedprice, l_linenumber
             FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey
             ORDER BY l_extendedprice DESC NULLS LAST,
                      l_partkey ASC NULLS FIRST,
                      l_linenumber ASC NULLS FIRST
             LIMIT 1) t
    WHERE o.o_orderstatus = 'F'
    """,
)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT (the
    top-1-per-key join written the SQL-standard way instead of a window
    rank): Catalyst decorrelates to a partitioned rank under the hood —
    same physical family as `q_window_latest_per_key`, different entry
    surface. Total-order tiebreak (price, partkey, linenumber) with
    EXPLICIT null placement makes the picked row engine-identical;
    orders with no lineitems drop on both engines (inner lateral)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT o.o_orderkey, t.l_partkey, t.l_extendedprice
        FROM v_orders o,
        LATERAL (SELECT l_partkey, l_extendedprice, l_linenumber
                 FROM v_lineitem l
                 WHERE l.l_orderkey = o.o_orderkey
                 ORDER BY l_extendedprice DESC NULLS LAST,
                          l_partkey ASC NULLS FIRST,
                          l_linenumber ASC NULLS FIRST
                 LIMIT 1) t
        WHERE o.o_orderstatus = 'F'
        """
    )


@query(
    "q_join_null_safe",
    oracle="""
    WITH a AS (
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               COUNT(*) AS n_all
        FROM events GROUP BY 1
    ), b AS (
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               COUNT(*) AS n_purchase
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT a.k, CAST(a.n_all AS BIGINT) AS n_all,
           CAST(b.n_purchase AS BIGINT) AS n_purchase
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): the
    NULL-props group is a real group on BOTH sides and must MATCH —
    a plain equi join silently drops it (NULL = NULL is UNKNOWN), the
    classic silent-loss trap for nullable dimension keys. Catalyst
    hash-joins on the null-safe key directly (no coalesce-to-sentinel
    hack, which would corrupt a real sentinel value)."""
    ev = _t(spark, sf_dir, "events").select(
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        "event_type",
    )
    a = ev.groupBy("k").agg(F.count(F.lit(1)).alias("n_all"))
    b = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_purchase"))
        .withColumnRenamed("k", "kb")
    )
    return a.join(b, a.k.eqNullSafe(F.col("kb"))).select(
        "k", "n_all", "n_purchase"
    )


# Shared median/MAD machinery (the BM25_CONTRIB_SQL template discipline):
# ONE definition of the integer-cent median/MAD derivation feeds BOTH
# q_anomaly_mad and q_feature_robust_scale, on BOTH engines — a rank
# arithmetic fix can never leave a twin stale. {id_sel}/{id_filter} thread
# an optional per-row id through the chain; `dev` carries med2 so final
# SELECTs never re-join med.
MAD_CTES_SQL = """
    WITH f AS (
        SELECT {id_sel}event_type,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
          AND NOT isinf(value){id_filter}
    ), o AS (
        SELECT event_type, c,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY c ASC) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM f
    ), med AS (
        SELECT event_type,
               MIN(CASE WHEN rn = (n + 1) // 2 THEN c END)
             + MIN(CASE WHEN rn = (n + 2) // 2 THEN c END) AS med2
        FROM o GROUP BY event_type
    ), dev AS (
        SELECT {id_sel}f.event_type, f.c, m.med2,
               ABS(2 * f.c - m.med2) AS d2
        FROM f JOIN med m USING (event_type)
    ), do_ AS (
        SELECT event_type, d2,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY d2 ASC) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM dev
    ), mad AS (
        SELECT event_type,
               MIN(CASE WHEN rn = (n + 1) // 2 THEN d2 END)
             + MIN(CASE WHEN rn = (n + 2) // 2 THEN d2 END) AS mad4
        FROM do_ GROUP BY event_type
    )
"""


def _mad_tables(f):
    """Spark twin of MAD_CTES_SQL: from a frame with (event_type, c
    [, extra id cols]) return (dev, mad) where ``dev`` carries every
    input column + med2 + d2 (CACHED — consumed by the second rank pass
    and the caller) and ``mad`` is the per-group quadrupled MAD. Both
    rank passes ride the SHARDED grouped global_rank."""
    from bigdata_retailrocket_recsys_spark.operators.windows import (
        _sharded_global_rank,
    )

    def middle_sum(df, val_col, out_col):
        # _sharded_global_rank already carries the per-group total as
        # ``__n`` (its broadcast offset table computes it) — reading it
        # directly replaces the old per-pass count aggregate + second
        # broadcast join (r13: two fewer subtrees per rank pass,
        # value-identical — __n IS count(*) per event_type).
        o = _sharded_global_rank(
            df, [F.col(val_col).asc()], 32, ["event_type"]
        ).withColumn("rn", (F.col("__rn") + F.col("__off")).cast("bigint"))
        return o.groupBy("event_type").agg(
            (
                F.min(
                    F.when(F.col("rn") == F.expr("(__n + 1) div 2"),
                           F.col(val_col))
                )
                + F.min(
                    F.when(F.col("rn") == F.expr("(__n + 2) div 2"),
                           F.col(val_col))
                )
            ).alias(out_col)
        )

    med = middle_sum(f, "c", "med2")
    dev = f.join(F.broadcast(med), "event_type").withColumn(
        "d2", F.abs(F.lit(2) * F.col("c") - F.col("med2"))
    )
    dev.cache()  # second rank pass + the caller's final read (S7)
    mad = middle_sum(dev.select("event_type", "d2"), "d2", "mad4")
    return dev, mad


@query(
    "q_anomaly_mad",
    headline=True,
    oracle=MAD_CTES_SQL.format(id_sel="", id_filter="")
    + """
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(d.med2 AS BIGINT) AS median_x2_cents,
           CAST(md.mad4 AS BIGINT) AS mad_x4_cents,
           CAST(SUM(CASE WHEN 4 * d.d2 > 3 * md.mad4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad md USING (event_type)
    GROUP BY d.event_type, d.med2, md.mad4
    """,
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly counts per event type: median + MAD (median
    absolute deviation), the outlier rule |x − med| > 3·MAD — entirely
    in EXACT integer arithmetic. Values go to integer cents (2-decimal
    doubles, float rule 1); the median is carried DOUBLED (sum of the
    two middle order statistics — no /2, stays int), deviations are
    |2c − med2| (= 2·|c − med| in cents), and MAD rides QUADRUPLED
    (middle-sum of doubled deviations). The flag inequality
    |x−med| > 3·MAD becomes 4·d2 > 3·mad4 after clearing denominators —
    no float ever, so both engines agree bit-for-bit.

    Scale shape: event_type is FEW huge groups → both rank passes use
    the SHARDED grouped global_rank (q_winsorize discipline), never a
    single-reducer window; the k-th VALUE of a sorted multiset is
    tie-order independent."""
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    f = ev.filter(
        v.isNotNull() & ~F.isnan(v) & (F.abs(v) != float("inf"))
    ).select(
        "event_type",
        (v.cast("decimal(18,2)") * 100).cast("bigint").alias("c"),
    )
    dev, mad = _mad_tables(f)
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med2", "mad4")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                F.when(
                    F.lit(4) * F.col("d2") > F.lit(3) * F.col("mad4"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_rows",
            F.col("med2").cast("bigint").alias("median_x2_cents"),
            F.col("mad4").cast("bigint").alias("mad_x4_cents"),
            "n_outliers",
        )
    )


@query(
    "q_seq_prefixspan",
    # maxPatternLength=2 makes PrefixSpan containment SQL-expressible:
    # singles = users containing the item; pairs a>b = users with an a
    # strictly before a b in the SAME total (ts, event_id) order the
    # engine sorts by. Threshold = Spark's ceil(minSupport·n) with the
    # dyadic 0.5 → exact (n+1)//2.
    oracle="""
    WITH ev AS (
        SELECT user_id, epoch_us(ts) AS us, event_id, event_type
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IS NOT NULL AND event_id IS NOT NULL
    ), nu AS (
        SELECT COUNT(DISTINCT user_id) AS n FROM ev
    ), singles AS (
        SELECT event_type AS pattern, COUNT(DISTINCT user_id) AS freq
        FROM ev GROUP BY 1
    ), pairs AS (
        SELECT a.event_type || '>' || b.event_type AS pattern,
               COUNT(DISTINCT a.user_id) AS freq
        FROM ev a JOIN ev b
          ON a.user_id = b.user_id
         AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))
        GROUP BY 1
    )
    SELECT pattern, CAST(freq AS BIGINT) AS freq
    FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs)
    WHERE freq >= (SELECT (n + 1) // 2 FROM nu)
    """,
)
def q_seq_prefixspan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib PrefixSpan sequential patterns (operators/sequences.
    frequent_sequences): order-aware frequent journeys (singles + a>b
    bigrams at maxPatternLength=2), minSupport 0.5 of users. The oracle
    re-derives containment relationally under the IDENTICAL total
    (ts, event_id) order — exact integer support counts, so the
    projection-based miner and the naive SQL must agree row-for-row."""
    from bigdata_retailrocket_recsys_spark.operators.sequences import (
        frequent_sequences,
    )

    return frequent_sequences(
        _t(spark, sf_dir, "events"),
        min_support=0.5,
        max_pattern_length=2,
    )


@query(
    "q_eval_ips",
    oracle="""
    WITH ev AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL
          AND NOT isnan(value) AND NOT isinf(value)
    ), acts AS (
        SELECT COUNT(DISTINCT event_type) AS n_act FROM ev
    ), agg AS (
        SELECT event_type, COUNT(*) AS n_a,
               SUM(cents) AS reward_cents
        FROM ev GROUP BY event_type
    )
    SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
           CAST(reward_cents AS BIGINT) AS reward_cents,
           CAST(FLOOR(CAST(reward_cents * 10000 AS DOUBLE)
                      / CAST(n_act * n_a AS DOUBLE)) AS BIGINT)
               AS ips_term_u
    FROM agg, acts
    """,
)
def q_eval_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation of a uniform target policy over logged
    bandit feedback (inverse propensity scoring): with empirical logging
    propensities p(a) = n_a/N and π uniform over the observed action
    set, the IPS value estimate telescopes to Σ_a R_a/(n_act·n_a) — one
    exact-integer term per action. Rewards ride integer cents; each
    term is ONE double division of exact int64s then µ-floored (float
    rule 3), so the per-action contributions — and any downstream sum of
    them — are bit-identical across engines. The horvitz-thompson
    estimator as a relational plan: two aggregates, one broadcast
    scalar, facts never shuffle twice."""
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    f = ev.filter(
        F.col("event_type").isNotNull()
        & v.isNotNull()
        & ~F.isnan(v)
        & (F.abs(v) != float("inf"))
    ).select(
        "event_type",
        (v.cast("decimal(18,2)") * 100).cast("bigint").alias("cents"),
    )
    acts = f.agg(F.countDistinct("event_type").alias("n_act"))
    agg = f.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a"),
        F.sum("cents").cast("bigint").alias("reward_cents"),
    )
    return agg.crossJoin(F.broadcast(acts)).select(
        "event_type",
        "n_a",
        "reward_cents",
        F.floor(
            (F.col("reward_cents") * 10000).cast("double")
            / (F.col("n_act") * F.col("n_a")).cast("double")
        )
        .cast("bigint")
        .alias("ips_term_u"),
    )


@query("q_graph_kcore", oracle=None)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph (operators/graph.k_core):
    iterative peeling to the maximal subgraph of min degree ≥ 3 — the
    cohesion filter that strips pendant/chain structure before
    community analysis. Fixpoint peeling needs aggregation inside the
    recursion (neither engine's recursive SQL allows it) → rows-only;
    the defining invariant (every surviving vertex keeps ≥ k neighbors
    among survivors, and the result is a fixpoint) is test-locked."""
    from bigdata_retailrocket_recsys_spark.operators.graph import k_core

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
    )
    return k_core(edges, 3)


@query(
    "q_sql_udf",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF (Spark ≥4.0 ``CREATE FUNCTION ... RETURNS ...
    RETURN expr``): a catalog-registered reusable expression that
    Catalyst INLINES at plan time — the governance benefits of a UDF
    (one definition, many queries) with zero execution cost: the plan is
    byte-identical to writing the expression inline, stays in
    whole-stage codegen, and never touches a Python worker. The oracle
    states the inlined form — if inlining ever regressed to an opaque
    call, the decimal-exact sums would still pin the values."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE)
        RETURNS DOUBLE RETURN p * (1.0 - d)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(CAST(disc_price(l_extendedprice, l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM v_lineitem
        WHERE l_shipdate >= TIMESTAMP'1997-01-01'
        GROUP BY l_returnflag
        """
    )


@query(
    "q_sql_pipe",
    oracle="""
    SELECT p_brand,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM part
    WHERE p_size <= 20
    GROUP BY p_brand
    """,
)
def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark ≥4.0 ``|>`` operators): the linear
    from→filter→aggregate composition written the way the DataFrame API
    reads — same Catalyst plan as the classic form (the parser is the
    only difference), oracled against the classic SQL on DuckDB."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("v_part")
    return spark.sql(
        """
        FROM v_part
        |> WHERE p_size <= 20
        |> AGGREGATE SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS s,
                     COUNT(*) AS c
           GROUP BY p_brand
        |> SELECT p_brand, CAST(s AS DOUBLE) AS total_price,
                  CAST(c AS BIGINT) AS n_parts
        """
    )


@query(
    "q_tpch_q11",
    oracle="""
    WITH pv AS (
        SELECT l.l_partkey,
               SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS val
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_7'
        GROUP BY l.l_partkey
    )
    SELECT l_partkey, CAST(val AS DOUBLE) AS value
    FROM pv
    WHERE val > (SELECT SUM(val) * 0.001 FROM pv)
    """,
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped (important stock): per-part value for one
    nation's suppliers, kept only where it exceeds a FRACTION of the
    global total — the group-level HAVING against an uncorrelated scalar
    aggregate over the same derived table (no partsupp → lineitem value
    stands in for supplycost·availqty). The fraction comparison runs in
    exact DECIMAL (0.001 is a decimal literal in both engines — no float
    threshold that could straddle a boundary 1 ulp apart). Completes the
    22/22 TPC-H shape coverage. Through the SQL front door; the pv CTE
    is part-grain (bounded by the part catalog), so its double
    evaluation under the scalar subquery is dimension-sized."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("v_supplier")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    return spark.sql(
        """
        WITH pv AS (
            SELECT l.l_partkey,
                   SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS val
            FROM v_lineitem l
            JOIN v_supplier s ON l.l_suppkey = s.s_suppkey
            JOIN v_nation n   ON s.s_nationkey = n.n_nationkey
            WHERE n.n_name = 'NATION_7'
            GROUP BY l.l_partkey
        )
        SELECT l_partkey, CAST(val AS DOUBLE) AS value
        FROM pv
        WHERE val > (SELECT SUM(val) * 0.001 FROM pv)
        """
    )


@query(
    "q_sink_pysource_jsonl",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM events
    WHERE event_id IS NOT NULL
    GROUP BY event_type
    """,
)
def q_sink_pysource_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source WRITER roundtrip (sources/audit_sink):
    events project → jsonl_audit sink (two-phase commit: temp files,
    rename-on-commit, _SUCCESS manifest) → read back ONLY the committed
    part files → aggregate. The oracle computes the same aggregate
    straight from the source table, so a dropped, duplicated, or torn
    write breaks the hash. Ints/strings only through the JSON boundary
    (lossless both ways)."""
    import os as _os

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from bigdata_retailrocket_recsys_spark.sources.audit_sink import (
        AuditJsonlDataSource,
    )

    try:
        spark.dataSource.register(AuditJsonlDataSource)
    except Exception:
        pass  # already registered in this session
    path = session_scratch(spark, "audit_jsonl")
    import shutil as _sh

    _sh.rmtree(path, ignore_errors=True)
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_id").isNotNull()
    ).select("event_id", "event_type")
    ev.write.format("jsonl_audit").option("path", path).mode(
        "append"
    ).save()
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    back = spark.read.schema(schema).json(
        _os.path.join(path, "part-*.jsonl")
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@query(
    "q_scan_xml",
    oracle="""
    SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(p_size AS BIGINT)) AS BIGINT) AS total_size
    FROM part
    WHERE p_size IS NOT NULL
    GROUP BY p_brand
    """,
)
def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML source roundtrip (Spark ≥4.0 built-in spark-xml): part
    dims written as <row> elements, read back with an EXPLICIT schema
    (no inference pass — the same scan discipline as every other
    reader), aggregated; the oracle computes the same aggregate straight
    from the table, so element loss or type coercion drift breaks the
    hash. Ints/strings only through the XML boundary."""
    import shutil as _sh

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    path = session_scratch(spark, "xml_part")
    _sh.rmtree(path, ignore_errors=True)
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_size").isNotNull()
    ).select("p_partkey", "p_brand", "p_size")
    p.write.format("xml").option("rowTag", "row").save(path)
    schema = StructType(
        [
            StructField("p_partkey", StringType()),  # not needed typed
            StructField("p_brand", StringType()),
            StructField("p_size", IntegerType()),
        ]
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema(schema)
        .load(path)
    )
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("p_size").cast("bigint")).alias("total_size"),
    )


@query(
    "q_scan_fixed_width",
    oracle="""
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
           MIN(trim(substring(c_name, 1, 30))) AS first_name
    FROM customer
    WHERE c_custkey IS NOT NULL AND c_nationkey IS NOT NULL
      AND c_name IS NOT NULL
    GROUP BY c_nationkey
    """,
)
def q_scan_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (mainframe/COBOL-style) text roundtrip: customers
    formatted into 12+6+30-char columns, written with the text sink,
    read back as raw lines and parsed by POSITION (substr+trim+cast, all
    codegen — the classic ETL intake no schema inference can help with).
    Oracled straight from the source table: a column-boundary
    off-by-one, truncation, or pad/trim asymmetry breaks the hash.
    Names are left-padded data written right-padded, so trim must be
    applied on BOTH the write format and the oracle identically."""
    import shutil as _sh

    path = session_scratch(spark, "fixed_width")
    _sh.rmtree(path, ignore_errors=True)
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_custkey").isNotNull()
        & F.col("c_nationkey").isNotNull()
        & F.col("c_name").isNotNull()
    )
    lines = c.select(
        F.concat(
            F.lpad(F.col("c_custkey").cast("string"), 12, "0"),
            F.lpad(F.col("c_nationkey").cast("string"), 6, "0"),
            F.rpad(F.col("c_name"), 30, " "),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    parsed = raw.select(
        F.substring("value", 1, 12).cast("bigint").alias("c_custkey"),
        F.substring("value", 13, 6).cast("int").alias("c_nationkey"),
        F.trim(F.substring("value", 19, 30)).alias("c_name"),
    )
    return parsed.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c_custkey").alias("key_sum"),
        F.min("c_name").alias("first_name"),
    )


@query(
    "q_stream_state_reader",
    oracle=f"""
    SELECT {_floormul_sql("epoch_us(ts)", 3600000000)} AS win_start_us,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    WHERE ts IS NOT NULL AND epoch_us(ts) >= 0
    GROUP BY 1, 2
    """,
)
def q_stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline state-store inspection (streaming/sessionize_stream.
    run_state_reader): a checkpointed tumbling aggregation's RocksDB
    state read back through the State Data Source — complete mode
    retains every window, so the state contents must EQUAL the batch
    GROUP BY (the oracle). The streaming-ops debugging surface
    (statestore / state-metadata formats), value-checked rather than
    just demonstrated."""
    from bigdata_retailrocket_recsys_spark.streaming.sessionize_stream import (
        run_state_reader,
    )

    return run_state_reader(spark, sf_dir)


@query(
    "q_eval_did",
    oracle="""
    WITH ev AS (
        SELECT user_id,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type = 'purchase' AND value IS NOT NULL
          AND NOT isnan(CAST(value AS DOUBLE))
          AND NOT isinf(CAST(value AS DOUBLE))
    ), mid AS (
        SELECT (MIN(d) + MAX(d) + 1) // 2 AS mid FROM ev
    ), cells AS (
        SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                    THEN 1 ELSE 0 END AS treat,
               CASE WHEN d >= mid.mid THEN 1 ELSE 0 END AS post,
               cents
        FROM ev, mid
    )
    SELECT treat, post,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(FLOOR(CAST(SUM(cents) * 1000000 AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
               AS mean_ucents
    FROM cells GROUP BY treat, post
    """,
)
def q_eval_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout — the causal-analytics sibling
    of q_ab_test / q_eval_ips (r13): purchase value per (treat × post)
    cell, with treatment assigned by the content-defined md5 hex-prefix
    idiom and the period split at the integer midpoint day of the
    purchase span (a 1-row broadcast — both engines derive the same
    mid). Emits the four cells as exact integers (count, cent sum,
    µ-floored mean micro-cents — ONE int64 division per row, the
    q_ab_test rule); the DiD estimate (m11−m01)−(m10−m00) and its SE
    are one consumer-side fold over these exact cells — publishing the
    float here would re-import the cross-engine determinism problem for
    a cosmetic column."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
            # NaN/inf values poison the cents cast under ANSI (advdata)
            & ~F.isnan(F.col("value"))
            & (F.abs("value") != F.lit(float("inf")))
        )
        .select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
            .cast("bigint")
            .alias("d"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    mid = ev.agg(
        ((F.min("d") + F.max("d") + 1) / 2).cast("bigint").alias("__mid")
    )
    cells = ev.crossJoin(F.broadcast(mid)).select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("treat"),
        (F.col("d") >= F.col("__mid")).cast("int").alias("post"),
        "cents",
    )
    return cells.groupBy("treat", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.floor(
            (F.sum("cents") * 1000000).cast("double")
            / F.count(F.lit(1)).cast("double")
        )
        .cast("bigint")
        .alias("mean_ucents"),
    )


@query(
    "q_eval_cuped",
    oracle="""
    WITH ev AS (
        SELECT user_id,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type = 'purchase' AND value IS NOT NULL
          AND NOT isnan(CAST(value AS DOUBLE))
          AND NOT isinf(CAST(value AS DOUBLE))
    ), mid AS (
        SELECT (MIN(d) + MAX(d) + 1) // 2 AS mid FROM ev
    ), pu AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN d <  mid.mid THEN cents ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN d >= mid.mid THEN cents ELSE 0 END)
                    AS BIGINT) AS y
        FROM ev, mid GROUP BY user_id
    ), tagged AS (
        SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                    THEN 1 ELSE 0 END AS treat,
               x, y
        FROM pu
    )
    SELECT treat,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(x) AS BIGINT) AS sum_x,
           CAST(SUM(y) AS BIGINT) AS sum_y,
           CAST(SUM(x * y) AS BIGINT) AS sum_xy,
           CAST(SUM(x * x) AS BIGINT) AS sum_x2
    FROM tagged GROUP BY treat
    """,
)
def q_eval_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduction readout (Deng et al. WSDM'13) — the
    experimentation family's moment-sum entry next to q_ab_test /
    q_eval_did (r13): per user, pre-period purchase cents x (the
    covariate) and post-period cents y (the metric), split at the same
    integer midpoint day as q_eval_did; per md5-assigned arm the EXACT
    integer moment sums (n, Σx, Σy, Σxy, Σx²). θ = cov(x,y)/var(x),
    the adjusted means, and the variance reduction are one consumer
    fold over these exact cells (the corr-moments rule: publish exact
    integer moments, never the float). Bound note: Σxy is cents² —
    fits bigint to ~3·10⁹ users at $100 average; shard or DECIMAL
    beyond that (documented, fixtures are far inside)."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
            & ~F.isnan(F.col("value"))
            & (F.abs("value") != F.lit(float("inf")))
        )
        .select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
            .cast("bigint")
            .alias("d"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    mid = ev.agg(
        F.floor((F.min("d") + F.max("d") + 1) / 2)
        .cast("bigint")
        .alias("__mid")
    )
    pu = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("d") < F.col("__mid"), F.col("cents"))
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(F.col("d") >= F.col("__mid"), F.col("cents"))
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    tagged = pu.select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("treat"),
        "x",
        "y",
    )
    return tagged.groupBy("treat").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("sum_x"),
        F.sum("y").cast("bigint").alias("sum_y"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sum_x2"),
    )


@query(
    "q_ab_test",
    oracle="""
    WITH assigned AS (
        SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                    THEN 'A' ELSE 'B' END AS variant,
               user_id, event_type
        FROM events WHERE user_id IS NOT NULL
    ), per_variant AS (
        SELECT variant,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                   THEN user_id END) AS n_converted
        FROM assigned GROUP BY variant
    )
    SELECT variant, CAST(n_users AS BIGINT) AS n_users,
           CAST(n_converted AS BIGINT) AS n_converted,
           CAST(FLOOR(CAST(n_converted * 1000000 AS DOUBLE)
                      / CAST(n_users AS DOUBLE)) AS BIGINT) AS cvr_ppm
    FROM per_variant
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically assigned to
    variants by md5 hex-prefix comparison (content-defined — the same
    user lands in the same arm on ANY engine or rerun; the exact
    q_split_hash idiom, no int parsing), per-variant exact user and converter counts, and
    conversion rate as µ-floored parts-per-million (ONE int64 division).
    The z-statistic is left to the caller — it needs only these four
    exact columns, and publishing it as a float would re-import the
    cross-engine libm problem the catalog bans."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    assigned = ev.select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            "A",
        )
        .otherwise("B")
        .alias("variant"),
        "user_id",
        "event_type",
    )
    per = assigned.groupBy("variant").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("n_converted"),
    )
    return per.select(
        "variant",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.col("n_converted").cast("bigint").alias("n_converted"),
        F.floor(
            (F.col("n_converted") * 1000000).cast("double")
            / F.col("n_users").cast("double")
        )
        .cast("bigint")
        .alias("cvr_ppm"),
    )


@query(
    "q_graph_bfs",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
               GREATEST(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), adj AS (
        SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e
    ), bfs AS (
        SELECT CAST(1 AS BIGINT) AS node, 0 AS hop
        UNION ALL
        SELECT a.y, b.hop + 1 FROM bfs b JOIN adj a ON a.x = b.node
        WHERE b.hop < 6
    )
    SELECT node, CAST(MIN(hop) AS BIGINT) AS min_hop
    FROM bfs GROUP BY node
    """,
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier BFS (operators/graph.bfs_distances) over the strong
    co-purchase graph — the SCALE twin of `q_sql_recursive_bfs`: every
    edge relaxes at most twice TOTAL (visited-set anti join), vs the
    recursive CTE's per-path enumeration the oracle still runs. Same
    seed, same min-hop distances; hop cap 6 covers the oracle's
    recursion bound (the graph's reachable diameter from the seed is
    smaller — verified equal row sets)."""
    from bigdata_retailrocket_recsys_spark.operators.graph import (
        bfs_distances,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.least("a.l_partkey", "b.l_partkey").alias("src"),
            F.greatest("a.l_partkey", "b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )
    return bfs_distances(edges, 1, max_hops=6)


@query("q_dedup_simhash_pairs", oracle=None)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs (operators/dedup.
    simhash_near_pairs): 4-band pigeonhole banding finds EVERY pair
    within Hamming ≤ 3 via exact block-key joins, verified with
    bit_count(xor) — the Manku web-dedup pairing stage next to the
    MinHash-LSH family. xxhash64 signatures → rows-only; the banding
    guarantee and brute-force recall equality are property-tested."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        simhash_near_pairs,
    )

    return simhash_near_pairs(
        _t(spark, sf_dir, "documents"), id_col="doc_id", text_col="text"
    )


@query(
    "q_feature_robust_scale",
    oracle=MAD_CTES_SQL.format(
        id_sel="event_id, ", id_filter=" AND event_id IS NOT NULL"
    )
    + """
    SELECT d.event_id, d.event_type,
           CAST(CASE WHEN md.mad4 = 0 THEN NULL
                     ELSE FLOOR(CAST(2 * (2 * d.c - d.med2) * 1000000
                                     AS DOUBLE)
                                / CAST(md.mad4 AS DOUBLE))
                END AS BIGINT) AS robust_z_u
    FROM dev d JOIN mad md USING (event_type)
    """,
)
def q_feature_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level robust scaling (median/MAD standardization — the
    outlier-insensitive feature-normalization step): building on the
    q_anomaly_mad integer machinery, each row's score
    ``(x − med)/MAD = 2·(2c − med2)/mad4`` is ONE int64 division
    µ-floored (float rule 3) — never a float statistic, so both engines
    emit identical micro-units. MAD = 0 (constant group) yields NULL
    rather than a division error, identically. Ranks ride the SHARDED
    grouped global_rank; facts join the 5-row med/MAD tables broadcast.
    Shares the MAD derivation with q_anomaly_mad via _mad_tables /
    MAD_CTES_SQL — one definition on both engines.
    """
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    f = ev.filter(
        v.isNotNull()
        & ~F.isnan(v)
        & (F.abs(v) != float("inf"))
        & F.col("event_id").isNotNull()
    ).select(
        "event_id",
        "event_type",
        (v.cast("decimal(18,2)") * 100).cast("bigint").alias("c"),
    )
    dev, mad = _mad_tables(f)
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_id",
        "event_type",
        F.when(
            F.col("mad4") == 0, F.lit(None).cast("bigint")
        )
        .otherwise(
            F.floor(
                (F.lit(2) * (F.lit(2) * F.col("c") - F.col("med2"))
                 * 1000000).cast("double")
                / F.col("mad4").cast("double")
            ).cast("bigint")
        )
        .alias("robust_z_u"),
    )


@query(
    "q_stream_dynamic_gap",
    oracle="""
    WITH ev AS (
        SELECT user_id, epoch_us(ts) AS us, event_id,
               CASE WHEN event_type = 'purchase' THEN 3600000000
                    ELSE 1800000000 END AS gap
        FROM events
        WHERE ts IS NOT NULL AND epoch_us(ts) >= 0
          AND user_id IS NOT NULL
    ), o AS (
        SELECT *, MAX(us + gap) OVER (
                      PARTITION BY user_id
                      ORDER BY us ASC NULLS FIRST, event_id ASC NULLS FIRST
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) AS max_end_prev
        FROM ev
    ), flagged AS (
        SELECT *, CASE WHEN max_end_prev IS NULL OR us >= max_end_prev
                       THEN 1 ELSE 0 END AS new_s
        FROM o
    ), s AS (
        SELECT *, SUM(new_s) OVER (
                      PARTITION BY user_id
                      ORDER BY us ASC NULLS FIRST, event_id ASC NULLS FIRST
                      ROWS UNBOUNDED PRECEDING
                  ) AS sid
        FROM flagged
    )
    SELECT user_id, CAST(MIN(us) AS BIGINT) AS start_us,
           CAST(MAX(us + gap) AS BIGINT) AS end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def q_stream_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap streaming sessionization (streaming/sessionize_stream
    .run_streaming_dynamic_gap): per-event gap durations — purchases
    extend the session 60 min, other events 30. The oracle replays the
    interval-union with the running-MAX(ts+gap) islands pattern under
    the identical (ts, event_id) total order; exact µs boundaries and
    counts make the bounded run fully hash-checkable."""
    from bigdata_retailrocket_recsys_spark.streaming.sessionize_stream import (
        run_streaming_dynamic_gap,
    )

    return run_streaming_dynamic_gap(spark, sf_dir)


@query("q_multimodal_features_arrow", oracle=None)
def q_multimodal_features_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow twin of q_multimodal_meta's feature extraction
    (operators/multimodal.extract_media_features_arrow): Arrow
    RecordBatches in/out with no pandas materialization, numpy-vectorized
    byte histogram — the lower-overhead Python boundary for the stage
    the reference would run per-media-file (the 16-UDF-calls shape,
    py:603-622, generalized to binary payloads). Float entropy →
    rows-only; exact equality with the pandas twin (ints bit-equal,
    entropy ≤1e-9) is test-locked."""
    from bigdata_retailrocket_recsys_spark.operators.multimodal import (
        attach_fake_media,
        extract_media_features_arrow,
    )

    docs = _t(spark, sf_dir, "documents")
    assets = attach_fake_media(docs, id_col="doc_id", payload_from="text")
    return extract_media_features_arrow(assets, decode_stub="fake")


@query("q_text_bpe_tokens", oracle=None)
def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic greedy-merge BPE token counts per document
    (operators/text_bpe.bpe_token_counts): the real-tokenizer budget
    unit the whitespace heuristic (q_text_token_count) misprices for
    LLM data. Arrow-batched mapInPandas with the committed merges table
    shipped by closure, per-batch unique-word cache — scan → narrow map,
    no shuffle. Merge-loop semantics (greedy lowest-rank fixpoint) are
    property-locked against the pure-Python reference encoder; Python
    tokenization is not DuckDB-expressible → rows-only."""
    from bigdata_retailrocket_recsys_spark.operators.text_bpe import (
        bpe_token_counts,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    return bpe_token_counts(docs, id_col="doc_id", text_col="text")


@query("q_budget_sample_bpe", oracle=None)
def q_budget_sample_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling charged against REAL BPE counts instead of
    the whitespace heuristic: bpe_token_counts feeds token_budget_sample
    via its n_tokens_col tier (the production LLM-data shape — budget in
    tokenizer tokens, not words). Same content-defined md5 order and
    running-total cut as the oracled q_budget_sample, so the relational
    logic stays covered there; the BPE counts make this entry rows-only.
    Invariants (cut ≤ budget per domain, prefix-closed order) are
    test-locked."""
    from bigdata_retailrocket_recsys_spark.operators.splits import (
        token_budget_sample,
    )
    from bigdata_retailrocket_recsys_spark.operators.text_bpe import (
        bpe_token_counts,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    counts = bpe_token_counts(docs, id_col="doc_id", text_col="text")
    with_counts = docs.join(counts, "doc_id", "inner")
    return token_budget_sample(
        with_counts,
        budget_tokens=3_000,  # ~60% of each domain's ~5k tokens → real cut
        id_col="doc_id",
        text_col="text",
        domain_col="source",
        n_tokens_col="n_bpe_tokens",
    )


def _simhash_md5_oracle(max_hamming: int = 3) -> str:
    """Generated brute-force DuckDB replay of md5-SimHash banded pairs.

    Integer-only end-to-end (hex-nibble bit extraction, ±1 vote sums,
    bit-difference counts), so it is exactly hash-comparable to the
    Spark side; banding + hamming filter ≡ all-pairs + hamming filter
    (pigeonhole, property-locked in test_properties), so the brute
    force here and the banded join there MUST emit identical pair sets."""
    nib = "(instr('0123456789abcdef', substr(hex, {pos}, 1)) - 1)"
    votes = ",\n               ".join(
        "SUM(CASE WHEN (({n} >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS v{j}".format(
            n=nib.format(pos=j // 4 + 1), b=j % 4, j=j
        )
        for j in range(64)
    )
    bits = ",\n               ".join(
        f"CASE WHEN v{j} > 0 THEN 1 ELSE 0 END AS b{j}" for j in range(64)
    )
    ham = "\n                 + ".join(
        f"CASE WHEN a.b{j} <> b.b{j} THEN 1 ELSE 0 END" for j in range(64)
    )
    return f"""
    WITH tok AS (
        SELECT DISTINCT doc_id AS doc,
               unnest(string_split_regex(trim(text), '\\s+')) AS shingle
        FROM documents
    ), h AS (
        SELECT doc, md5(shingle) AS hex FROM tok
    ), votes AS (
        SELECT doc,
               {votes}
        FROM h GROUP BY doc
    ), bits AS (
        SELECT doc,
               {bits}
        FROM votes
    ), pairs AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b,
               {ham} AS hamming
        FROM bits a JOIN bits b ON a.doc < b.doc
    )
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {max_hamming}
    """


@query("q_dedup_simhash_pairs_md5", oracle=_simhash_md5_oracle())
def q_dedup_simhash_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs with the md5-derived signature
    (operators/dedup.simhash_near_pairs, hash_fn='md5') — the
    FULL-ORACLE twin of q_dedup_simhash_pairs (r6 rows-only
    graduation, VERDICT r6 #5):
    md5 hex is bit-identical across Spark and DuckDB, so the whole
    pipeline — nibble bits, ±1 votes, signature, Hamming — replays
    exactly; the oracle brute-forces all pairs (fine at sf0.01) while
    Spark runs the REAL banded plan, and pigeonhole guarantees the two
    emit identical pair sets under max_hamming < n_bands. The xxhash64
    entry stays the scale path (int hashes, half the bytes)."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        simhash_near_pairs,
    )

    return simhash_near_pairs(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        shingle_n=1,
        max_hamming=3,
        n_bands=4,
        hash_fn="md5",
    )


def _lsh_int_oracle(bits: int = 4, dim: int = 64, k: int = 10) -> str:
    """Generated DuckDB replay of the exact-integer sign-LSH top-k:
    identical md5-derived ±1 hyperplanes (hashlib md5 ≡ SQL md5),
    identical floor(v*1e6) quantization, identical NULL/NaN/dim guard —
    every stage integer-exact, so bucket keys, candidates, idot scores,
    and ranks hash-match the Spark plan."""

    def dot(i: int) -> str:
        return (
            "list_sum(list_transform(qv, (x, j) -> CASE WHEN "
            f"substr(md5('{i}:' || CAST(j - 1 AS VARCHAR)), 1, 1) >= '8' "
            "THEN x ELSE -x END))"
        )

    bucket = " + ".join(
        f"(CASE WHEN {dot(i)} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
    WITH clean AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = {dim}
          AND len(list_filter(embedding, x -> x IS NULL
                  OR isnan(CAST(x AS DOUBLE))
                  OR isinf(CAST(x AS DOUBLE)))) = 0
    ), vq AS (
        SELECT vec_id,
               list_transform(e, x -> CAST(floor(x * 1000000.0) AS BIGINT))
                   AS qv
        FROM clean
    ), bucketed AS (
        SELECT vec_id, qv, {bucket} AS bucket FROM vq
    ), q AS (
        SELECT vec_id AS query_id, qv AS qqv, bucket
        FROM bucketed WHERE vec_id < 3
    ), scored AS (
        SELECT q.query_id, c.vec_id,
               CAST(list_sum(list_transform(c.qv, (x, j) -> x * q.qqv[j]))
                    AS BIGINT) AS idot
        FROM bucketed c JOIN q USING (bucket)
        WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, idot, rank FROM (
        SELECT query_id, vec_id, idot,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY idot DESC NULLS LAST,
                                           vec_id ASC NULLS FIRST) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


@query("q_sim_topk_lsh_exactint", oracle=_lsh_int_oracle())
def q_sim_topk_lsh_exactint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed top-k by exact-integer dot product
    (operators/similarity.dot_topk_lsh_int) — the FULL-ORACLE twin of
    q_sim_topk_lsh (r6 rows-only graduation, VERDICT r6 #5): md5-derived
    ±1 hyperplanes and floor(v*1e6) quantization make bucket keys,
    candidate sets, idot scores, and ranks bit-identical across Spark
    and DuckDB. The float-cosine LSH entry stays the production scorer;
    this twin proves the bucketing machinery end-to-end by value hash.
    Degenerate vectors (NULL/NaN/∞ components, wrong dim — all present
    in the advdata fixture) are guarded out identically on both sides."""
    from bigdata_retailrocket_recsys_spark.operators.similarity import (
        dot_topk_lsh_int,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return dot_topk_lsh_int(
        emb, queries, k=10, dim=64, bits=4,
        id_col="vec_id", vec_col="embedding",
    )


def _simhash128_md5_oracle(max_hamming: int = 3) -> str:
    """Generated brute-force DuckDB replay of the 128-bit md5-SimHash
    banded pairs (the :func:`_simhash_md5_oracle` move over the FULL
    digest — md5 is 128 bits, so its 32 nibbles supply every vote bit).
    Integer-only end-to-end; banding + hamming filter ≡ all-pairs +
    hamming filter by pigeonhole (property-locked), so the brute force
    here and Spark's banded join MUST emit identical pair sets.
    Bigram shingles (shingle_n=2), the clamped list_slice pattern."""
    nib = "(instr('0123456789abcdef', substr(hex, {pos}, 1)) - 1)"
    votes = ",\n               ".join(
        "SUM(CASE WHEN (({n} >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS v{j}".format(
            n=nib.format(pos=j // 4 + 1), b=j % 4, j=j
        )
        for j in range(128)
    )
    bits = ",\n               ".join(
        f"CASE WHEN v{j} > 0 THEN 1 ELSE 0 END AS b{j}" for j in range(128)
    )
    # DuckDB binds a left-associated +-chain recursively and caps the
    # depth at 128 — chunk the 128 Hamming terms into four parenthesized
    # 32-term groups (32-deep each) summed at the top
    chunks = []
    for c in range(0, 128, 32):
        terms = " + ".join(
            f"CASE WHEN a.b{j} <> b.b{j} THEN 1 ELSE 0 END"
            for j in range(c, c + 32)
        )
        chunks.append(f"({terms})")
    ham = "\n                 + ".join(chunks)
    return rf"""
    WITH t AS (
        SELECT doc_id AS doc, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc,
               array_to_string(list_slice(toks, st, st + 1), ' ') AS shingle
        FROM (SELECT doc, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 1, 1)))
                         AS st
              FROM t)
    ), h AS (
        SELECT doc, md5(shingle) AS hex FROM sh
    ), votes AS (
        SELECT doc,
               {votes}
        FROM h GROUP BY doc
    ), bits AS (
        SELECT doc,
               {bits}
        FROM votes
    ), pairs AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b,
               {ham} AS hamming
        FROM bits a JOIN bits b ON a.doc < b.doc
    )
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {max_hamming}
    """


@query("q_dedup_simhash128_pairs", oracle=_simhash128_md5_oracle())
def q_dedup_simhash128_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """128-bit SimHash banded near-dup pairs
    (operators/dedup.simhash_near_pairs, bits=128) — the >10M-doc tier:
    the 64-bit signature's 16-bit band keys saturate at ~2^16 docs
    (candidates ≈ N²·bands/2^17, measured in the r7 volume probe), while
    128 signature bits give 32-bit keys at the same n_bands=4 —
    saturation pushed to billions of docs, one extra bigint per row.
    GRADUATED r12 (VERDICT r11 #8, the q_dedup_minhash_persisted
    precedent): runs the md5 bit-source tier (hash_fn='md5' — md5 IS
    128 bits, its 32 nibbles replay every vote in DuckDB), so the whole
    banded chain incl. the word-straddling band keys is value-hashed;
    the xxhash64 tier stays the scale path, its pigeonhole recall vs
    128-bit brute force property-locked (incl. straddling bands)."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        simhash_near_pairs,
    )

    return simhash_near_pairs(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        shingle_n=2,  # bigrams, same discrimination tier as the 64-bit entry
        bits=128,
        max_hamming=3,
        n_bands=4,
        hash_fn="md5",
    )


@query("q_pack_sequences_bpe", oracle=None)
def q_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LLM pretraining packing on REAL tokenizer counts:
    bpe_token_counts → pack_sequences(seq_len=512) — the production
    composition (budget/pack in BPE tokens, not words). The relational
    packing math is oracled via q_pack_sequences (whitespace counts);
    this entry locks the BPE plumbing into the same sharded
    range-partitioned cumsum plan (rows-only: Python-side token counts).
    Tiling invariants (segments tile [0, seq_len) per sequence and
    [0, n_tokens) per doc) are test-locked on the packing operator."""
    from bigdata_retailrocket_recsys_spark.operators.features import (
        pack_sequences,
    )
    from bigdata_retailrocket_recsys_spark.operators.text_bpe import (
        bpe_token_counts,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    counts = bpe_token_counts(docs, id_col="doc_id", text_col="text")
    return pack_sequences(
        counts.filter(F.col("n_bpe_tokens") > 0),
        id_col="doc_id",
        n_tokens_col="n_bpe_tokens",
        seq_len=512,
    )


@query(
    "q_sim_topk_int8",
    oracle="""
    WITH ok AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
          AND len(embedding) = 64
          AND len(list_filter(embedding,
                  x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
    ), v AS (
        SELECT vec_id, d, CAST(embedding[d] AS DOUBLE) AS val
        FROM (SELECT vec_id, embedding,
                     unnest(generate_series(1, 64)) AS d
              FROM ok)
    ), s AS (
        SELECT MAX(ABS(val)) AS sc FROM v
    ), codes AS (
        SELECT vec_id, d AS dim,
               CAST(CASE WHEN sc = 0 THEN 0
                         ELSE FLOOR(val / sc * 127.0)
                    END AS BIGINT) AS code
        FROM v, s
    ), qc AS (
        SELECT vec_id AS query_id, dim, code AS qcode
        FROM codes WHERE vec_id < 3
    ), scored AS (
        SELECT q.query_id, c.vec_id,
               CAST(SUM(c.code * q.qcode) AS BIGINT) AS idot8
        FROM codes c JOIN qc q ON c.dim = q.dim AND c.vec_id <> q.query_id
        GROUP BY q.query_id, c.vec_id
    )
    SELECT query_id, vec_id, idot8, CAST(rn AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id
              ORDER BY idot8 DESC, vec_id ASC) AS rn
          FROM scored)
    WHERE rn <= 10
    """,
)
def q_sim_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k search IN THE QUANTIZED DOMAIN (operators/similarity.
    dot_topk_int8): exact integer dot products over SYMMETRIC int8 codes
    (code = floor(v/s·127), one global scale s = max|v|) — monotone in
    the true dot, so ranks survive the 4× compression; recall@10 vs
    exact cosine is locked in the unit test. The per-dim MIN-MAX codes
    (q_vector_quantize) are the storage tier and are deliberately
    NOT used for scoring — their additive shift ranks by component sums
    (measured recall ≈ 0; the split is the documented lesson). Queries
    are corpus members (vec_id < 3); non-finite/wrong-width vectors
    guarded out identically on both engines."""
    from bigdata_retailrocket_recsys_spark.operators.similarity import (
        dot_topk_int8,
    )

    return dot_topk_int8(
        _t(spark, sf_dir, "embeddings"), [0, 1, 2], k=10, dim=64
    )


@query(
    "q_corpus_snapshot_diff",
    oracle="""
    WITH old AS (
        SELECT doc_id, text, lang, source FROM documents
        WHERE doc_id IS NOT NULL
    ), newsnap AS (
        SELECT doc_id,
               CASE WHEN doc_id % 101 = 7 THEN text || ' v2' ELSE text END
                   AS text,
               lang, source
        FROM old WHERE doc_id % 97 <> 3
        UNION ALL
        SELECT doc_id + 100000, text, lang, source
        FROM old WHERE doc_id % 251 = 11
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN (o.text IS DISTINCT FROM n.text)
                  OR (o.lang IS DISTINCT FROM n.lang)
                  OR (o.source IS DISTINCT FROM n.source) THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM old o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id
    """,
)
def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-grain corpus snapshot diff (operators/quality.snapshot_diff): the
    maintenance primitive behind incremental reprocessing — which
    documents must re-embed/re-dedup after this crawl. The second
    snapshot is derived deterministically (drop doc_id%97=3, append
    ' v2' to text of doc_id%101=7, add id+100000 copies of doc_id%251=11)
    so both engines diff the identical pair. The engine compares 16-byte
    content digests built from fixed-width per-column fields (md5(value)
    + presence bit — injective for any content, no separator to forge);
    the oracle compares columns with IS DISTINCT FROM — equal verdicts
    prove the digest is injective over the edge cases (NULL vs '' vs
    NUL/\\x01 bytes on advdata)."""
    from bigdata_retailrocket_recsys_spark.operators.quality import (
        snapshot_diff,
    )

    old = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    ).filter(F.col("doc_id").isNotNull())
    new = (
        old.filter(F.col("doc_id") % 97 != 3)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 101 == 7,
                F.concat(F.col("text"), F.lit(" v2")),
            ).otherwise(F.col("text")),
        )
        .unionByName(
            old.filter(F.col("doc_id") % 251 == 11).withColumn(
                "doc_id", F.col("doc_id") + 100000
            )
        )
    )
    return snapshot_diff(
        old, new, key_cols=["doc_id"], compare_cols=["text", "lang", "source"]
    )


@query(
    "q_dedup_substring_spans",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ), sp AS (
        SELECT doc_id, st - 1 AS s,
               array_to_string(list_slice(toks, st, st + 4), ' ') AS span
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks) - 4)) AS st
              FROM t WHERE len(toks) >= 5)
    ), dup AS (
        SELECT span FROM sp GROUP BY span HAVING COUNT(*) >= 2
    ), st2 AS (
        SELECT doc_id, s,
               s - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s ASC)
                   AS grp
        FROM sp WHERE span IN (SELECT span FROM dup)
    )
    SELECT doc_id, CAST(MIN(s) AS BIGINT) AS span_start,
           CAST(MAX(s) - MIN(s) + 5 AS BIGINT) AS span_len
    FROM st2 GROUP BY doc_id, grp
    """,
)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication finder (operators/dedup.
    duplicated_spans — the Lee et al. 2022 "Deduplicating Training Data"
    pass at token grain): every MAXIMAL span whose every 5-gram occurs
    ≥2 times in the corpus, i.e. what an exact-substring dedup cuts out
    of training text. Duplicated n-gram starts → per-doc gaps-and-islands
    (start − row_number) → one aggregate per island; the n-gram hash
    join replaces the suffix array (which has no bounded-shuffle form).
    Start/len are exact integers → fully hashed."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        duplicated_spans,
    )

    return duplicated_spans(
        _t(spark, sf_dir, "documents"), n=5, min_occurrences=2
    )


@query(
    "q_k_anonymity",
    oracle="""
    WITH b AS (
        SELECT event_id, event_type, strftime(ts, '%Y-%m-%d') AS day_str
        FROM events
    ), g AS (
        SELECT *, COUNT(*) OVER (PARTITION BY event_type, day_str)
                      AS k_group_n
        FROM b
    )
    SELECT event_id, event_type, day_str,
           CAST(k_group_n AS BIGINT) AS k_group_n
    FROM g WHERE k_group_n >= 60
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release gate (operators/quality.enforce_k_anonymity):
    rows whose (event_type, day) quasi-identifier combination has fewer
    than k=60 rows are SUPPRESSED before export (a proper subset at the
    driver SF: group sizes span 47-86 there) — small groups
    re-identify individuals. One frameless count window on the quasi key
    + a filter; surviving rows and their group sizes are hashed. NULL
    quasi values form their own (suppressible) group on both engines;
    the day is an ISO string (DATE is outside the stringify-safe type
    pairs)."""
    from bigdata_retailrocket_recsys_spark.operators.quality import (
        enforce_k_anonymity,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day_str"),
    )
    return enforce_k_anonymity(
        ev, quasi_cols=["event_type", "day_str"], k=60
    )


@query(
    "q_epoch_shuffle",
    oracle="""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
               ORDER BY md5('3:' || CAST(doc_id AS VARCHAR)) ASC,
                        doc_id ASC) AS BIGINT) AS shuffle_pos
    FROM documents WHERE doc_id IS NOT NULL
    """,
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training-order shuffle (operators/splits.
    epoch_shuffle, epoch=3): position = rank of md5(epoch:id) —
    content-defined, reproducible, completely re-ordered each epoch, no
    RNG state to checkpoint. The global rank rides the SHARDED
    global_rank (range-partition by hash + per-shard row_number +
    broadcast offsets — no single-reducer window at any corpus size);
    the oracle is the plain ROW_NUMBER it must equal."""
    from bigdata_retailrocket_recsys_spark.operators.splits import (
        epoch_shuffle,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return epoch_shuffle(docs, 3, id_col="doc_id")


@query(
    "q_retrieval_rrf",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        FROM documents
    ), tok2 AS (SELECT * FROM tok WHERE term <> ''),
    dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dl
        FROM tok2 GROUP BY doc_id
    ), st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_dl) AS BIGINT) AS tot_dl FROM dl
    ), tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS n_tf
        FROM tok2 WHERE term IN ('join', 'hash', 'spark')
        GROUP BY doc_id, term
    ), dfq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS n_df FROM tf GROUP BY term
    ), cb AS (
        SELECT doc_id, {{contrib}} AS u
        FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
    ), lex AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25_u DESC, doc_id ASC) AS r
        FROM (SELECT doc_id, CAST(SUM(u) AS BIGINT) AS bm25_u
              FROM cb GROUP BY doc_id
              ORDER BY bm25_u DESC NULLS LAST, doc_id ASC LIMIT 20)
    ), ok AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
          AND len(embedding) = 64
          AND len(list_filter(embedding,
                  x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
    ), v AS (
        SELECT vec_id, d, CAST(embedding[d] AS DOUBLE) AS val
        FROM (SELECT vec_id, embedding,
                     unnest(generate_series(1, 64)) AS d
              FROM ok)
    ), s AS (SELECT MAX(ABS(val)) AS sc FROM v),
    codes AS (
        SELECT vec_id, d AS dim,
               CAST(CASE WHEN sc = 0 THEN 0
                         ELSE FLOOR(val / sc * 127.0) END AS BIGINT) AS code
        FROM v, s
    ), qc AS (
        SELECT dim, code AS qcode FROM codes WHERE vec_id = 0
    ), dots AS (
        SELECT c.vec_id, CAST(SUM(c.code * q.qcode) AS BIGINT) AS idot8
        FROM codes c JOIN qc q ON c.dim = q.dim
        WHERE c.vec_id <> 0
        GROUP BY c.vec_id
    ), vec AS (
        SELECT vec_id AS doc_id, rn AS r
        FROM (SELECT vec_id, ROW_NUMBER() OVER (
                  ORDER BY idot8 DESC, vec_id ASC) AS rn FROM dots)
        WHERE rn <= 20
    ), u AS (
        SELECT doc_id, r FROM lex
        UNION ALL
        SELECT doc_id, r FROM vec
    ), f AS (
        SELECT doc_id,
               CAST(SUM(CAST(FLOOR(1000000000000.0
                                   / (60.0 + CAST(r AS DOUBLE)))
                             AS BIGINT)) AS BIGINT) AS rrf_u,
               CAST(COUNT(*) AS BIGINT) AS n_towers
        FROM u GROUP BY doc_id
    )
    SELECT doc_id, rrf_u, n_towers,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf_u DESC, doc_id ASC) AS INT)
               AS fused_rank
    FROM f
    ORDER BY rrf_u DESC, doc_id ASC LIMIT 10
    """.format(contrib=_BM25_ORACLE_CONTRIB),
)
def q_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval via reciprocal-rank fusion (operators/similarity.
    rrf_fuse): a lexical BM25 tower (3-term query, µ-floored bigint
    scores) and a vector tower (symmetric-int8 exact-integer dots,
    query = embedding 0) each produce a top-20; fused score =
    Σ floor(1e12/(60+rank)) — rank-based, so the towers' incomparable
    raw scores fuse without calibration, and everything stays exact
    integer arithmetic end-to-end (fully value-hashed). The fixture's
    embeddings.vec_id ≡ documents.doc_id (parallel tables) is the
    shared id space a real hybrid store maintains by construction."""
    from bigdata_retailrocket_recsys_spark.operators.similarity import (
        dot_topk_int8,
        rrf_fuse,
    )
    from bigdata_retailrocket_recsys_spark.operators.text import bm25_scores
    from pyspark.sql import Window

    lex = bm25_scores(
        _t(spark, sf_dir, "documents"), ["join", "hash", "spark"], top_k=20
    ).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25_u").desc(), F.col("doc_id").asc()))
        .alias("rank"),
    )
    vec = dot_topk_int8(
        _t(spark, sf_dir, "embeddings"), [0], k=20, dim=64
    ).select(F.col("vec_id").alias("doc_id"), "rank")
    return rrf_fuse([lex, vec], id_col="doc_id", k_const=60, top_k=10)


@query(
    "q_dedup_minhash_md5",
    oracle=r"""
    WITH sh AS (
        SELECT doc_id AS doc,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS s
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM documents
                    WHERE text IS NOT NULL AND doc_id IS NOT NULL))
    ), sig AS (
        SELECT doc, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS h
        FROM sh, (SELECT unnest(generate_series(0, 15)) AS j)
        GROUP BY doc, j
    ), band AS (
        SELECT doc, j // 4 AS band,
               md5(string_agg(h, '_' ORDER BY j ASC)) AS bucket
        FROM sig GROUP BY doc, j // 4
    )
    SELECT a.doc AS doc_a, b.doc AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_bands
    FROM band a JOIN band b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
    GROUP BY a.doc, b.doc
    """,
)
def q_dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5-MinHash FULL-ORACLE twin of q_dedup_minhash (the md5 SimHash
    move, r7): per seed j the shingle hash is ``md5('j:' || shingle)``
    and the per-seed min is the LEXICOGRAPHIC min of fixed-width hex —
    deterministic on any engine, so the entire shingle → signature →
    band-bucket → candidate-pair chain is value-hashed against DuckDB
    (the xxhash64 entry stays the scale tier; this proves the banding
    MACHINERY at value level, not just by property). Same one-shuffle
    signature aggregation and cached banded self-join as the main entry
    (operators/dedup.minhash_lsh_candidates, hash_fn='md5')."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    return minhash_lsh_candidates(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull()),
        id_col="doc_id",
        text_col="text",
        shingle_n=3,
        num_hashes=16,
        bands=4,
        hash_fn="md5",
    )


@query(
    "q_dedup_winnowing",
    oracle=r"""
    WITH base AS (
        SELECT doc_id AS doc, string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ), g AS (
        SELECT doc, st - 1 AS pos,
               md5(array_to_string(list_slice(toks, st, st + 2), ' ')) AS h
        FROM (SELECT doc, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM base)
    ), n AS (
        SELECT doc, COUNT(*) AS npos FROM g GROUP BY doc
    ), wnd AS (
        SELECT g.doc, g.pos, g.h, w.j
        FROM g JOIN n USING (doc),
             LATERAL (SELECT unnest(generate_series(
                 GREATEST(g.pos - 3, 0),
                 LEAST(g.pos, GREATEST(n.npos - 4, 0)))) AS j) w
    ), pick AS (
        SELECT DISTINCT doc, h FROM (
            SELECT doc, pos, h, ROW_NUMBER() OVER (
                PARTITION BY doc, j ORDER BY h ASC, pos DESC) AS rn
            FROM wnd) WHERE rn = 1
    ), cnt AS (
        SELECT doc, COUNT(*) AS nf FROM pick GROUP BY doc
    ), pr AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM pick a JOIN pick b ON a.h = b.h AND a.doc < b.doc
        GROUP BY a.doc, b.doc HAVING COUNT(*) >= 2
    )
    SELECT pr.doc_a, pr.doc_b, pr.n_common,
           CAST(ca.nf AS BIGINT) AS n_a, CAST(cb.nf AS BIGINT) AS n_b
    FROM pr JOIN cnt ca ON ca.doc = pr.doc_a
    JOIN cnt cb ON cb.doc = pr.doc_b
    """,
)
def q_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint near-dup pairs (operators/dedup
    .winnowing_pairs — Schleimer et al. 2003, the MOSS algorithm; r13):
    k-gram md5 hashes → sliding w-window rightmost-min selection
    (expected density 2/(w+1), guarantee: any shared passage ≥ w+k-1
    tokens shares a fingerprint) → pairs sharing ≥2 selected hashes
    with per-doc fingerprint counts. The POSITION-AWARE fourth
    fingerprint tier next to MinHash/SimHash/spans — local overlap
    detection that set-grain resemblance dilutes away on long docs.
    md5 is the oracle tier (lexicographic hex min replays in DuckDB via
    the same window explode); xxhash64 stays the scale tier
    (unit-locked against the naive reference)."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        winnowing_pairs,
    )

    return winnowing_pairs(
        _t(spark, sf_dir, "documents"),
        k=3,
        w=4,
        hash_fn="md5",
        min_common=2,
    )


@query(
    "q_dedup_winnowing_vs_corpus",
    oracle=r"""
    WITH base AS (
        SELECT doc_id AS doc, ((doc_id % 3) + 3) % 3 AS m,
               string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ), g AS (
        SELECT doc, m, st - 1 AS pos,
               md5(array_to_string(list_slice(toks, st, st + 2), ' ')) AS h
        FROM (SELECT doc, m, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM base)
    ), n AS (
        SELECT doc, COUNT(*) AS npos FROM g GROUP BY doc
    ), wnd AS (
        SELECT g.doc, g.m, g.pos, g.h, w.j
        FROM g JOIN n USING (doc),
             LATERAL (SELECT unnest(generate_series(
                 GREATEST(g.pos - 3, 0),
                 LEAST(g.pos, GREATEST(n.npos - 4, 0)))) AS j) w
    ), pick AS (
        SELECT DISTINCT doc, m, h FROM (
            SELECT doc, m, pos, h, ROW_NUMBER() OVER (
                PARTITION BY doc, j ORDER BY h ASC, pos DESC) AS rn
            FROM wnd) WHERE rn = 1
    ), cnt AS (
        SELECT doc, COUNT(*) AS nf FROM pick GROUP BY doc
    ), pr AS (
        SELECT b.doc AS batch_doc, c.doc AS corpus_doc,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM pick b JOIN pick c ON b.h = c.h AND b.m = 0 AND c.m != 0
        GROUP BY b.doc, c.doc
    )
    SELECT pr.batch_doc, pr.corpus_doc, pr.n_common,
           CAST(ca.nf AS BIGINT) AS n_batch,
           CAST(cb.nf AS BIGINT) AS n_corpus
    FROM pr JOIN cnt ca ON ca.doc = pr.batch_doc
    JOIN cnt cb ON cb.doc = pr.corpus_doc
    WHERE CAST(pr.n_common AS DOUBLE) /
          (ca.nf + cb.nf - pr.n_common) >= 0.5
    """,
)
def q_dedup_winnowing_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL winnowing dedup — batch vs the persisted fingerprint
    table (operators/dedup.winnowing_fingerprint_table +
    jaccard_pairs_vs_corpus; r13, completing the winnowing tier's
    daily-delta half the way every other grain has one): the day-0
    corpus (doc_id ≢ 0 mod 3) winnows its text ONCE into an at-rest
    (doc, pos, fp) table; the day-1 batch (≡ 0) winnows itself and is
    compared against the artifact by exact bipartite fingerprint
    Jaccard — corpus TEXT is never re-read, the comparison reads only
    fingerprint rows. Output keeps the integer columns (n_common /
    n_batch / n_corpus) with the ≥0.5 Jaccard filter applied through
    ONE IEEE division over exact counts (the established
    cross-engine-deterministic form). 10-14 genuine cross-increment
    near-dup pairs survive on every fixture (measured) — both filter
    branches are exercised."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        jaccard_pairs_vs_corpus,
        winnowing_fingerprint_table,
        winnowing_fingerprints,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    m = F.pmod(F.col("doc_id"), F.lit(3))
    corpus = docs.filter(m != 0)
    batch = docs.filter(m == 0)
    path = session_scratch(spark, "winnow_fp_table")
    winnowing_fingerprint_table(corpus, path, k=3, w=4, hash_fn="md5")
    bfp = (
        winnowing_fingerprints(batch, k=3, w=4, hash_fn="md5")
        .select("doc", "fp")
        .distinct()
    )
    cfp = spark.read.parquet(path).select("doc", "fp").distinct()
    return jaccard_pairs_vs_corpus(
        bfp, cfp, id_col="doc", shingle_col="fp", min_jaccard=0.5
    ).select("batch_doc", "corpus_doc", "n_common", "n_batch", "n_corpus")


@query(
    "q_dedup_winnowing_apply",
    oracle=r"""
    WITH RECURSIVE base AS (
        SELECT doc_id AS doc, string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ), g AS (
        SELECT doc, st - 1 AS pos,
               md5(array_to_string(list_slice(toks, st, st + 2), ' ')) AS h
        FROM (SELECT doc, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM base)
    ), n AS (
        SELECT doc, COUNT(*) AS npos FROM g GROUP BY doc
    ), wnd AS (
        SELECT g.doc, g.pos, g.h, w.j
        FROM g JOIN n USING (doc),
             LATERAL (SELECT unnest(generate_series(
                 GREATEST(g.pos - 3, 0),
                 LEAST(g.pos, GREATEST(n.npos - 4, 0)))) AS j) w
    ), pick AS (
        SELECT DISTINCT doc, h FROM (
            SELECT doc, pos, h, ROW_NUMBER() OVER (
                PARTITION BY doc, j ORDER BY h ASC, pos DESC) AS rn
            FROM wnd) WHERE rn = 1
    ), pr AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b
        FROM pick a JOIN pick b ON a.h = b.h AND a.doc < b.doc
        GROUP BY a.doc, b.doc HAVING COUNT(*) >= 2
    ), edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pr
        UNION SELECT doc_b, doc_a FROM pr
    ), reach(s, d) AS (
        SELECT doc_id, doc_id FROM documents WHERE doc_id IS NOT NULL
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ), clusters AS (
        SELECT s AS doc_id, MIN(d) AS cluster_id FROM reach GROUP BY s
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
    WHERE c.doc_id = c.cluster_id
    """,
)
def q_dedup_winnowing_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-tier APPLY (r13 — completes detect→cluster→keep for
    the fourth fingerprint family, the q_dedup_apply /
    q_dedup_embed_apply composition at the winnowing grain): MOSS pairs
    sharing ≥2 selected md5 fingerprints → connected components →
    canonical min-id keeper per cluster → surviving corpus. Docs with
    no fingerprints in common (including NULL-text docs, which have no
    fingerprints at all) are singleton clusters and survive. ONE
    recursive-CTE chain replays winnow → pair → closure → keeper."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        connected_components,
        winnowing_pairs,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    edges = winnowing_pairs(
        docs, k=3, w=4, hash_fn="md5", min_common=2
    ).select("doc_a", "doc_b")
    # r14: loser anti-join over endpoint-only CC labels (see
    # q_dedup_apply) — docs is already NULL-id-filtered above.
    cc = connected_components(
        None, edges, node_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    losers = cc.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    return docs.join(losers, "doc_id", "left_anti").select(
        "doc_id", "source"
    )


@query(
    "q_text_strip_boilerplate",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ), tok AS (
        SELECT doc_id, p, toks[p] AS t
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks))) AS p
              FROM base)
    ), spans AS (
        SELECT doc_id, p AS s,
               array_to_string(list_slice(toks, p, p + 4), ' ') AS span
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks) - 4)) AS p
              FROM base WHERE len(toks) >= 5)
    ), prev AS (
        SELECT span FROM spans
        GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 3
    ), cov AS (
        SELECT DISTINCT doc_id, s + d AS p
        FROM (SELECT doc_id, s FROM spans
              WHERE span IN (SELECT span FROM prev)),
             (SELECT unnest(generate_series(0, 4)) AS d)
    ), kept AS (
        SELECT t.doc_id, t.p, t.t
        FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
        WHERE c.p IS NULL
    ), agg AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(t, ' ' ORDER BY p ASC) AS text_clean
        FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(len(b.toks) AS BIGINT) AS n_tokens,
           CAST(len(b.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.text_clean, '') AS text_clean
    FROM base b LEFT JOIN agg a USING (doc_id)
    """,
)
def q_text_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate REMOVAL (operators/text.
    strip_boilerplate) — the cleaning half of q_text_boilerplate's
    detection: tokens covered by any 5-gram span shared verbatim by ≥3
    documents are dropped and each doc is rebuilt in original token
    order (RefinedWeb/CCNet repeated-content strip at token-span grain).
    Pure relational: posexplode → lead-window spans → prevalence count →
    semi-join → covered-position explode (overlaps union via distinct) →
    anti-join → sort_array rebuild. The cleaned TEXT itself is hashed —
    any off-by-one in span coverage or token order breaks the oracle."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        strip_boilerplate,
    )

    return strip_boilerplate(
        _t(spark, sf_dir, "documents"), n=5, min_rows=3
    )


@query(
    "q_corpus_pipeline",
    headline=True,
    oracle=r"""
    WITH base AS (
        SELECT doc_id, text, source FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), qf AS (
        SELECT doc_id, text, source,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                   AS n_toks,
               CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9_ \t\n]'))
                   AS DOUBLE) AS n_punct,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                   AS n_digit
        FROM base
    ), gated AS (
        SELECT doc_id, text, source FROM qf
        WHERE (LEAST(n_toks / 64.0, 1.0) * 0.5
               + (1.0 - LEAST(n_punct / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25
               + (1.0 - LEAST(n_digit / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25) >= 0.5
          AND n_toks >= 5.0
    ), keepers AS (
        SELECT MIN(doc_id) AS doc_id
        FROM (SELECT doc_id,
                     md5(trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS dk
              FROM gated)
        GROUP BY dk
    ), train AS (
        SELECT g.doc_id, g.text, g.source
        FROM gated g JOIN keepers k USING (doc_id)
        WHERE g.source IS NULL OR g.source <> 'src0'
    ), ev_sh AS (
        SELECT DISTINCT array_to_string(list_slice(toks, st, st + 2), ' ')
                   AS shingle
        FROM (SELECT toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT string_split_regex(trim(text), '\s+') AS toks
                    FROM base WHERE source = 'src0'))
    ), tr_sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS shingle
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM train))
    ), cont AS (
        SELECT doc_id, COUNT(*) AS n_sh,
               SUM(CASE WHEN shingle IN (SELECT shingle FROM ev_sh)
                        THEN 1 ELSE 0 END) AS n_hit
        FROM tr_sh GROUP BY doc_id
    ), clean AS (
        SELECT t.doc_id, t.text, t.source
        FROM train t JOIN cont c USING (doc_id)
        WHERE c.n_hit * 2 < c.n_sh
    ), toks AS (
        SELECT doc_id, source AS domain,
               CAST(len(list_filter(
                   string_split_regex(trim(lower(text)), '\s+'),
                   t -> t <> '')) AS BIGINT) AS n_tok,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM clean
    ), cum AS (
        SELECT doc_id, domain, n_tok,
               CAST(SUM(n_tok) OVER (
                   PARTITION BY domain ORDER BY h ASC, doc_id ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
        FROM toks
    )
    SELECT doc_id, domain, n_tok, cum_tok FROM cum WHERE cum_tok <= 700
    """,
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END pretraining-corpus construction — the composition a
    reference user would actually run, as ONE fully-oracled query:

      quality gate → exact dedup (normalized text) → benchmark
      decontamination (3-gram containment vs the eval split) →
      per-domain token-budget cut

    Stage shapes (each individually oracled elsewhere): the quality gate
    is a zero-exchange narrow filter (quality_filter — no feature-table
    join-back); exact dedup shuffles 16-byte md5 digests of NORMALIZED
    text and keeps keeper ids via left-semi; decontamination is one
    corpus-wide distinct-shingle set semi-joined per train doc
    (contamination_check with the eval split as the reference side);
    the budget cut is the md5-content-ordered greedy head per domain
    (token_budget_sample, range-sharded window at scale). At 100 TB each
    arrow would be a persisted table boundary (checkpoint between
    stages); here the twice-referenced frames are .cache()d per the S7
    discipline (Spark never reuses a twice-referenced exchange).
    Eval docs (source='src0') are excluded from the output corpus by
    construction; NULL-source docs stay and form their own budget pool.
    Composition lives in pipelines/corpus.build_corpus — shared with the
    volume probe so the probed plan IS the shipped plan."""
    from bigdata_retailrocket_recsys_spark.pipelines.corpus import (
        build_corpus,
    )

    return build_corpus(
        _t(spark, sf_dir, "documents"),
        eval_source="src0",
        budget_tokens=700,
    )


@query(
    "q_dedup_substring_apply",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ), tok AS (
        SELECT doc_id, p - 1 AS p, toks[p] AS t
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks))) AS p
              FROM base)
    ), sp AS (
        SELECT doc_id, st - 1 AS s,
               array_to_string(list_slice(toks, st, st + 4), ' ') AS span
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks) - 4)) AS st
              FROM base WHERE len(toks) >= 5)
    ), dup AS (
        SELECT span FROM sp GROUP BY span HAVING COUNT(*) >= 2
    ), st2 AS (
        SELECT doc_id, s,
               s - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s ASC)
                   AS grp
        FROM sp WHERE span IN (SELECT span FROM dup)
    ), isl AS (
        SELECT doc_id, MIN(s) AS span_start,
               MAX(s) - MIN(s) + 5 AS span_len
        FROM st2 GROUP BY doc_id, grp
    ), cov AS (
        SELECT doc_id,
               unnest(generate_series(span_start,
                                      span_start + span_len - 1)) AS p
        FROM isl
    ), kept AS (
        SELECT t.doc_id, t.p, t.t
        FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
        WHERE c.p IS NULL
    ), agg AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(t, ' ' ORDER BY p ASC) AS text_clean
        FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(len(b.toks) AS BIGINT) AS n_tokens,
           CAST(len(b.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.text_clean, '') AS text_clean
    FROM base b LEFT JOIN agg a USING (doc_id)
    """,
)
def q_dedup_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication REMOVAL (operators/dedup.
    strip_duplicated_spans) — the cutting half of q_dedup_substring_spans:
    every token inside a maximal duplicated span (every 5-gram occurring
    >=2 times corpus-wide, Lee et al. 2022) is cut and the document is
    rebuilt from the survivors in original order. Composes directly on
    duplicated_spans' island output (covered positions = one sequence
    explode), so detection and removal can never disagree. The cleaned
    TEXT itself is hashed — any off-by-one in island arithmetic or token
    order breaks the oracle. Engine shuffles xxhash64 n-gram keys; the
    oracle groups raw strings (a 64-bit collision would surface here as
    a hash mismatch)."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        strip_duplicated_spans,
    )

    return strip_duplicated_spans(
        _t(spark, sf_dir, "documents"), n=5, min_occurrences=2
    )


@query(
    "q_corpus_pipeline_neardup",
    headline=True,
    oracle=r"""
    WITH RECURSIVE base AS (
        SELECT doc_id, text, source FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), qf AS (
        SELECT doc_id, text, source,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                   AS n_toks,
               CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9_ \t\n]'))
                   AS DOUBLE) AS n_punct,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                   AS n_digit
        FROM base
    ), gated AS (
        SELECT doc_id, text, source FROM qf
        WHERE (LEAST(n_toks / 64.0, 1.0) * 0.5
               + (1.0 - LEAST(n_punct / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25
               + (1.0 - LEAST(n_digit / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25) >= 0.5
          AND n_toks >= 5.0
    ), ekeep AS (
        SELECT MIN(doc_id) AS doc_id
        FROM (SELECT doc_id,
                     md5(trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS dk
              FROM gated)
        GROUP BY dk
    ), train AS (
        SELECT g.doc_id, g.text, g.source
        FROM gated g JOIN ekeep k USING (doc_id)
        WHERE g.source IS NULL OR g.source <> 'src0'
    ), msh AS (
        SELECT doc_id AS doc,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS s
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM train))
    ), sig AS (
        SELECT doc, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS h
        FROM msh, (SELECT unnest(generate_series(0, 15)) AS j)
        GROUP BY doc, j
    ), band AS (
        SELECT doc, j // 4 AS band,
               md5(string_agg(h, '_' ORDER BY j ASC)) AS bucket
        FROM sig GROUP BY doc, j // 4
    ), cand AS (
        SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        FROM band a JOIN band b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
    ), vsh AS (
        SELECT DISTINCT doc, s FROM msh
    ), vsizes AS (
        SELECT doc, COUNT(*) AS n_sh FROM vsh GROUP BY doc
    ), vcommon AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c JOIN vsh a ON a.doc = c.doc_a
                    JOIN vsh b ON b.doc = c.doc_b AND a.s = b.s
        GROUP BY c.doc_a, c.doc_b
    ), pairs AS (
        SELECT doc_a, doc_b FROM vcommon
        JOIN vsizes sa ON sa.doc = doc_a
        JOIN vsizes sb ON sb.doc = doc_b
        WHERE CAST(n_common AS DOUBLE)
                  / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
    ), edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ), reach(s, d) AS (
        SELECT doc_id, doc_id FROM train
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ), clusters AS (
        SELECT s AS doc_id, MIN(d) AS cluster_id FROM reach GROUP BY s
    ), kept AS (
        SELECT t.doc_id, t.text, t.source
        FROM train t JOIN clusters c USING (doc_id)
        WHERE c.doc_id = c.cluster_id
    ), kbase AS (
        SELECT doc_id, source,
               string_split_regex(trim(text), '\s+') AS toks
        FROM kept
    ), ktok AS (
        SELECT doc_id, p - 1 AS p, toks[p] AS t
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks))) AS p
              FROM kbase)
    ), ksp AS (
        SELECT doc_id, st - 1 AS s2,
               array_to_string(list_slice(toks, st, st + 4), ' ') AS span
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks) - 4)) AS st
              FROM kbase WHERE len(toks) >= 5)
    ), kdup AS (
        SELECT span FROM ksp GROUP BY span HAVING COUNT(*) >= 2
    ), kst2 AS (
        SELECT doc_id, s2,
               s2 - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s2 ASC)
                   AS grp
        FROM ksp WHERE span IN (SELECT span FROM kdup)
    ), kisl AS (
        SELECT doc_id, MIN(s2) AS span_start,
               MAX(s2) - MIN(s2) + 5 AS span_len
        FROM kst2 GROUP BY doc_id, grp
    ), kcov AS (
        SELECT DISTINCT doc_id,
               unnest(generate_series(span_start,
                                      span_start + span_len - 1)) AS p
        FROM kisl
    ), kkept AS (
        SELECT t.doc_id, t.p, t.t
        FROM ktok t LEFT JOIN kcov c ON t.doc_id = c.doc_id AND t.p = c.p
        WHERE c.p IS NULL
    ), kagg AS (
        SELECT doc_id, string_agg(t, ' ' ORDER BY p ASC) AS text_clean
        FROM kkept GROUP BY doc_id
    ), cleaned AS (
        SELECT b.doc_id, COALESCE(a.text_clean, '') AS text, b.source
        FROM kbase b LEFT JOIN kagg a USING (doc_id)
        WHERE COALESCE(a.text_clean, '') <> ''
    ), ev_sh AS (
        SELECT DISTINCT array_to_string(list_slice(toks, st, st + 2), ' ')
                   AS shingle
        FROM (SELECT toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT string_split_regex(trim(text), '\s+') AS toks
                    FROM base WHERE source = 'src0'))
    ), tr_sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS shingle
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM cleaned))
    ), cont AS (
        SELECT doc_id, COUNT(*) AS n_sh,
               SUM(CASE WHEN shingle IN (SELECT shingle FROM ev_sh)
                        THEN 1 ELSE 0 END) AS n_hit
        FROM tr_sh GROUP BY doc_id
    ), clean2 AS (
        SELECT t.doc_id, t.text, t.source
        FROM cleaned t JOIN cont c USING (doc_id)
        WHERE c.n_hit * 2 < c.n_sh
    ), toks2 AS (
        SELECT doc_id, source AS domain,
               CAST(len(list_filter(
                   string_split_regex(trim(lower(text)), '\s+'),
                   t -> t <> '')) AS BIGINT) AS n_tok,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM clean2
    ), cum AS (
        SELECT doc_id, domain, n_tok,
               CAST(SUM(n_tok) OVER (
                   PARTITION BY domain ORDER BY h ASC, doc_id ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
        FROM toks2
    )
    SELECT doc_id, domain, n_tok, cum_tok FROM cum WHERE cum_tok <= 700
    """,
)
def q_corpus_pipeline_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL RefinedWeb/FineWeb-shape corpus pipeline as one oracled
    query — q_corpus_pipeline with the two near-duplicate stages ON:

      quality gate → exact dedup → MinHash-LSH candidates (md5 tier, 16
      hashes / 4 bands) → exact-Jaccard verification (≥0.5 over distinct
      3-gram sets) → connected components → one canonical keeper per
      cluster → exact-substring span REMOVAL (Lee et al. 5-grams, ≥2
      occurrences — downstream stages run on the CLEANED text, emptied
      docs dropped) → 3-gram decontamination vs the eval split →
      per-domain token-budget cut

    Every stage is an individually-oracled operator (q_dedup_minhash_md5,
    q_dedup_clusters, q_dedup_substring_apply, q_corpus_pipeline); this
    entry hash-checks their COMPOSITION end-to-end through one DuckDB
    recursive-CTE chain — including that span duplication is recounted on
    the post-clustering corpus and that budget counting sees the cleaned
    text. md5-MinHash is the replayable oracle tier; the shipped scale
    tier flips ``near_dup_hash_fn='xxhash64'`` (same machinery, 8-byte
    shuffles — the minhash_signatures split). Composition lives in
    pipelines/corpus.build_corpus, shared with scripts/volume_probe.py
    corpus mode so the probed plan IS the shipped plan."""
    from bigdata_retailrocket_recsys_spark.pipelines.corpus import (
        build_corpus,
    )

    return build_corpus(
        _t(spark, sf_dir, "documents"),
        eval_source="src0",
        budget_tokens=700,
        near_dup=True,
        near_dup_hash_fn="md5",
        strip_substrings=True,
    )


@query(
    "q_corpus_incremental",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, text, source FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), qf AS (
        SELECT doc_id, text, source,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                   AS n_toks,
               CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9_ \t\n]'))
                   AS DOUBLE) AS n_punct,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                   AS n_digit
        FROM base
    ), gated AS (
        SELECT doc_id, text, source FROM qf
        WHERE (LEAST(n_toks / 64.0, 1.0) * 0.5
               + (1.0 - LEAST(n_punct / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25
               + (1.0 - LEAST(n_digit / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25) >= 0.5
          AND n_toks >= 5.0
    ), cdig AS (
        SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS dk
        FROM gated
        WHERE doc_id % 4 <> 0 AND (source IS NULL OR source <> 'src0')
    ), bat AS (
        SELECT doc_id, text, source,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS dk
        FROM gated
        WHERE doc_id % 4 = 0 AND (source IS NULL OR source <> 'src0')
    ), surv AS (
        SELECT * FROM bat WHERE dk NOT IN (SELECT dk FROM cdig)
    ), keep AS (
        SELECT MIN(doc_id) AS doc_id FROM surv GROUP BY dk
    ), fresh AS (
        SELECT s.doc_id, s.text, s.source
        FROM surv s JOIN keep USING (doc_id)
    ), ev_sh AS (
        SELECT DISTINCT array_to_string(list_slice(toks, st, st + 2), ' ')
                   AS shingle
        FROM (SELECT toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT string_split_regex(trim(text), '\s+') AS toks
                    FROM base WHERE source = 'src0'))
    ), tr_sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS shingle
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM fresh))
    ), cont AS (
        SELECT doc_id, COUNT(*) AS n_sh,
               SUM(CASE WHEN shingle IN (SELECT shingle FROM ev_sh)
                        THEN 1 ELSE 0 END) AS n_hit
        FROM tr_sh GROUP BY doc_id
    )
    SELECT f.doc_id, f.source AS domain,
           CAST(len(list_filter(
               string_split_regex(trim(lower(f.text)), '\s+'),
               t -> t <> '')) AS BIGINT) AS n_tok
    FROM fresh f JOIN cont c USING (doc_id)
    WHERE c.n_hit * 2 < c.n_sh
    """,
)
def q_corpus_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus maintenance (pipelines/corpus
    .build_corpus_incremental) — the daily-delta twin of
    q_corpus_pipeline: yesterday's corpus (doc_id % 4 ≠ 0, gated,
    non-eval) exists ONLY as its persisted digest table
    (content_digest_table — 16 bytes/doc, staged to session scratch and
    read back); today's batch (doc_id % 4 = 0) is quality-gated,
    deduped against those digests + within itself (keeper = min id),
    and 3-gram-decontaminated against the eval split. Output = the
    accepted rows to append, with the same n_tok the budget stage
    charges at snapshot re-cut time. Corpus text is never read in the
    incremental path — the anti-join ships digests only (the 100 TB
    property). Oracle replays gate, digest set, anti-join, keeper
    grouping, and containment in one CTE chain."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        content_digest_table,
    )
    from bigdata_retailrocket_recsys_spark.operators.text import (
        normalize_text,
        quality_filter,
    )
    from bigdata_retailrocket_recsys_spark.pipelines.corpus import (
        build_corpus_incremental,
    )

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).select("doc_id", "text", "source")
    corp = (
        quality_filter(base.filter(F.col("doc_id") % 4 != 0))
        .filter(F.col("source").isNull() | (F.col("source") != "src0"))
        .withColumn("__norm", normalize_text("text"))
    )
    dig_path = session_scratch(spark, "corpus_inc_digests")
    content_digest_table(corp, dig_path, key_cols=["__norm"])
    return build_corpus_incremental(
        base.filter(F.col("doc_id") % 4 == 0),
        spark.read.parquet(dig_path),
        base.filter(F.col("source") == "src0"),
        eval_source="src0",
    )


@query(
    "q_text_lm_score",
    oracle=r"""
    WITH ref AS (
        SELECT unnest(list_filter(
                   string_split_regex(trim(lower(text)), '\s+'),
                   t -> t <> '')) AS term
        FROM documents WHERE source = 'src0' AND text IS NOT NULL
    ), lm AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS c_w FROM ref GROUP BY term
    ), tot AS (
        SELECT CAST(COALESCE(SUM(c_w), 0) AS BIGINT) AS n_ref,
               CAST(COUNT(*) AS BIGINT) AS v_ref
        FROM lm
    ), dt AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c_dt
        FROM (SELECT doc_id,
                     unnest(list_filter(
                         string_split_regex(trim(lower(text)), '\s+'),
                         t -> t <> '')) AS term
              FROM documents
              WHERE doc_id IS NOT NULL AND text IS NOT NULL)
        GROUP BY doc_id, term
    ), contrib AS (
        SELECT doc_id, c_dt,
               c_dt * CAST(FLOOR(ln((CAST(COALESCE(l.c_w, 0) AS DOUBLE)
                          + 1.0)
                     / GREATEST(CAST(t.n_ref AS DOUBLE)
                                + CAST(t.v_ref AS DOUBLE), 1.0))
                     * 1e6) AS BIGINT) AS lp
        FROM dt LEFT JOIN lm l USING (term) CROSS JOIN tot t
    )
    SELECT doc_id,
           CAST(SUM(c_dt) AS BIGINT) AS n_tokens,
           CAST(SUM(lp) AS BIGINT) AS logprob_u,
           CAST(SUM(lp) AS DOUBLE)
               / (CAST(SUM(c_dt) AS DOUBLE) * 1e6) AS lm_score
    FROM contrib GROUP BY doc_id
    """,
)
def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (operators/text.lm_score): every
    document scored by its average add-one-smoothed unigram
    log-probability under a reference LM trained on the src0 split (the
    Wikipedia role in CCNet — keep the low-perplexity head, drop the
    tail). Count algebra + µ-floored ln contributions (LM_CONTRIB_SQL,
    one tree shared with this oracle) + one IEEE division → fully
    value-hashed including the double score. Completes the quality
    ladder: heuristic ratios (q_quality_score) → model-based LM filter
    (this) → the gate composition (q_corpus_pipeline)."""
    from bigdata_retailrocket_recsys_spark.operators.text import lm_score

    docs = _t(spark, sf_dir, "documents")
    return lm_score(
        docs,
        docs.filter(F.col("source") == "src0"),
        id_col="doc_id",
        text_col="text",
    )


@query(
    "q_text_gopher_quality",
    oracle=r"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\s+'),
                           t -> t <> '') AS words,
               list_filter(string_split_regex(text, '\n'),
                           l -> trim(l) <> '') AS lines
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), m AS (
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
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
                               'with')))) AS BIGINT) AS n_stop
        FROM base
    ), f AS (
        SELECT doc_id, n_words, n_lines,
               CAST(n_words >= 50 AND n_words <= 100000 AS INT)
                   AS f_word_count,
               CAST(3 * n_words <= sum_chars
                    AND sum_chars <= 10 * n_words AS INT) AS f_mean_len,
               CAST(10 * n_symbols < n_words AS INT) AS f_symbol,
               CAST(10 * n_bullet < 9 * n_lines AS INT) AS f_bullet,
               CAST(10 * n_ell_end < 3 * n_lines AS INT) AS f_ellipsis,
               CAST(5 * n_alpha > 4 * n_words AS INT) AS f_alpha,
               CAST(n_stop >= 2 AS INT) AS f_stop
        FROM m
    )
    SELECT *,
           CAST(f_word_count = 1 AND f_mean_len = 1 AND f_symbol = 1
                AND f_bullet = 1 AND f_ellipsis = 1 AND f_alpha = 1
                AND f_stop = 1 AS INT) AS gopher_pass
    FROM f
    """,
)
def q_text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules (operators/text.gopher_quality —
    Rae et al. 2021 §A1.1, the published heuristic gate): word count,
    mean word BYTE length, symbol ratio, bullet/ellipsis line
    fractions, alphabetic-word share, stop-word containment — every
    threshold an INTEGER cross-multiplication, so all seven flags and
    the conjunction are exact on any engine (flags INT per the type
    rule). One narrow projection, zero exchange — the first-pass gate
    shape at 100 TB."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        gopher_quality,
    )

    return gopher_quality(_t(spark, sf_dir, "documents"))


@query(
    "q_dsir_importance",
    oracle=r"""
    WITH rawsh AS (
        SELECT doc_id AS doc,
               CAST(('0x' || substr(md5(
                   array_to_string(list_slice(toks, st, st + 1), ' ')
               ), 1, 8))::BIGINT % 10000 AS BIGINT) AS b
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 1, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM documents
                    WHERE doc_id IS NOT NULL AND text IS NOT NULL
                      AND (source IS NULL OR source <> 'src0')))
    ), tgtsh AS (
        SELECT CAST(('0x' || substr(md5(
                   array_to_string(list_slice(toks, st, st + 1), ' ')
               ), 1, 8))::BIGINT % 10000 AS BIGINT) AS b
        FROM (SELECT toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 1, 1)))
                         AS st
              FROM (SELECT string_split_regex(trim(text), '\s+') AS toks
                    FROM documents
                    WHERE doc_id IS NOT NULL AND text IS NOT NULL
                      AND source = 'src0'))
    ), rc AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c_r FROM rawsh GROUP BY b
    ), tc AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c_t FROM tgtsh GROUP BY b
    ), tot AS (
        SELECT CAST((SELECT COUNT(*) FROM rawsh) AS BIGINT) AS n_r,
               CAST((SELECT COUNT(*) FROM tgtsh) AS BIGINT) AS n_t
    ), db AS (
        SELECT doc, b, CAST(COUNT(*) AS BIGINT) AS c_db
        FROM rawsh GROUP BY doc, b
    ), contrib AS (
        SELECT doc, c_db,
               c_db * CAST(FLOOR(ln(
                   ((CAST(COALESCE(t.c_t, 0) AS DOUBLE) + 1.0)
                        / (CAST(x.n_t AS DOUBLE) + 10000.0))
                   / ((CAST(COALESCE(r.c_r, 0) AS DOUBLE) + 1.0)
                        / (CAST(x.n_r AS DOUBLE) + 10000.0))
               ) * 1e6) AS BIGINT) AS w
        FROM db LEFT JOIN rc r USING (b) LEFT JOIN tc t USING (b)
        CROSS JOIN tot x
    )
    SELECT doc AS doc_id,
           CAST(SUM(c_db) AS BIGINT) AS n_feats,
           CAST(SUM(w) AS BIGINT) AS weight_u,
           CAST(SUM(w) AS DOUBLE)
               / (CAST(SUM(c_db) AS DOUBLE) * 1e6) AS importance
    FROM contrib GROUP BY doc
    """,
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling weights (operators/features
    .dsir_importance — Xie et al. 2023): every non-eval document scored
    by the log-likelihood ratio of its hashed word-bigram features under
    the src0 TARGET distribution vs the raw-corpus distribution — the
    published "select web data that looks like the target" estimator.
    md5-derived feature buckets (feature_hash_index — exact on any
    engine), add-one smoothing over 10k buckets, µ-floored LLR
    contributions (DSIR_CONTRIB_SQL, one tree with this oracle), ONE
    IEEE division → the double importance value-hashes. Completes the
    data-mixing family: temperature mixture (q_mixture_sample) →
    token budgets (q_token_budget_sample) → target-seeking importance
    weights (this)."""
    from bigdata_retailrocket_recsys_spark.operators.features import (
        dsir_importance,
    )

    docs = _t(spark, sf_dir, "documents")
    return dsir_importance(
        docs.filter(F.col("source").isNull() | (F.col("source") != "src0")),
        docs.filter(F.col("source") == "src0"),
    )


@query(
    "q_stream_corpus_intake",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, text, source FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
          AND (source IS NULL OR source <> 'src0')
    ), qf AS (
        SELECT doc_id, text, source,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                   AS n_toks,
               CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9_ \t\n]'))
                   AS DOUBLE) AS n_punct,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                   AS n_digit
        FROM base
    ), gated AS (
        SELECT text, source FROM qf
        WHERE (LEAST(n_toks / 64.0, 1.0) * 0.5
               + (1.0 - LEAST(n_punct / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25
               + (1.0 - LEAST(n_digit / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25) >= 0.5
          AND n_toks >= 5.0
    ), keyed AS (
        SELECT source AS domain, md5(norm) AS digest,
               CAST(len(list_filter(string_split(norm, ' '),
                                    t -> t <> '')) AS BIGINT) AS n_tok
        FROM (SELECT source,
                     trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
              FROM gated)
    )
    SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM (SELECT DISTINCT domain, digest, n_tok FROM keyed)
    GROUP BY domain
    """,
)
def q_stream_corpus_intake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING corpus intake (streaming/corpus_intake
    .run_streaming_corpus_intake): the pipeline's front half — quality
    gate + exact digest dedup — run as a real multi-micro-batch
    Structured Streaming job (staged files, maxFilesPerTrigger,
    AvailableNow, memory sink, complete mode). Dedup state is keyed on
    (domain, digest of NORMALIZED text); the normalized token count is a
    function of the digest, so the per-domain aggregate is
    arrival-order-independent and equals the batch DISTINCT → full
    DuckDB oracle. Production bounds the seen-digest state via
    dropDuplicatesWithinWatermark or the persisted digest table
    (q_corpus_incremental); this entry proves the ingest-time gate."""
    from bigdata_retailrocket_recsys_spark.streaming.corpus_intake import (
        run_streaming_corpus_intake,
    )

    return run_streaming_corpus_intake(spark, sf_dir)


@query(
    "q_dedup_embed_apply",
    oracle="""
    WITH RECURSIVE v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
        FROM embeddings
        WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
    ), pairs AS (
        SELECT a.vec_id AS s, b.vec_id AS d
        FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.vec, b.vec) >= 0.42
    ), edges AS (
        SELECT s, d FROM pairs UNION SELECT d, s FROM pairs
    ), reach(s, d) AS (
        SELECT vec_id, vec_id FROM embeddings WHERE vec_id IS NOT NULL
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ), clusters AS (
        SELECT s AS vec_id, MIN(d) AS cluster_id FROM reach GROUP BY s
    )
    SELECT e.vec_id, e.label
    FROM embeddings e JOIN clusters c USING (vec_id)
    WHERE c.vec_id = c.cluster_id
    """,
)
def q_dedup_embed_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup APPLY (the SemDeDup shape, Abbas et al. 2023):
    embedding-cosine near-dup pairs (label-blocked, the oracled margin
    threshold of q_dedup_embed_cosine) → connected components → one
    canonical keeper per cluster (min id) → surviving rows. Completes
    the dedup-family APPLY set: exact (q_corpus_pipeline), Jaccard
    (q_dedup_apply), substring (q_dedup_substring_apply), and now
    embedding tier. NULL-embedding rows cannot pair, so they survive as
    singleton keepers — same node-set rule on both engines. At 100 TB
    the pair stage swaps to the LSH-banded variant
    (q_dedup_embed_cosine_lsh) with identical downstream composition."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        connected_components,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_cosine_pairs(
        emb,
        id_col="vec_id",
        vec_col="embedding",
        block_col="label",
        min_cosine=0.42,
    ).select("id_a", "id_b")
    # r14: loser anti-join over endpoint-only CC labels (see
    # q_dedup_apply); NULL vec_id rows were never keepers — kept out
    # explicitly.
    cc = connected_components(
        None,
        pairs,
        node_col="vec_id",
        src_col="id_a",
        dst_col="id_b",
    )
    losers = cc.filter(F.col("vec_id") != F.col("cluster_id")).select(
        "vec_id"
    )
    return (
        emb.filter(F.col("vec_id").isNotNull())
        .join(losers, "vec_id", "left_anti")
        .select("vec_id", "label")
    )


@query(
    "q_corpus_profile",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, text, source FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), dig AS (
        SELECT doc_id, source AS domain,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS digest
        FROM base
    ), gm AS (
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
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
                               'with')))) AS BIGINT) AS n_stop
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\s+'),
                                 t -> t <> '') AS words,
                     list_filter(string_split_regex(text, '\n'),
                                 l -> trim(l) <> '') AS lines
              FROM base)
    ), gf AS (
        SELECT doc_id, n_words,
               CAST(n_words >= 50 AND n_words <= 100000
                    AND 3 * n_words <= sum_chars
                    AND sum_chars <= 10 * n_words
                    AND 10 * n_symbols < n_words
                    AND 10 * n_bullet < 9 * n_lines
                    AND 10 * n_ell_end < 3 * n_lines
                    AND 5 * n_alpha > 4 * n_words
                    AND n_stop >= 2 AS BIGINT) AS gopher_pass
        FROM gm
    ), ref AS (
        SELECT unnest(list_filter(
                   string_split_regex(trim(lower(text)), '\s+'),
                   t -> t <> '')) AS term
        FROM documents WHERE source = 'src0' AND text IS NOT NULL
    ), lmt AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS c_w FROM ref GROUP BY term
    ), tot AS (
        SELECT CAST(COALESCE(SUM(c_w), 0) AS BIGINT) AS n_ref,
               CAST(COUNT(*) AS BIGINT) AS v_ref
        FROM lmt
    ), dt AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c_dt
        FROM (SELECT doc_id,
                     unnest(list_filter(
                         string_split_regex(trim(lower(text)), '\s+'),
                         t -> t <> '')) AS term
              FROM base)
        GROUP BY doc_id, term
    ), lmdoc AS (
        SELECT doc_id, SUM(c_dt) AS lm_tok,
               SUM(c_dt * CAST(FLOOR(ln((CAST(COALESCE(l.c_w, 0) AS DOUBLE)
                          + 1.0)
                     / GREATEST(CAST(t.n_ref AS DOUBLE)
                                + CAST(t.v_ref AS DOUBLE), 1.0))
                     * 1e6) AS BIGINT)) AS lm_lp
        FROM dt LEFT JOIN lmt l USING (term) CROSS JOIN tot t
        GROUP BY doc_id
    ), agg AS (
        SELECT d.domain,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(g.n_words) AS BIGINT) AS n_words,
               CAST(COUNT(DISTINCT d.digest) AS BIGINT) AS n_distinct,
               CAST(SUM(g.gopher_pass) AS BIGINT) AS n_gopher_pass,
               CAST(SUM(COALESCE(m.lm_lp, 0)) AS BIGINT) AS lm_logprob_u,
               CAST(SUM(COALESCE(m.lm_tok, 0)) AS BIGINT) AS lm_tokens
        FROM dig d JOIN gf g USING (doc_id) LEFT JOIN lmdoc m USING (doc_id)
        GROUP BY d.domain
    )
    SELECT *,
           CASE WHEN lm_tokens > 0
                THEN CAST(lm_logprob_u AS DOUBLE)
                     / (CAST(lm_tokens AS DOUBLE) * 1e6)
           END AS lm_avg
    FROM agg
    """,
)
def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus REPORT CARD (pipelines/corpus.corpus_profile):
    volume, exact-dup rate (distinct normalized digests vs rows),
    Gopher-pass share, and reference-LM average log-probability in one
    rollup — the first query a data team runs on a new snapshot.
    Composes three oracled scorers; every aggregate is an exact integer
    except the final average (ONE IEEE division, NULL-guarded for
    zero-token domains — NaN stringifies differently per engine)."""
    from bigdata_retailrocket_recsys_spark.pipelines.corpus import (
        corpus_profile,
    )

    docs = _t(spark, sf_dir, "documents")
    return corpus_profile(docs, docs.filter(F.col("source") == "src0"))


@query(
    "q_corpus_incremental_neardup",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, text, source FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), qf AS (
        SELECT doc_id, text, source,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                   AS n_toks,
               CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9_ \t\n]'))
                   AS DOUBLE) AS n_punct,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                   AS n_digit
        FROM base
    ), gated AS (
        SELECT doc_id, text, source FROM qf
        WHERE (LEAST(n_toks / 64.0, 1.0) * 0.5
               + (1.0 - LEAST(n_punct / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25
               + (1.0 - LEAST(n_digit / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25) >= 0.5
          AND n_toks >= 5.0
    ), corp AS (
        SELECT doc_id, text FROM gated
        WHERE doc_id % 4 <> 0 AND (source IS NULL OR source <> 'src0')
    ), cdig AS (
        SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS dk
        FROM corp
    ), bat AS (
        SELECT doc_id, text, source,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS dk
        FROM gated
        WHERE doc_id % 4 = 0 AND (source IS NULL OR source <> 'src0')
    ), surv AS (
        SELECT * FROM bat WHERE dk NOT IN (SELECT dk FROM cdig)
    ), keep AS (
        SELECT MIN(doc_id) AS doc_id FROM surv GROUP BY dk
    ), fresh AS (
        SELECT s.doc_id, s.text, s.source
        FROM surv s JOIN keep USING (doc_id)
    ), csh AS (
        SELECT doc_id AS doc,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS s
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM corp))
    ), bsh AS (
        SELECT doc_id AS doc,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS s
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM fresh))
    ), csig AS (
        SELECT doc, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS h
        FROM csh, (SELECT unnest(generate_series(0, 15)) AS j)
        GROUP BY doc, j
    ), bsig AS (
        SELECT doc, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS h
        FROM bsh, (SELECT unnest(generate_series(0, 15)) AS j)
        GROUP BY doc, j
    ), cband AS (
        SELECT doc, j // 4 AS band,
               md5(string_agg(h, '_' ORDER BY j ASC)) AS bucket
        FROM csig GROUP BY doc, j // 4
    ), bband AS (
        SELECT doc, j // 4 AS band,
               md5(string_agg(h, '_' ORDER BY j ASC)) AS bucket
        FROM bsig GROUP BY doc, j // 4
    ), near AS (
        SELECT DISTINCT b.doc
        FROM bband b JOIN cband c
          ON b.band = c.band AND b.bucket = c.bucket
    ), fresh2 AS (
        SELECT * FROM fresh WHERE doc_id NOT IN (SELECT doc FROM near)
    ), ev_sh AS (
        SELECT DISTINCT array_to_string(list_slice(toks, st, st + 2), ' ')
                   AS shingle
        FROM (SELECT toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT string_split_regex(trim(text), '\s+') AS toks
                    FROM base WHERE source = 'src0'))
    ), tr_sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS shingle
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM fresh2))
    ), cont AS (
        SELECT doc_id, COUNT(*) AS n_sh,
               SUM(CASE WHEN shingle IN (SELECT shingle FROM ev_sh)
                        THEN 1 ELSE 0 END) AS n_hit
        FROM tr_sh GROUP BY doc_id
    )
    SELECT f.doc_id, f.source AS domain,
           CAST(len(list_filter(
               string_split_regex(trim(lower(f.text)), '\s+'),
               t -> t <> '')) AS BIGINT) AS n_tok
    FROM fresh2 f JOIN cont c USING (doc_id)
    WHERE c.n_hit * 2 < c.n_sh
    """,
)
def q_corpus_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus maintenance with the NEAR-dup stage ON
    (pipelines/corpus.build_corpus_incremental + corpus_signatures):
    yesterday's corpus exists as TWO persisted artifacts — the 16-byte
    digest table (exact tier) and the MinHash signature table (near
    tier, md5 oracle hash) — and today's batch is gated, exact-deduped
    against digests + within itself, NEAR-deduped against the signature
    table (banded batch signatures broadcast past a scan — no corpus
    text, no corpus shuffle), and decontaminated. The full daily-delta
    twin of q_corpus_pipeline_neardup; the whole chain value-hashed in
    one CTE composition."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        content_digest_table,
        minhash_signatures_table,
    )
    from bigdata_retailrocket_recsys_spark.operators.text import (
        normalize_text,
        quality_filter,
    )
    from bigdata_retailrocket_recsys_spark.pipelines.corpus import (
        build_corpus_incremental,
    )

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).select("doc_id", "text", "source")
    corp = (
        quality_filter(base.filter(F.col("doc_id") % 4 != 0))
        .filter(F.col("source").isNull() | (F.col("source") != "src0"))
        .withColumn("__norm", normalize_text("text"))
    )
    dig_path = session_scratch(spark, "corpus_incnd_digests")
    sig_path = session_scratch(spark, "corpus_incnd_sigs")
    content_digest_table(corp, dig_path, key_cols=["__norm"])
    minhash_signatures_table(
        corp, sig_path, id_col="doc_id", text_col="text",
        shingle_n=3, num_hashes=16, hash_fn="md5",
    )
    return build_corpus_incremental(
        base.filter(F.col("doc_id") % 4 == 0),
        spark.read.parquet(dig_path),
        base.filter(F.col("source") == "src0"),
        eval_source="src0",
        corpus_signatures=spark.read.parquet(sig_path),
        near_dup_hash_fn="md5",
    )


@query(
    "q_text_strip_repeated_lines",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), l AS (
        SELECT doc_id, p - 1 AS p, lns[p] AS ln
        FROM (SELECT doc_id, string_split(text, chr(10)) AS lns
              FROM base),
             LATERAL (SELECT unnest(generate_series(1, len(lns))) AS p)
    ), h AS (
        SELECT doc_id, p, ln,
               CASE WHEN trim(ln) <> '' THEN
                   md5(trim(regexp_replace(lower(ln), '\s+', ' ', 'g')))
               END AS hh
        FROM l
    ), prev AS (
        SELECT hh FROM h WHERE hh IS NOT NULL
        GROUP BY hh HAVING COUNT(DISTINCT doc_id) >= 3
    ), kept AS (
        SELECT * FROM h
        WHERE hh IS NULL OR hh NOT IN (SELECT hh FROM prev)
    ), reb AS (
        SELECT doc_id,
               SUM(CASE WHEN hh IS NOT NULL THEN 1 ELSE 0 END) AS n_kept,
               string_agg(ln, chr(10) ORDER BY p ASC) AS text_clean
        FROM kept GROUP BY doc_id
    ), tot AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN hh IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_lines
        FROM h GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_lines,
           CAST(t.n_lines - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.text_clean, '') AS text_clean
    FROM tot t LEFT JOIN reb r USING (doc_id)
    """,
)
def q_text_strip_repeated_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINE-grain cross-document dedup (operators/text
    .strip_repeated_lines — the CCNet paragraph pass, Wenzek et al.
    2020): non-blank lines whose normalized form appears in ≥3 distinct
    documents are removed; each doc is rebuilt from survivors in
    original order (blank lines preserved verbatim — structure, not
    content). Prevalence counts shuffle 16-byte digests of normalized
    lines, never line text. Complements q_text_strip_boilerplate (token
    n-gram spans WITHIN lines). The cleaned TEXT itself is hashed."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        strip_repeated_lines,
    )

    return strip_repeated_lines(
        _t(spark, sf_dir, "documents"), min_docs=3
    )


@query(
    "q_corpus_pipeline_ccnet",
    headline=True,
    oracle=r"""
    WITH staged AS (
        SELECT doc_id, source,
               text
               || CASE WHEN doc_id % 3 = 0 THEN chr(10) ELSE '' END
               || CASE WHEN doc_id % 2 = 0
                       THEN chr(10) ||
                            'Subscribe to our newsletter for updates'
                       ELSE '' END
               || chr(10) || 'ref code ' || CAST(doc_id % 1000 AS VARCHAR)
               || CASE WHEN doc_id % 5 = 0
                       THEN chr(10) ||
                            '(c) 2024 Example Corp - all rights reserved'
                       ELSE '' END AS text
        FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), l AS (
        SELECT doc_id, p - 1 AS p, lns[p] AS ln
        FROM (SELECT doc_id, string_split(text, chr(10)) AS lns
              FROM staged),
             LATERAL (SELECT unnest(generate_series(1, len(lns))) AS p)
    ), h AS (
        SELECT doc_id, p, ln,
               CASE WHEN trim(ln) <> '' THEN
                   md5(trim(regexp_replace(lower(ln), '\s+', ' ', 'g')))
               END AS hh
        FROM l
    ), prev AS (
        SELECT hh FROM h WHERE hh IS NOT NULL
        GROUP BY hh HAVING COUNT(DISTINCT doc_id) >= 3
    ), kept AS (
        SELECT * FROM h
        WHERE hh IS NULL OR hh NOT IN (SELECT hh FROM prev)
    ), reb AS (
        SELECT doc_id,
               string_agg(ln, chr(10) ORDER BY p ASC) AS text_clean
        FROM kept GROUP BY doc_id
    ), cleaned AS (
        SELECT r.doc_id, r.text_clean AS text, s.source
        FROM reb r JOIN staged s USING (doc_id)
        WHERE r.text_clean <> ''
    ), qf AS (
        SELECT doc_id, text, source,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                   AS n_toks,
               CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9_ \t\n]'))
                   AS DOUBLE) AS n_punct,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                   AS n_digit
        FROM cleaned
    ), gated AS (
        SELECT doc_id, text, source FROM qf
        WHERE (LEAST(n_toks / 64.0, 1.0) * 0.5
               + (1.0 - LEAST(n_punct / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25
               + (1.0 - LEAST(n_digit / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25) >= 0.5
          AND n_toks >= 5.0
    ), keepers AS (
        SELECT MIN(doc_id) AS doc_id
        FROM (SELECT doc_id,
                     md5(trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS dk
              FROM gated)
        GROUP BY dk
    ), train AS (
        SELECT g.doc_id, g.text, g.source
        FROM gated g JOIN keepers k USING (doc_id)
        WHERE g.source IS NULL OR g.source <> 'src0'
    ), ev_sh AS (
        SELECT DISTINCT array_to_string(list_slice(toks, st, st + 2), ' ')
                   AS shingle
        FROM (SELECT toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT string_split_regex(trim(text), '\s+') AS toks
                    FROM cleaned WHERE source = 'src0'))
    ), tr_sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS shingle
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM train))
    ), cont AS (
        SELECT doc_id, COUNT(*) AS n_sh,
               SUM(CASE WHEN shingle IN (SELECT shingle FROM ev_sh)
                        THEN 1 ELSE 0 END) AS n_hit
        FROM tr_sh GROUP BY doc_id
    ), clean AS (
        SELECT t.doc_id, t.text, t.source
        FROM train t JOIN cont c USING (doc_id)
        WHERE c.n_hit * 2 < c.n_sh
    ), toks AS (
        SELECT doc_id, source AS domain,
               CAST(len(list_filter(
                   string_split_regex(trim(lower(text)), '\s+'),
                   t -> t <> '')) AS BIGINT) AS n_tok,
               md5(CAST(doc_id AS VARCHAR)) AS hk
        FROM clean
    ), cum AS (
        SELECT doc_id, domain, n_tok,
               CAST(SUM(n_tok) OVER (
                   PARTITION BY domain ORDER BY hk ASC, doc_id ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
        FROM toks
    )
    SELECT doc_id, domain, n_tok, cum_tok FROM cum WHERE cum_tok <= 700
    """,
)
def q_corpus_pipeline_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet-ordered corpus pipeline (Wenzek et al. 2020): the
    LINE/paragraph-grain cross-document dedup runs FIRST — before the
    quality gate, the exact dedup, and the decontamination — so
    boilerplate lines can't rescue a junk doc through the gate, perturb
    the normalized-text digests, or inflate token budgets
    (pipelines/corpus.build_corpus with strip_lines=True, VERDICT r9 #1).

    The fixture corpus has no line structure (single-line docs, zero
    cross-doc repeated lines — probed), so the entry stages a
    deterministic one in BOTH engines: a newsletter footer on even ids
    (prevalent → stripped), a copyright footer on ids %5 (prevalent →
    stripped), a blank line on ids %3 (never counted, preserved), and a
    per-doc 'ref code <id%1000>' line whose prevalence crosses the
    min_docs=3 threshold only on the larger fixture — so BOTH the
    removed and the surviving branch are exercised, and surviving lines
    flow into every downstream digest/shingle/token count. ONE DuckDB
    CTE chain hashes the 5-stage composition end-to-end."""
    from bigdata_retailrocket_recsys_spark.pipelines.corpus import (
        build_corpus,
    )

    docs = _t(spark, sf_dir, "documents")
    staged = docs.withColumn(
        "text",
        F.when(
            F.col("text").isNotNull() & F.col("doc_id").isNotNull(),
            F.concat_ws(
                "\n",
                F.col("text"),
                F.when(F.col("doc_id") % 3 == 0, F.lit("")),
                F.when(
                    F.col("doc_id") % 2 == 0,
                    F.lit("Subscribe to our newsletter for updates"),
                ),
                F.concat(
                    F.lit("ref code "),
                    (F.col("doc_id") % 1000).cast("string"),
                ),
                F.when(
                    F.col("doc_id") % 5 == 0,
                    F.lit("(c) 2024 Example Corp - all rights reserved"),
                ),
            ),
        ),
    )
    return build_corpus(
        staged,
        eval_source="src0",
        budget_tokens=700,
        strip_lines=True,
    )


@query(
    "q_corpus_incremental_commit",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, text, source FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), qf AS (
        SELECT doc_id, text, source,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                   AS n_toks,
               CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9_ \t\n]'))
                   AS DOUBLE) AS n_punct,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                   AS n_digit
        FROM base
    ), gated AS (
        SELECT doc_id, text, source FROM qf
        WHERE (LEAST(n_toks / 64.0, 1.0) * 0.5
               + (1.0 - LEAST(n_punct / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25
               + (1.0 - LEAST(n_digit / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25) >= 0.5
          AND n_toks >= 5.0
    ), corp0 AS (
        SELECT doc_id, text FROM gated
        WHERE doc_id % 4 IN (2, 3)
          AND (source IS NULL OR source <> 'src0')
    ), dig0 AS (
        SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS dk
        FROM corp0
    ), bat1 AS (
        SELECT doc_id, text, source,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS dk
        FROM gated
        WHERE doc_id % 4 = 1 AND (source IS NULL OR source <> 'src0')
    ), surv1 AS (
        SELECT * FROM bat1 WHERE dk NOT IN (SELECT dk FROM dig0)
    ), keep1 AS (
        SELECT MIN(doc_id) AS doc_id FROM surv1 GROUP BY dk
    ), fresh1 AS (
        SELECT s.doc_id, s.text, s.source, s.dk
        FROM surv1 s JOIN keep1 USING (doc_id)
    ), csh0 AS (
        SELECT doc_id AS doc,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS s
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM corp0))
    ), f1sh AS (
        SELECT doc_id AS doc,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS s
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM fresh1))
    ), csig0 AS (
        SELECT doc, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS h
        FROM csh0, (SELECT unnest(generate_series(0, 15)) AS j)
        GROUP BY doc, j
    ), f1sig AS (
        SELECT doc, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS h
        FROM f1sh, (SELECT unnest(generate_series(0, 15)) AS j)
        GROUP BY doc, j
    ), cband0 AS (
        SELECT doc, j // 4 AS band,
               md5(string_agg(h, '_' ORDER BY j ASC)) AS bucket
        FROM csig0 GROUP BY doc, j // 4
    ), f1band AS (
        SELECT doc, j // 4 AS band,
               md5(string_agg(h, '_' ORDER BY j ASC)) AS bucket
        FROM f1sig GROUP BY doc, j // 4
    ), near1 AS (
        SELECT DISTINCT b.doc
        FROM f1band b JOIN cband0 c
          ON b.band = c.band AND b.bucket = c.bucket
    ), fresh1b AS (
        SELECT * FROM fresh1 WHERE doc_id NOT IN (SELECT doc FROM near1)
    ), ev_sh AS (
        SELECT DISTINCT array_to_string(list_slice(toks, st, st + 2), ' ')
                   AS shingle
        FROM (SELECT toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT string_split_regex(trim(text), '\s+') AS toks
                    FROM base WHERE source = 'src0'))
    ), t1sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS shingle
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM fresh1b))
    ), cont1 AS (
        SELECT doc_id, COUNT(*) AS n_sh,
               SUM(CASE WHEN shingle IN (SELECT shingle FROM ev_sh)
                        THEN 1 ELSE 0 END) AS n_hit
        FROM t1sh GROUP BY doc_id
    ), acc1 AS (
        SELECT f.doc_id, f.text, f.source, f.dk
        FROM fresh1b f JOIN cont1 c USING (doc_id)
        WHERE c.n_hit * 2 < c.n_sh
    ), dig1 AS (
        SELECT dk FROM dig0
        UNION
        SELECT DISTINCT dk FROM acc1
    ), sigall AS (
        SELECT doc, j, h FROM csig0
        UNION ALL
        SELECT doc, j, h FROM f1sig
        WHERE doc IN (SELECT doc_id FROM acc1)
    ), cband1 AS (
        SELECT doc, j // 4 AS band,
               md5(string_agg(h, '_' ORDER BY j ASC)) AS bucket
        FROM sigall GROUP BY doc, j // 4
    ), bat2 AS (
        SELECT doc_id, text, source,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS dk
        FROM gated
        WHERE doc_id % 4 = 0 AND (source IS NULL OR source <> 'src0')
    ), surv2 AS (
        SELECT * FROM bat2 WHERE dk NOT IN (SELECT dk FROM dig1)
    ), keep2 AS (
        SELECT MIN(doc_id) AS doc_id FROM surv2 GROUP BY dk
    ), fresh2 AS (
        SELECT s.doc_id, s.text, s.source
        FROM surv2 s JOIN keep2 USING (doc_id)
    ), f2sh AS (
        SELECT doc_id AS doc,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS s
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM fresh2))
    ), f2sig AS (
        SELECT doc, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS h
        FROM f2sh, (SELECT unnest(generate_series(0, 15)) AS j)
        GROUP BY doc, j
    ), f2band AS (
        SELECT doc, j // 4 AS band,
               md5(string_agg(h, '_' ORDER BY j ASC)) AS bucket
        FROM f2sig GROUP BY doc, j // 4
    ), near2 AS (
        SELECT DISTINCT b.doc
        FROM f2band b JOIN cband1 c
          ON b.band = c.band AND b.bucket = c.bucket
    ), fresh2b AS (
        SELECT * FROM fresh2 WHERE doc_id NOT IN (SELECT doc FROM near2)
    ), t2sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS shingle
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM fresh2b))
    ), cont2 AS (
        SELECT doc_id, COUNT(*) AS n_sh,
               SUM(CASE WHEN shingle IN (SELECT shingle FROM ev_sh)
                        THEN 1 ELSE 0 END) AS n_hit
        FROM t2sh GROUP BY doc_id
    )
    SELECT f.doc_id, f.source AS domain,
           CAST(len(list_filter(
               string_split_regex(trim(lower(f.text)), '\s+'),
               t -> t <> '')) AS BIGINT) AS n_tok
    FROM fresh2b f JOIN cont2 c USING (doc_id)
    WHERE c.n_hit * 2 < c.n_sh
    """,
)
def q_corpus_incremental_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO increments through the FULL daily-delta loop — decide +
    COMMIT + decide again (pipelines/corpus.corpus_commit, VERDICT r9
    #3): day-0 corpus (doc_id % 4 ∈ {2,3}) persists its digest +
    md5-MinHash signature tables; the day-1 batch (% 4 = 1) is gated,
    exact-deduped vs the digests, NEAR-deduped vs the signatures,
    decontaminated, then corpus_commit APPENDS its accepted digests and
    signatures; the day-2 batch (% 4 = 0) runs the same chain against
    the COMMITTED state — so a day-2 doc duplicating (exactly or
    near) a day-1 acceptance is dropped, which only happens if the
    commit round-trip is correct. The whole two-increment composition
    is value-hashed by ONE DuckDB CTE chain."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        content_digest_table,
        minhash_signatures_table,
    )
    from bigdata_retailrocket_recsys_spark.operators.text import (
        normalize_text,
        quality_filter,
    )
    from bigdata_retailrocket_recsys_spark.pipelines.corpus import (
        build_corpus_incremental,
        corpus_commit,
    )

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).select("doc_id", "text", "source")
    eval_docs = base.filter(F.col("source") == "src0")
    corp0 = (
        quality_filter(base.filter((F.col("doc_id") % 4).isin(2, 3)))
        .filter(F.col("source").isNull() | (F.col("source") != "src0"))
        .withColumn("__norm", normalize_text("text"))
    )
    dig_path = session_scratch(spark, "corpus_commit_digests")
    sig_path = session_scratch(spark, "corpus_commit_sigs")
    content_digest_table(corp0, dig_path, key_cols=["__norm"])
    minhash_signatures_table(
        corp0, sig_path, id_col="doc_id", text_col="text",
        shingle_n=3, num_hashes=16, hash_fn="md5",
    )
    day1 = base.filter(F.col("doc_id") % 4 == 1)
    acc1 = build_corpus_incremental(
        day1,
        spark.read.parquet(dig_path),
        eval_docs,
        eval_source="src0",
        corpus_signatures=spark.read.parquet(sig_path),
        near_dup_hash_fn="md5",
    )
    corpus_commit(
        day1,
        acc1,
        digest_path=dig_path,
        signature_path=sig_path,
        hash_fn="md5",
    )
    day2 = base.filter(F.col("doc_id") % 4 == 0)
    return build_corpus_incremental(
        day2,
        spark.read.parquet(dig_path),
        eval_docs,
        eval_source="src0",
        corpus_signatures=spark.read.parquet(sig_path),
        near_dup_hash_fn="md5",
    )


@query(
    "q_text_gopher_repetition",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, text,
               CAST(strlen(trim(text)) AS BIGINT) AS tot_chars
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), l AS (
        SELECT doc_id, trim(ln) AS ln
        FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS ln
              FROM base)
        WHERE trim(ln) <> ''
    ), lg AS (
        SELECT doc_id, ln, COUNT(*) AS c FROM l GROUP BY doc_id, ln
    ), lstat AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
                   AS dup_line_u,
               CAST(SUM(c * strlen(ln)) AS BIGINT) AS tot_line_chars,
               CAST(SUM(CASE WHEN c > 1 THEN (c - 1) * strlen(ln)
                             ELSE 0 END) AS BIGINT) AS dup_line_chars_u
        FROM lg GROUP BY doc_id
    ), t AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\s+') AS toks
        FROM base
    ), g2c AS (
        SELECT doc_id, g, COUNT(*) AS c
        FROM (SELECT doc_id,
                     array_to_string(list_slice(toks, st, st + 1), ' ') AS g
              FROM (SELECT doc_id, toks,
                           unnest(generate_series(1, len(toks) - 1)) AS st
                    FROM t WHERE len(toks) >= 2))
        GROUP BY doc_id, g
    ), top2 AS (
        SELECT doc_id, CAST(c * strlen(g) AS BIGINT) AS top2_chars
        FROM g2c
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY c DESC, g ASC) = 1
    ), g5c AS (
        SELECT doc_id, g, COUNT(*) AS c
        FROM (SELECT doc_id,
                     array_to_string(list_slice(toks, st, st + 4), ' ') AS g
              FROM (SELECT doc_id, toks,
                           unnest(generate_series(1, len(toks) - 4)) AS st
                    FROM t WHERE len(toks) >= 5))
        GROUP BY doc_id, g
    ), dup5 AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN c > 1 THEN c * strlen(g) ELSE 0 END)
                    AS BIGINT) AS dup5_chars
        FROM g5c GROUP BY doc_id
    ), j AS (
        SELECT b.doc_id, b.tot_chars,
               COALESCE(ls.n_lines, 0) AS n_lines,
               COALESCE(ls.dup_line_u, 0) AS dup_line_u,
               COALESCE(ls.dup_line_chars_u, 0) AS dup_line_chars_u,
               COALESCE(ls.tot_line_chars, 0) AS tot_line_chars,
               COALESCE(t2.top2_chars, 0) AS top2_chars,
               COALESCE(d5.dup5_chars, 0) AS dup5_chars
        FROM base b
        LEFT JOIN lstat ls USING (doc_id)
        LEFT JOIN top2 t2 USING (doc_id)
        LEFT JOIN dup5 d5 USING (doc_id)
    )
    SELECT doc_id, n_lines, dup_line_u, dup_line_chars_u, tot_line_chars,
           tot_chars, top2_chars, dup5_chars,
           CAST(10 * dup_line_u <= 3 * n_lines AS INT) AS f_dup_line,
           CAST(10 * dup_line_chars_u <= 2 * tot_line_chars AS INT)
               AS f_dup_line_chars,
           CAST(10 * top2_chars <= 2 * tot_chars AS INT) AS f_top2,
           CAST(100 * dup5_chars <= 15 * tot_chars AS INT) AS f_dup5,
           CAST(10 * dup_line_u <= 3 * n_lines
                AND 10 * dup_line_chars_u <= 2 * tot_line_chars
                AND 10 * top2_chars <= 2 * tot_chars
                AND 100 * dup5_chars <= 15 * tot_chars AS INT) AS rep_pass
    FROM j
    """,
)
def q_text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher REPETITION rules (operators/text.gopher_repetition — Rae
    et al. 2021 §A1.2, the companion to q_text_gopher_quality's §A1.1
    gate): duplicate-line fraction/char-fraction, top-2-gram char
    fraction, duplicated-5-gram char fraction, each an INTEGER
    cross-multiplication over UTF-8 byte lengths — every output column
    exact on any engine, zero-denominator docs pass vacuously. Three
    map-side-combinable (doc, unit) aggregate chains; the per-doc top-1
    rides a WindowGroupLimit rank, no UDF, nothing cached."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        gopher_repetition,
    )

    return gopher_repetition(_t(spark, sf_dir, "documents"))


@query(
    "q_text_token_entropy",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+'))
                   AS t
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), cnt AS (
        SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok WHERE t <> '' GROUP BY doc_id, t
    ), per AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(SUM(c * CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1e6)
                                 AS BIGINT)) AS BIGINT) AS sum_clnc
        FROM cnt GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct,
           CAST(n_tokens * CAST(FLOOR(ln(CAST(n_tokens AS DOUBLE)) * 1e6)
                                AS BIGINT) - sum_clnc AS BIGINT) AS entropy_u,
           CAST(n_tokens * CAST(FLOOR(ln(CAST(n_tokens AS DOUBLE)) * 1e6)
                                AS BIGINT) - sum_clnc AS DOUBLE)
               / (CAST(n_tokens AS DOUBLE) * 1e6) AS entropy,
           CAST(n_tokens * CAST(FLOOR(ln(CAST(n_tokens AS DOUBLE)) * 1e6)
                                AS BIGINT) - sum_clnc
                < n_tokens * 1000000 AS INT) AS is_low_entropy
    FROM per
    """,
)
def q_text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy (operators/text.token_entropy)
    — the lexical-diversity quality gate: H = ln(n) − Σ c·ln(c)/n over
    lowercased whitespace tokens, computed as an ALL-INTEGER µ-floored
    numerator over n·1e6 (the LM_CONTRIB_SQL discipline) so even the
    final double value-hashes cross-engine; is_low_entropy (< 1 nat) is
    an integer comparison on the numerator. Two map-side-combinable
    aggregates keyed by doc id."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        token_entropy,
    )

    return token_entropy(_t(spark, sf_dir, "documents"))


@query(
    "q_corpus_snapshot_recut",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, text, source FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), qf AS (
        SELECT doc_id, text, source,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                   AS n_toks,
               CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9_ \t\n]'))
                   AS DOUBLE) AS n_punct,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                   AS n_digit
        FROM base
    ), gated AS (
        SELECT doc_id, text, source FROM qf
        WHERE (LEAST(n_toks / 64.0, 1.0) * 0.5
               + (1.0 - LEAST(n_punct / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25
               + (1.0 - LEAST(n_digit / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25) >= 0.5
          AND n_toks >= 5.0
    ), corp0 AS (
        SELECT doc_id, text, source FROM gated
        WHERE doc_id % 4 <> 0 AND (source IS NULL OR source <> 'src0')
    ), cdig AS (
        SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS dk
        FROM corp0
    ), bat AS (
        SELECT doc_id, text, source,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS dk
        FROM gated
        WHERE doc_id % 4 = 0 AND (source IS NULL OR source <> 'src0')
    ), surv AS (
        SELECT * FROM bat WHERE dk NOT IN (SELECT dk FROM cdig)
    ), keep AS (
        SELECT MIN(doc_id) AS doc_id FROM surv GROUP BY dk
    ), fresh AS (
        SELECT s.doc_id, s.text, s.source
        FROM surv s JOIN keep USING (doc_id)
    ), ev_sh AS (
        SELECT DISTINCT array_to_string(list_slice(toks, st, st + 2), ' ')
                   AS shingle
        FROM (SELECT toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT string_split_regex(trim(text), '\s+') AS toks
                    FROM base WHERE source = 'src0'))
    ), tr_sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS shingle
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM fresh))
    ), cont AS (
        SELECT doc_id, COUNT(*) AS n_sh,
               SUM(CASE WHEN shingle IN (SELECT shingle FROM ev_sh)
                        THEN 1 ELSE 0 END) AS n_hit
        FROM tr_sh GROUP BY doc_id
    ), acc1 AS (
        SELECT f.doc_id, f.text, f.source
        FROM fresh f JOIN cont c USING (doc_id)
        WHERE c.n_hit * 2 < c.n_sh
    ), snap AS (
        SELECT doc_id, text, source FROM corp0
        UNION ALL
        SELECT doc_id, text, source FROM acc1
    ), toks AS (
        SELECT doc_id, source AS domain,
               CAST(len(list_filter(
                   string_split_regex(trim(lower(text)), '\s+'),
                   t -> t <> '')) AS BIGINT) AS n_tok,
               md5(CAST(doc_id AS VARCHAR)) AS hk
        FROM snap
    ), cum AS (
        SELECT doc_id, domain, n_tok,
               CAST(SUM(n_tok) OVER (
                   PARTITION BY domain ORDER BY hk ASC, doc_id ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
        FROM toks
    )
    SELECT doc_id, domain, n_tok, cum_tok FROM cum WHERE cum_tok <= 700
    """,
)
def q_corpus_snapshot_recut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-time budget RE-CUT over the COMMITTED corpus-rows
    artifact — the global half the incremental path defers ('a token
    budget is a corpus-global property re-cut at snapshot time, not per
    delta'): day-0 gated corpus rows are bootstrapped through
    corpus_commit (digests + corpus rows — the same helper both
    increments use), a day-1 batch is decided incrementally and
    committed, and the read-back snapshot (day-0 ∪ day-1 acceptances)
    is cut per domain by token_budget_sample. Locks the corpus-rows
    round-trip (write → append → scan) AND that the incremental n_tok
    convention composes with the budget window. Output is the
    budget-sample surface (id, domain, n_tok, cum_tok)."""
    from bigdata_retailrocket_recsys_spark.operators.splits import (
        token_budget_sample,
    )
    from bigdata_retailrocket_recsys_spark.operators.text import (
        quality_filter,
    )
    from bigdata_retailrocket_recsys_spark.pipelines.corpus import (
        build_corpus_incremental,
        corpus_commit,
    )

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).select("doc_id", "text", "source")
    corp0 = quality_filter(base.filter(F.col("doc_id") % 4 != 0)).filter(
        F.col("source").isNull() | (F.col("source") != "src0")
    )
    dig_path = session_scratch(spark, "corpus_recut_digests")
    corpus_path = session_scratch(spark, "corpus_recut_rows")
    import shutil

    for p in (dig_path, corpus_path):
        shutil.rmtree(p, ignore_errors=True)
    corpus_commit(
        corp0,
        corp0.select("doc_id"),
        digest_path=dig_path,
        corpus_path=corpus_path,
    )
    day1 = base.filter(F.col("doc_id") % 4 == 0)
    acc1 = build_corpus_incremental(
        day1,
        spark.read.parquet(dig_path),
        base.filter(F.col("source") == "src0"),
        eval_source="src0",
    )
    corpus_commit(
        day1, acc1, digest_path=dig_path, corpus_path=corpus_path
    )
    snapshot = spark.read.parquet(corpus_path)
    return token_budget_sample(
        snapshot, 700, id_col="doc_id", text_col="text", domain_col="source"
    )


@query(
    "q_stream_corpus_commit",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, text, source FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), qf AS (
        SELECT doc_id, text, source,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                   AS n_toks,
               CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9_ \t\n]'))
                   AS DOUBLE) AS n_punct,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                   AS n_digit
        FROM base
    ), gated AS (
        SELECT doc_id, text, source FROM qf
        WHERE (LEAST(n_toks / 64.0, 1.0) * 0.5
               + (1.0 - LEAST(n_punct / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25
               + (1.0 - LEAST(n_digit / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25) >= 0.5
          AND n_toks >= 5.0
    ), dig0 AS (
        SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS dk
        FROM gated
        WHERE doc_id % 4 IN (2, 3)
          AND (source IS NULL OR source <> 'src0')
    ), ev_sh AS (
        SELECT DISTINCT array_to_string(list_slice(toks, st, st + 2), ' ')
                   AS shingle
        FROM (SELECT toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT string_split_regex(trim(text), '\s+') AS toks
                    FROM base WHERE source = 'src0'))
    ), bat1 AS (
        SELECT doc_id, text, source,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS dk
        FROM gated
        WHERE doc_id % 4 = 1 AND (source IS NULL OR source <> 'src0')
    ), surv1 AS (
        SELECT * FROM bat1 WHERE dk NOT IN (SELECT dk FROM dig0)
    ), keep1 AS (
        SELECT MIN(doc_id) AS doc_id FROM surv1 GROUP BY dk
    ), fresh1 AS (
        SELECT s.doc_id, s.text, s.source, s.dk
        FROM surv1 s JOIN keep1 USING (doc_id)
    ), t1sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS shingle
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM fresh1))
    ), cont1 AS (
        SELECT doc_id, COUNT(*) AS n_sh,
               SUM(CASE WHEN shingle IN (SELECT shingle FROM ev_sh)
                        THEN 1 ELSE 0 END) AS n_hit
        FROM t1sh GROUP BY doc_id
    ), acc1 AS (
        SELECT f.doc_id, f.text, f.source, f.dk
        FROM fresh1 f JOIN cont1 c USING (doc_id)
        WHERE c.n_hit * 2 < c.n_sh
    ), dig1 AS (
        SELECT dk FROM dig0 UNION SELECT dk FROM acc1
    ), bat2 AS (
        SELECT doc_id, text, source,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS dk
        FROM gated
        WHERE doc_id % 4 = 0 AND (source IS NULL OR source <> 'src0')
    ), surv2 AS (
        SELECT * FROM bat2 WHERE dk NOT IN (SELECT dk FROM dig1)
    ), keep2 AS (
        SELECT MIN(doc_id) AS doc_id FROM surv2 GROUP BY dk
    ), fresh2 AS (
        SELECT s.doc_id, s.text, s.source
        FROM surv2 s JOIN keep2 USING (doc_id)
    ), t2sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS shingle
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM fresh2))
    ), cont2 AS (
        SELECT doc_id, COUNT(*) AS n_sh,
               SUM(CASE WHEN shingle IN (SELECT shingle FROM ev_sh)
                        THEN 1 ELSE 0 END) AS n_hit
        FROM t2sh GROUP BY doc_id
    ), acc2 AS (
        SELECT f.doc_id, f.text, f.source
        FROM fresh2 f JOIN cont2 c USING (doc_id)
        WHERE c.n_hit * 2 < c.n_sh
    ), snap AS (
        SELECT doc_id, text, source FROM acc1
        UNION ALL
        SELECT doc_id, text, source FROM acc2
    )
    SELECT doc_id, source AS domain,
           CAST(len(list_filter(
               string_split_regex(trim(lower(text)), '\s+'),
               t -> t <> '')) AS BIGINT) AS n_tok
    FROM snap
    """,
)
def q_stream_corpus_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING daily-delta commit loop (streaming/corpus_intake
    .run_streaming_corpus_commit): every micro-batch is decided against
    the committed corpus state and committed back inside foreachBatch —
    batch 2's exact-dedup anti-join must see batch 1's appended digests,
    which only happens if the per-batch corpus_commit round-trip is
    correct (the q_corpus_incremental_commit semantics, driven by the
    streaming engine). Two staged files under maxFilesPerTrigger=1 +
    latestFirst=false pin the batch order, so the committed corpus-rows
    artifact is deterministic and the whole loop value-hashes against
    the two-step batch CTE chain."""
    from bigdata_retailrocket_recsys_spark.streaming.corpus_intake import (
        run_streaming_corpus_commit,
    )

    return run_streaming_corpus_commit(spark, sf_dir)


@query(
    "q_decontaminate_spans",
    oracle=r"""
    WITH tr AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
          AND (source IS NULL OR source <> 'src0')
    ), ev AS (
        SELECT DISTINCT array_to_string(list_slice(toks, st, st + 2), ' ')
                   AS shingle
        FROM (SELECT toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT string_split_regex(trim(text), '\s+') AS toks
                    FROM documents
                    WHERE text IS NOT NULL AND source = 'src0'))
    ), tok AS (
        SELECT doc_id, p - 1 AS p, toks[p] AS t
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks))) AS p
              FROM tr)
    ), sp AS (
        SELECT doc_id, st - 1 AS s,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS span
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks) - 2)) AS st
              FROM tr WHERE len(toks) >= 3)
    ), cov AS (
        SELECT DISTINCT doc_id, p
        FROM (SELECT doc_id, unnest(generate_series(s, s + 2)) AS p
              FROM sp WHERE span IN (SELECT shingle FROM ev))
    ), flagged AS (
        SELECT t.doc_id, t.p, t.t, c.p IS NOT NULL AS rm
        FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           COALESCE(string_agg(CASE WHEN NOT rm THEN t END, ' '
                               ORDER BY p ASC), '') AS text_clean
    FROM flagged GROUP BY doc_id
    """,
)
def q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURGICAL decontamination (operators/dedup
    .strip_contaminated_spans): every train token covered by a 3-gram
    present anywhere in the eval split (source='src0') is cut and the
    doc rebuilt in original order — the scalpel to contamination_check's
    whole-doc drop (a doc quoting one benchmark question keeps its
    other 99%). One corpus-wide distinct eval shingle set semi-joined
    to train spans, covered positions unioned through a distinct, ONE
    by-doc groupBy rebuilds (the strip_repeated_lines one-pass shape).
    The cleaned TEXT itself is hashed."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        strip_contaminated_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    return strip_contaminated_spans(
        docs.filter(F.col("source").isNull() | (F.col("source") != "src0")),
        docs.filter(F.col("source") == "src0"),
        n=3,
    )


@query(
    "q_corpus_pipeline_surgical",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, text, source FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), qf AS (
        SELECT doc_id, text, source,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                   AS n_toks,
               CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9_ \t\n]'))
                   AS DOUBLE) AS n_punct,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                   AS n_digit
        FROM base
    ), gated AS (
        SELECT doc_id, text, source FROM qf
        WHERE (LEAST(n_toks / 64.0, 1.0) * 0.5
               + (1.0 - LEAST(n_punct / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25
               + (1.0 - LEAST(n_digit / GREATEST(n_chars, 1.0) * 4.0, 1.0))
                   * 0.25) >= 0.5
          AND n_toks >= 5.0
    ), keepers AS (
        SELECT MIN(doc_id) AS doc_id
        FROM (SELECT doc_id,
                     md5(trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS dk
              FROM gated)
        GROUP BY dk
    ), train AS (
        SELECT g.doc_id, g.text, g.source,
               string_split_regex(trim(g.text), '\s+') AS toks
        FROM gated g JOIN keepers k USING (doc_id)
        WHERE g.source IS NULL OR g.source <> 'src0'
    ), ev AS (
        SELECT DISTINCT array_to_string(list_slice(toks, st, st + 2), ' ')
                   AS shingle
        FROM (SELECT toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT string_split_regex(trim(text), '\s+') AS toks
                    FROM base WHERE source = 'src0'))
    ), tok AS (
        SELECT doc_id, p - 1 AS p, toks[p] AS t
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks))) AS p
              FROM train)
    ), sp AS (
        SELECT doc_id, st - 1 AS s,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS span
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks) - 2)) AS st
              FROM train WHERE len(toks) >= 3)
    ), cov AS (
        SELECT DISTINCT doc_id, p
        FROM (SELECT doc_id, unnest(generate_series(s, s + 2)) AS p
              FROM sp WHERE span IN (SELECT shingle FROM ev))
    ), reb AS (
        SELECT t.doc_id,
               COALESCE(string_agg(CASE WHEN c.p IS NULL THEN t.t END, ' '
                                   ORDER BY t.p ASC), '') AS text_clean
        FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
        GROUP BY t.doc_id
    ), clean AS (
        SELECT t.doc_id, r.text_clean AS text, t.source
        FROM train t JOIN reb r USING (doc_id)
        WHERE r.text_clean <> ''
    ), toks2 AS (
        SELECT doc_id, source AS domain,
               CAST(len(list_filter(
                   string_split_regex(trim(lower(text)), '\s+'),
                   t -> t <> '')) AS BIGINT) AS n_tok,
               md5(CAST(doc_id AS VARCHAR)) AS hk
        FROM clean
    ), cum AS (
        SELECT doc_id, domain, n_tok,
               CAST(SUM(n_tok) OVER (
                   PARTITION BY domain ORDER BY hk ASC, doc_id ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
        FROM toks2
    )
    SELECT doc_id, domain, n_tok, cum_tok FROM cum WHERE cum_tok <= 700
    """,
)
def q_corpus_pipeline_surgical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus pipeline with SURGICAL decontamination
    (build_corpus(decontaminate_mode='strip')): instead of dropping
    ≥50%-contaminated docs whole, every eval-overlapping 3-gram span is
    CUT (strip_contaminated_spans), the rest of each doc survives, the
    budget charges CLEANED token counts, and emptied docs drop. The
    whole quality→dedup→span-strip→budget composition is hashed by one
    DuckDB CTE chain — any off-by-one in the covered-position union
    shifts a token count and breaks the budget hash."""
    from bigdata_retailrocket_recsys_spark.pipelines.corpus import (
        build_corpus,
    )

    return build_corpus(
        _t(spark, sf_dir, "documents"),
        eval_source="src0",
        budget_tokens=700,
        decontaminate_mode="strip",
    )


@query(
    "q_quality_share_cut",
    oracle=r"""
    WITH f AS (
        SELECT doc_id, source AS domain,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                   AS n_toks,
               CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9_ \t\n]'))
                   AS DOUBLE) AS n_punct,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                   AS n_digit
        FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), qu AS (
        SELECT doc_id, domain,
               CAST(FLOOR((LEAST(n_toks / 64.0, 1.0) * 0.5
                 + (1.0 - LEAST(n_punct / GREATEST(n_chars, 1.0) * 4.0,
                                1.0)) * 0.25
                 + (1.0 - LEAST(n_digit / GREATEST(n_chars, 1.0) * 4.0,
                                1.0)) * 0.25) * 1e9) AS BIGINT) AS quality_u
        FROM f
    )
    SELECT doc_id, domain, quality_u
    FROM qu
    QUALIFY ROW_NUMBER() OVER (
                PARTITION BY domain
                ORDER BY quality_u DESC,
                         md5(CAST(doc_id AS VARCHAR)) ASC,
                         doc_id ASC) * 4
            <= 1 * COUNT(*) OVER (PARTITION BY domain)
    """,
)
def q_quality_share_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain top-quality-share cut (operators/splits
    .top_share_by_score): keep exactly floor(n/4) best-scored docs per
    domain — the FineWeb 'best q% per domain' move, between a hard
    threshold and a fixed k-per-group. The share is an exact rational
    (rn·4 ≤ 1·n integer cross-multiplication), the score is the
    µ-floored composite quality (floor(score·1e9) bigint — the
    sanctioned float rule), ties break on md5(id) then id. ONE window
    partitioning serves both the rank and the group count."""
    from bigdata_retailrocket_recsys_spark.operators.splits import (
        top_share_by_score,
    )
    from bigdata_retailrocket_recsys_spark.operators.text import (
        _quality_exprs,
    )

    docs = _t(spark, sf_dir, "documents")
    _, _, _, _, _, score = _quality_exprs("text")
    qu = docs.filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).select(
        "doc_id",
        F.col("source").alias("domain"),
        F.floor(score * F.lit(1e9)).cast("bigint").alias("quality_u"),
    )
    return top_share_by_score(
        qu,
        group_col="domain",
        score_col="quality_u",
        share_num=1,
        share_den=4,
        id_col="doc_id",
    )


@query(
    "q_corpus_pipeline_gopher",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, text || ' the of and it is' AS text, source
        FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), gm AS (
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
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
                               'with')))) AS BIGINT) AS n_stop
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\s+'),
                                 t -> t <> '') AS words,
                     list_filter(string_split_regex(text, '\n'),
                                 l -> trim(l) <> '') AS lines
              FROM base)
    ), gated AS (
        SELECT b.doc_id, b.text, b.source
        FROM base b JOIN gm USING (doc_id)
        WHERE gm.n_words >= 50 AND gm.n_words <= 100000
          AND 3 * gm.n_words <= gm.sum_chars
          AND gm.sum_chars <= 10 * gm.n_words
          AND 10 * gm.n_symbols < gm.n_words
          AND 10 * gm.n_bullet < 9 * gm.n_lines
          AND 10 * gm.n_ell_end < 3 * gm.n_lines
          AND 5 * gm.n_alpha > 4 * gm.n_words
          AND gm.n_stop >= 2
    ), keepers AS (
        SELECT MIN(doc_id) AS doc_id
        FROM (SELECT doc_id,
                     md5(trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS dk
              FROM gated)
        GROUP BY dk
    ), train AS (
        SELECT g.doc_id, g.text, g.source
        FROM gated g JOIN keepers k USING (doc_id)
        WHERE g.source IS NULL OR g.source <> 'src0'
    ), ev_sh AS (
        SELECT DISTINCT array_to_string(list_slice(toks, st, st + 2), ' ')
                   AS shingle
        FROM (SELECT toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT string_split_regex(trim(text), '\s+') AS toks
                    FROM base WHERE source = 'src0'))
    ), tr_sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS shingle
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM train))
    ), cont AS (
        SELECT doc_id, COUNT(*) AS n_sh,
               SUM(CASE WHEN shingle IN (SELECT shingle FROM ev_sh)
                        THEN 1 ELSE 0 END) AS n_hit
        FROM tr_sh GROUP BY doc_id
    ), clean AS (
        SELECT t.doc_id, t.text, t.source
        FROM train t JOIN cont c USING (doc_id)
        WHERE c.n_hit * 2 < c.n_sh
    ), toks AS (
        SELECT doc_id, source AS domain,
               CAST(len(list_filter(
                   string_split_regex(trim(lower(text)), '\s+'),
                   t -> t <> '')) AS BIGINT) AS n_tok,
               md5(CAST(doc_id AS VARCHAR)) AS hk
        FROM clean
    ), cum AS (
        SELECT doc_id, domain, n_tok,
               CAST(SUM(n_tok) OVER (
                   PARTITION BY domain ORDER BY hk ASC, doc_id ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
        FROM toks
    )
    SELECT doc_id, domain, n_tok, cum_tok FROM cum WHERE cum_tok <= 700
    """,
)
def q_corpus_pipeline_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus pipeline gated by the GOPHER rules instead of the
    composite score (build_corpus's pluggable ``gate`` hook, r10): the
    Rae et al. §A1.1 seven-flag conjunction (gopher_metric_exprs — the
    same fused expression tree corpus_profile uses) runs as the narrow
    first-pass filter, and dedup → decontamination → budget compose
    unchanged. Proves the gate seam: a user can swap in any published
    heuristic gate without touching the rest of the pipeline, and the
    whole composition still value-hashes end-to-end.

    The synthetic fixture tokens contain no English stop words, so the
    Gopher stop-word rule would zero the corpus (probed) — the entry
    stages a deterministic stopword-bearing suffix in BOTH engines,
    making ~half the docs pass and the gate genuinely selective."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        gopher_metric_exprs,
    )
    from bigdata_retailrocket_recsys_spark.pipelines.corpus import (
        build_corpus,
    )

    def _gopher_gate(df: DataFrame) -> DataFrame:
        _nw, _nl, flags = gopher_metric_exprs("text")
        cond = None
        for v in flags.values():
            cond = v if cond is None else (cond & v)
        return df.filter(cond)

    docs = _t(spark, sf_dir, "documents")
    staged = docs.withColumn(
        "text",
        F.when(
            F.col("text").isNotNull(),
            F.concat(F.col("text"), F.lit(" the of and it is")),
        ),
    )
    return build_corpus(
        staged,
        eval_source="src0",
        budget_tokens=700,
        gate=_gopher_gate,
    )


@query(
    "q_text_dedup_lines_within",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, replace(text, ' ', chr(10)) AS text FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), l AS (
        SELECT doc_id, p - 1 AS p, lns[p] AS ln
        FROM (SELECT doc_id, string_split(text, chr(10)) AS lns
              FROM base),
             LATERAL (SELECT unnest(generate_series(1, len(lns))) AS p)
    ), h AS (
        SELECT doc_id, p, ln,
               CASE WHEN trim(ln) <> '' THEN
                   md5(trim(regexp_replace(lower(ln), '\s+', ' ', 'g')))
               END AS hh
        FROM l
    ), k AS (
        SELECT doc_id, p, ln, hh,
               (hh IS NULL OR ROW_NUMBER() OVER (
                    PARTITION BY doc_id, hh ORDER BY p) = 1) AS keep
        FROM h
    ), reb AS (
        SELECT doc_id,
               string_agg(ln, chr(10) ORDER BY p ASC) AS text_clean
        FROM k WHERE keep GROUP BY doc_id
    ), tot AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN hh IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_removed
        FROM k GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_lines, t.n_removed,
           COALESCE(r.text_clean, '') AS text_clean
    FROM tot t LEFT JOIN reb r USING (doc_id)
    """,
)
def q_text_dedup_lines_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated-line dedup (operators/text
    .dedup_lines_within): keep the FIRST occurrence of each normalized
    non-blank line inside a document, drop later repeats — the
    internal-stutter cleaner (scraped pages repeating a paragraph, log
    spam), complementing q_text_strip_repeated_lines' CROSS-document
    prevalence pass. First-occurrence flag = row_number over
    (doc, line-digest); blank lines are structure and always survive.
    The fixture's documents are single-line, so BOTH engines stage
    deterministic line structure by splitting on spaces (every token a
    line — the fixtures' repeated tokens make the op genuinely
    selective). Cleaned TEXT is hashed."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        dedup_lines_within,
    )

    docs = _t(spark, sf_dir, "documents")
    staged = docs.withColumn("text", F.translate("text", " ", "\n"))
    return dedup_lines_within(staged)


@query(
    "q_corpus_overlap_matrix",
    oracle=r"""
    WITH tok AS (
        SELECT source, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
        WHERE source IS NOT NULL AND doc_id IS NOT NULL
          AND text IS NOT NULL
    ), sh AS (
        SELECT DISTINCT source,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS s
        FROM (SELECT source, toks,
                     unnest(generate_series(
                         1, GREATEST(len(toks) - 2, 1))) AS st
              FROM tok)
        WHERE array_to_string(list_slice(toks, st, st + 2), ' ') <> ''
    ), sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh
        FROM sh GROUP BY source
    ), common AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT sa.source AS src_a, sb.source AS src_b,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(COALESCE(c.n_shared, 0) AS BIGINT) AS n_shared,
           CAST(COALESCE(c.n_shared, 0) AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - COALESCE(c.n_shared, 0)
                      AS DOUBLE) AS jaccard,
           CAST(COALESCE(c.n_shared, 0) AS DOUBLE)
               / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE) AS overlap_coef
    FROM sizes sa
    JOIN sizes sb ON sa.source < sb.source
    LEFT JOIN common c ON c.src_a = sa.source AND c.src_b = sb.source
    """,
)
def q_corpus_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source 3-gram overlap matrix (operators/text
    .source_overlap_matrix) — per source pair, shared distinct shingle
    vocabulary with Jaccard and overlap coefficient: the mixture-design /
    leakage-triage report (a near-1 overlap_coef flags a mirror or a
    contamination channel). Distinct (source, digest) rows shuffle
    16-byte md5 digests, never shingle text; the pair grid is a
    source-cardinality-bounded broadcast so zero-overlap pairs still
    appear. Exact integers + two single IEEE divisions."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        source_overlap_matrix,
    )

    return source_overlap_matrix(
        _t(spark, sf_dir, "documents"), shingle_n=3
    )


@query(
    "q_dedup_lsh_audit",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ), sh AS (
        SELECT doc_id AS doc,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS s
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
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
    ), truth AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON sa.doc = doc_a
        JOIN sizes sb ON sb.doc = doc_b
        WHERE CAST(n_common AS DOUBLE)
                  / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
    ), sig AS (
        SELECT doc, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS h
        FROM sh, (SELECT unnest(generate_series(0, 15)) AS j)
        GROUP BY doc, j
    ), band AS (
        SELECT doc, j // 4 AS band,
               md5(string_agg(h, '_' ORDER BY j ASC)) AS bucket
        FROM sig GROUP BY doc, j // 4
    ), cand AS (
        SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        FROM band a JOIN band b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
    ), fj AS (
        SELECT t.doc_a IS NOT NULL AS is_t, c.doc_a IS NOT NULL AS is_c
        FROM truth t FULL OUTER JOIN cand c
          ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT
        CAST(COALESCE(SUM(CASE WHEN is_t THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS n_truth,
        CAST(COALESCE(SUM(CASE WHEN is_c THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS n_candidates,
        CAST(COALESCE(SUM(CASE WHEN is_t AND is_c THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS n_hits,
        CAST(COALESCE(SUM(CASE WHEN is_t AND NOT is_c THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS n_misses,
        CAST(COALESCE(SUM(CASE WHEN NOT is_t AND is_c THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS n_false_alarms
    FROM fj
    """,
)
def q_dedup_lsh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH recall/precision audit (operators/dedup.lsh_audit,
    md5 tier): banded candidates vs exact 3-gram-Jaccard ground truth
    (≥ 0.5), one ALL-INTEGER confusion row — n_truth, n_candidates,
    n_hits, n_misses (recall failures, the silent-data-loss direction),
    n_false_alarms (wasted verify work). The whole
    truth-chain + signature-chain + full-outer confusion join is
    value-hashed; the xxhash64 scale tier threads through hash_fn. Run
    at sample scale before committing a banding config to a full-corpus
    dedup pass."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import lsh_audit

    return lsh_audit(
        _t(spark, sf_dir, "documents"),
        shingle_n=3,
        num_hashes=16,
        bands=4,
        min_jaccard=0.5,
        hash_fn="md5",
    )


@query(
    "q_split_leakage_safe",
    oracle=r"""
    WITH RECURSIVE base AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ), sh AS (
        SELECT doc_id AS doc,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS s
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
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
    ), sig AS (
        SELECT doc, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS h
        FROM sh, (SELECT unnest(generate_series(0, 15)) AS j)
        GROUP BY doc, j
    ), band AS (
        SELECT doc, j // 4 AS band,
               md5(string_agg(h, '_' ORDER BY j ASC)) AS bucket
        FROM sig GROUP BY doc, j // 4
    ), cand AS (
        SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        FROM band a JOIN band b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
    ), verified AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN common m ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
        JOIN sizes sa ON sa.doc = c.doc_a
        JOIN sizes sb ON sb.doc = c.doc_b
        WHERE CAST(m.n_common AS DOUBLE)
                  / CAST(sa.n_sh + sb.n_sh - m.n_common AS DOUBLE) >= 0.5
    ), edges AS (
        SELECT doc_a AS s, doc_b AS d FROM verified
        UNION SELECT doc_b, doc_a FROM verified
    ), reach(s, d) AS (
        SELECT doc_id, doc_id FROM base
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ), cc AS (
        SELECT s AS doc_id, MIN(d) AS cluster_id FROM reach GROUP BY s
    )
    SELECT doc_id, cluster_id,
           CASE WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 4)
                     < 'cccd'
                THEN 'train' ELSE 'eval' END AS split
    FROM cc
    """,
)
def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware 80/20 split (operators/splits.leakage_safe_split,
    md5 tier): banded MinHash candidates → exact-Jaccard verification
    (≥ 0.5) → connected components → hash_split keyed on the CLUSTER id,
    so no near-dup pair ever straddles the train/eval boundary (the
    benchmark-contamination bug a per-doc hash split commits). Oracle:
    the same candidate+verify chain, a recursive-CTE transitive closure,
    and the identical fixed-width-hex md5 threshold ('cccd' = 0.8 of the
    16-bit space)."""
    from bigdata_retailrocket_recsys_spark.operators.splits import (
        leakage_safe_split,
    )

    return leakage_safe_split(
        _t(spark, sf_dir, "documents"),
        splits=[("train", 0.8), ("eval", 0.2)],
        shingle_n=3,
        num_hashes=16,
        bands=4,
        min_jaccard=0.5,
        hash_fn="md5",
    )


@query(
    "q_text_c4_rules",
    oracle=r"""
    WITH staged AS (
        SELECT doc_id,
               concat_ws(chr(10),
                   text || CASE WHEN ((doc_id % 2) + 2) % 2 = 0
                                THEN '.' ELSE '' END,
                   'too short',
                   CASE WHEN ((doc_id % 5) + 5) % 5 = 0
                        THEN 'lorem ipsum filler text here.' END,
                   CASE WHEN ((doc_id % 7) + 7) % 7 = 0
                        THEN 'code { block } sample line.' END,
                   CASE WHEN ((doc_id % 3) + 3) % 3 = 0
                        THEN 'one two three. four five six. '
                             || 'seven eight nine. ten eleven twelve. '
                             || 'final words here.' END
               ) AS text
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), k AS (
        SELECT doc_id, text,
               string_split(text, chr(10)) AS lns,
               list_filter(string_split(text, chr(10)),
                   x -> regexp_matches(trim(x), '[.!?"]$')
                        AND len(string_split_regex(trim(x), '\s+')) >= 3)
                   AS kept
        FROM staged
    )
    SELECT doc_id,
           CAST(len(lns) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept_lines,
           CAST(len(regexp_extract_all(
               COALESCE(array_to_string(kept, chr(10)), ''), '[.!?]'))
               AS BIGINT) AS n_sentences,
           CAST(contains(text, '{') OR contains(text, '}') AS INT)
               AS has_brace,
           CAST(contains(lower(text), 'lorem ipsum') AS INT) AS has_lorem,
           CAST(len(regexp_extract_all(
                    COALESCE(array_to_string(kept, chr(10)), ''),
                    '[.!?]')) >= 5
                AND NOT (contains(text, '{') OR contains(text, '}'))
                AND NOT contains(lower(text), 'lorem ipsum') AS INT)
               AS c4_pass,
           COALESCE(array_to_string(kept, chr(10)), '') AS text_clean
    FROM k
    """,
)
def q_text_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules (operators/text.c4_rules — Raffel et al. 2020
    §2.2, the T5 corpus filter): line level keeps only
    terminal-punctuation lines with ≥3 words; page level flags
    <5 sentences, curly braces (code), and 'lorem ipsum' — completing
    the published-heuristic family (Gopher §A1.1/§A1.2, CCNet, DSIR).
    All array higher-order functions, narrow, zero shuffle. The
    single-line fixture has no punctuation/braces, so BOTH engines
    stage deterministic structure (terminal '.' on even ids, a
    too-short line, lorem/brace/sentence lines on 5/7/3 residues —
    sign-safe modulo for negative adversarial ids); kept-lines TEXT is
    hashed."""
    from bigdata_retailrocket_recsys_spark.operators.text import c4_rules

    docs = _t(spark, sf_dir, "documents")
    staged = docs.withColumn(
        "text",
        F.when(
            F.col("text").isNotNull() & F.col("doc_id").isNotNull(),
            F.concat_ws(
                "\n",
                F.concat(
                    F.col("text"),
                    F.when(
                        F.pmod(F.col("doc_id"), F.lit(2)) == 0, F.lit(".")
                    ).otherwise(F.lit("")),
                ),
                F.lit("too short"),
                F.when(
                    F.pmod(F.col("doc_id"), F.lit(5)) == 0,
                    F.lit("lorem ipsum filler text here."),
                ),
                F.when(
                    F.pmod(F.col("doc_id"), F.lit(7)) == 0,
                    F.lit("code { block } sample line."),
                ),
                F.when(
                    F.pmod(F.col("doc_id"), F.lit(3)) == 0,
                    F.lit(
                        "one two three. four five six. "
                        "seven eight nine. ten eleven twelve. "
                        "final words here."
                    ),
                ),
            ),
        ),
    )
    return c4_rules(staged, min_words_per_line=3, min_sentences=5)


@query(
    "q_quality_length_iqr",
    oracle=r"""
    WITH staged AS (
        SELECT doc_id, source,
               CASE WHEN ((doc_id % 97) + 97) % 97 = 0
                    THEN repeat(text || ' ', 12) ELSE text END AS text
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), c AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS n_tok
        FROM staged
    ), r AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_tok, doc_id) AS rnk,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM c
    ), q AS (
        SELECT source,
               CAST(MAX(CASE WHEN rnk = (n + 3) // 4 THEN n_tok END)
                    AS BIGINT) AS q1,
               CAST(MAX(CASE WHEN rnk = (3 * n + 3) // 4 THEN n_tok END)
                    AS BIGINT) AS q3
        FROM r GROUP BY source
    )
    SELECT c.doc_id, c.source, c.n_tok, q.q1, q.q3,
           CAST(2 * c.n_tok < 2 * q.q1 - 3 * (q.q3 - q.q1)
                OR 2 * c.n_tok > 2 * q.q3 + 3 * (q.q3 - q.q1) AS INT)
               AS is_outlier
    FROM c JOIN q ON c.source IS NOT DISTINCT FROM q.source
    """,
)
def q_quality_length_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain robust length-outlier gate (operators/text
    .length_outlier_gate): Tukey IQR fence over token counts, quartiles
    as ORDER STATISTICS (value at rank ceil(q·n) — deterministic under
    ties) and the 1.5 factor as the integer cross-multiplication
    2·v < 2·Q1 − 3·IQR — all-integer, exact on any engine. One sharded
    per-group global rank (never a single-reducer domain window), a
    groups-bounded quartile table broadcast back null-safe. The entry
    stages a few extreme docs (×12 token repeat on the 97-residue, both
    engines) so the fence genuinely fires."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        length_outlier_gate,
    )

    docs = _t(spark, sf_dir, "documents")
    staged = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id").isNotNull()
            & F.col("text").isNotNull()
            & (F.pmod(F.col("doc_id"), F.lit(97)) == 0),
            F.repeat(F.concat(F.col("text"), F.lit(" ")), 12),
        ).otherwise(F.col("text")),
    )
    return length_outlier_gate(staged)


@query(
    "q_epoch_shuffle_stratified",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, source FROM documents WHERE doc_id IS NOT NULL
    ), w AS (
        SELECT doc_id, source,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5('3:' || CAST(doc_id AS VARCHAR)) ASC,
                            doc_id ASC) AS BIGINT) AS within_rank
        FROM base
    )
    SELECT doc_id, source, within_rank,
           CAST(ROW_NUMBER() OVER (
               ORDER BY within_rank ASC,
                        md5('3:' || COALESCE(CAST(source AS VARCHAR),
                                             chr(0) || 'null')) ASC,
                        doc_id ASC) AS BIGINT) AS shuffle_pos
    FROM w
    """,
)
def q_epoch_shuffle_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-INTERLEAVED per-epoch training order (operators/splits
    .epoch_shuffle_stratified, epoch=3): within-domain md5(epoch:id)
    shuffle rank, then global position by (within_rank, md5(epoch:
    domain), id) — positions round-robin the domains (every k-th block
    is one pick per surviving domain), killing the domain clumping a
    plain shuffle leaves to chance. BOTH ranks are sharded global ranks
    (grouped form range-leads with the domain); a NULL domain is its own
    stratum. Oracle: the two plain ROW_NUMBERs the sharded forms must
    equal."""
    from bigdata_retailrocket_recsys_spark.operators.splits import (
        epoch_shuffle_stratified,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return epoch_shuffle_stratified(
        docs, 3, id_col="doc_id", group_col="source"
    )


@query(
    "q_sample_weighted",
    oracle=r"""
    WITH c AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS n_tok
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    )
    SELECT doc_id, source, n_tok,
           (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     ::BIGINT + 1 AS DOUBLE) / 4294967296.0)
               / CAST(n_tok AS DOUBLE) AS sample_key
    FROM c WHERE n_tok > 0
    ORDER BY sample_key ASC, doc_id ASC
    LIMIT 50
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted corpus subsample without replacement
    (operators/splits.weighted_sample, k=50, weight = whitespace token
    count): sequential Poisson sampling — key = u/w with u=(h+1)/2³²
    from md5(id), take the k smallest; inclusion probability ≈ k·w/Σw.
    u is an exact dyadic rational (power-of-two division) and the key
    is ONE IEEE division of exact operands, so even the double key
    value-hashes cross-engine; no libm. Global top-k is
    TakeOrderedAndProject — per-partition heaps, never a full sort."""
    from bigdata_retailrocket_recsys_spark.operators.splits import (
        weighted_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        F.size(
            F.split(F.trim(F.col("text")), r"\s+")
        ).cast("bigint").alias("n_tok"),
    )
    return weighted_sample(base, 50, id_col="doc_id", weight_col="n_tok")


@query(
    "q_quality_rank_calibrate",
    oracle=r"""
    WITH c AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS n_tok
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), r AS (
        SELECT doc_id, source, n_tok,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY n_tok ASC, doc_id ASC)
                    AS BIGINT) AS rnk,
               CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
        FROM c
    )
    SELECT doc_id, source, n_tok, rnk, n,
           CASE WHEN n = 1 THEN 0.5
                ELSE CAST(rnk - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
           END AS pct
    FROM r
    """,
)
def q_quality_rank_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain rank-percentile calibration (operators/splits
    .rank_calibrate, score = token count): pct = (rank−1)/(n−1) within
    each source — raw scores are not comparable across domains, rank
    percentiles are ("top 10% of its domain" means the same thing
    everywhere). Rank is a sharded per-group global rank with the
    null-safe join-back; pct is ONE IEEE division of exact integers
    (single-row domains pinned to 0.5), so the double value-hashes."""
    from bigdata_retailrocket_recsys_spark.operators.splits import (
        rank_calibrate,
    )

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        F.size(
            F.split(F.trim(F.col("text")), r"\s+")
        ).cast("bigint").alias("n_tok"),
    )
    return rank_calibrate(
        base, group_col="source", score_col="n_tok", id_col="doc_id"
    )


@query(
    "q_dedup_containment",
    oracle=r"""
    WITH tok AS (
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
    )
    SELECT doc_a, doc_b, n_common,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(n_common AS DOUBLE) / CAST(sa.n_sh AS DOUBLE)
               AS containment_a,
           CAST(n_common AS DOUBLE) / CAST(sb.n_sh AS DOUBLE)
               AS containment_b
    FROM common
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE GREATEST(CAST(n_common AS DOUBLE) / CAST(sa.n_sh AS DOUBLE),
                   CAST(n_common AS DOUBLE) / CAST(sb.n_sh AS DOUBLE))
              >= 0.9
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-superset pairs (operators/dedup
    .containment_pairs): shingle-set containment |A∩B|/|A| instead of
    Jaccard — the quote/syndication geometry Jaccard misses (a short
    article embedded in a long aggregation page has Jaccard ≈ 0 but
    containment 1). Blocked on (lang, source) like the Jaccard entry;
    both directions emitted, pair survives when either reaches 0.9.
    Each containment is ONE IEEE division of exact integer counts."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        containment_pairs,
    )

    return containment_pairs(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        block_cols=["lang", "source"],
        shingle_n=1,
        min_containment=0.9,
    )


@query(
    "q_scan_provenance",
    oracle=r"""
    SELECT doc_id, 'documents.parquet' AS file_name,
           CAST(length('documents.parquet') > 0 AS INT) AS has_provenance
    FROM documents WHERE doc_id IS NOT NULL
    """,
)
def q_scan_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-provenance columns on a parquet scan (Spark's hidden
    `_metadata` struct — the lineage surface a 100 TB ingest needs to
    answer "which crawl shard did this row come from"): every row
    carries its source file's basename, selected straight off the scan
    (zero cost — no shuffle, constant-folded per split). Oracle is a
    literal contract (the fixture table is exactly one known file, the
    q_scan_csv_corrupt pattern): every row must carry the right
    basename — a reader that lost or mangled provenance breaks the
    hash."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id").isNotNull()).select(
        "doc_id",
        F.col("_metadata.file_name").alias("file_name"),
        (F.length(F.col("_metadata.file_path")) > 0)
        .cast("int")
        .alias("has_provenance"),
    )


@query(
    "q_agg_weighted_median",
    oracle=r"""
    WITH c AS (
        SELECT source,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS n_tok,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), g AS (
        SELECT source, n_tok, CAST(SUM(n_chars) AS BIGINT) AS w
        FROM c GROUP BY source, n_tok
    ), cum AS (
        SELECT source, n_tok, w,
               CAST(SUM(w) OVER (PARTITION BY source ORDER BY n_tok ASC)
                    AS BIGINT) AS cw,
               CAST(SUM(w) OVER (PARTITION BY source) AS BIGINT) AS tot
        FROM g
    )
    SELECT source,
           MIN(CASE WHEN 2 * cw >= tot THEN n_tok END) AS w_median,
           MAX(tot) AS total_w
    FROM cum GROUP BY source
    """,
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-weighted median token count per source
    (operators/aggregates.weighted_median): smallest value whose
    cumulative weight reaches half the group total, halving as the
    integer cross-multiplication 2·cum ≥ W — exact on any engine. One
    (group, value) pre-aggregation (making the cumsum key unique), a
    sharded range prefix sum (_sharded_prefix_sum — group-leading
    contiguous shards + broadcast offsets, never a single-reducer
    window), one min-over-qualifying aggregate."""
    from bigdata_retailrocket_recsys_spark.operators.aggregates import (
        weighted_median,
    )

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).select(
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("bigint")
        .alias("n_tok"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return weighted_median(
        base, group_col="source", value_col="n_tok", weight_col="n_chars"
    )


@query(
    "q_text_mojibake",
    oracle=r"""
    WITH staged AS (
        SELECT doc_id,
               CASE WHEN ((doc_id % 11) + 11) % 11 = 0
                    THEN text || ' ' || repeat(chr(65533), 5)
                    WHEN ((doc_id % 13) + 13) % 13 = 0
                    THEN text || chr(7) || chr(1) || 'tail'
                    ELSE text END AS text
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    )
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(regexp_extract_all(text, chr(65533))) AS BIGINT)
               AS n_replacement,
           CAST(len(regexp_extract_all(text,
               '[\x00-\x08\x0b\x0c\x0e-\x1f]')) AS BIGINT) AS n_control,
           CAST(100 * (len(regexp_extract_all(text, chr(65533)))
                       + len(regexp_extract_all(text,
                             '[\x00-\x08\x0b\x0c\x0e-\x1f]')))
                > 1 * length(text) AS INT) AS is_mojibake
    FROM staged
    """,
)
def q_text_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage gate (operators/text.mojibake_gate): count U+FFFD
    replacement chars (lossy-decode tombstones) and C0 control chars
    (tab/newline/CR excluded — legitimate structure), gate on the
    integer cross-multiplication 100·bad > 1·chars. Narrow, zero
    shuffle. The clean fixture is staged in BOTH engines: replacement
    runs on the 11-residue, BEL/SOH control bytes on the 13-residue,
    sign-safe modulo for adversarial ids."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        mojibake_gate,
    )

    docs = _t(spark, sf_dir, "documents")
    staged = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id").isNotNull() & F.col("text").isNotNull(),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(11)) == 0,
                F.concat(
                    F.col("text"), F.lit(" "), F.lit("�" * 5)
                ),
            )
            .when(
                F.pmod(F.col("doc_id"), F.lit(13)) == 0,
                F.concat(
                    F.col("text"), F.lit("\x07\x01tail")
                ),
            )
            .otherwise(F.col("text")),
        ),
    )
    return mojibake_gate(staged, max_bad_pct=1)


@query(
    "q_join_fuzzy_levenshtein",
    oracle=r"""
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.p_name AS key_a, b.p_name AS key_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS distance
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
     AND abs(length(a.p_name) - length(b.p_name)) <= 2
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def q_join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join (operators/joins.fuzzy_pairs): part-name
    pairs within 2 Levenshtein edits inside one brand — the
    entity-resolution staple for short strings where token-set
    similarity is useless (one typo changes every shingle but is 1
    edit). Equi-join on the block key, a length-difference prune ahead
    of the DP, exact integer distance on any engine."""
    from bigdata_retailrocket_recsys_spark.operators.joins import (
        fuzzy_pairs,
    )

    return fuzzy_pairs(
        _t(spark, sf_dir, "part"),
        id_col="p_partkey",
        key_col="p_name",
        block_cols=["p_brand"],
        max_distance=2,
    )


@query(
    "q_multimodal_neardup",
    oracle=r"""
    WITH a AS (
        SELECT doc_id AS asset_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ), s AS (
        SELECT asset_id, hx, n,
               unnest(generate_series(1, GREATEST(n, 1), 64)) AS off
        FROM a
    ), c AS (
        SELECT asset_id,
               CAST(GREATEST(LEAST(64, n - off + 1), 0) AS INT)
                   AS chunk_len,
               md5(substring(hx, CAST(off AS BIGINT) * 2 - 1, 128))
                   AS ch
        FROM s
    ), sh AS (
        SELECT DISTINCT asset_id AS doc, ch AS shingle
        FROM c WHERE chunk_len > 0 OR ch = md5('')
    ), sizes AS (
        SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc
    ), common AS (
        SELECT a2.doc AS doc_a, b2.doc AS doc_b, COUNT(*) AS n_common
        FROM sh a2 JOIN sh b2
          ON a2.shingle = b2.shingle AND a2.doc < b2.doc
        GROUP BY a2.doc, b2.doc
    )
    SELECT doc_a, doc_b, n_common,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(n_common AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE CAST(n_common AS DOUBLE)
              / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
    """,
)
def q_multimodal_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY near-dup at chunk grain: assets sharing ≥ 0.5 Jaccard of
    their 64-byte chunk digests — the blob-dedup tier for media shards
    (re-uploads, appended/truncated files; chunks are digested, payload
    bytes never shuffle). Composition: attach_fake_media →
    chunk_binary (the q_multimodal_chunk plumbing) → chunk digests as
    shingles → ngram_jaccard_pairs(shingles=). Fixed-offset chunks mean
    one INSERTED byte shifts every later chunk (content-defined chunking
    is the remedy at ingest); byte-identical and tail-modified blobs are
    caught. DuckDB replays the chunks as hex slices (the hex-injective
    q_multimodal_chunk trick)."""
    from bigdata_retailrocket_recsys_spark.operators.multimodal import (
        attach_fake_media,
        chunk_binary,
    )

    assets = attach_fake_media(
        _t(spark, sf_dir, "documents").filter(
            F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        ),
        id_col="doc_id",
        payload_from="text",
    )
    chunks = chunk_binary(assets, chunk_bytes=64, overlap_bytes=0)
    sh = chunks.select(
        F.col("asset_id").alias("doc"),
        F.md5(F.hex("chunk")).alias("shingle"),
    ).distinct()
    return ngram_jaccard_pairs(shingles=sh, min_jaccard=0.5)


@query(
    "q_corpus_ccnet_buckets",
    oracle=r"""
    WITH ref AS (
        SELECT unnest(list_filter(
                   string_split_regex(trim(lower(text)), '\s+'),
                   t -> t <> '')) AS term
        FROM documents WHERE source = 'src0' AND text IS NOT NULL
    ), lm AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS c_w FROM ref GROUP BY term
    ), tot AS (
        SELECT CAST(COALESCE(SUM(c_w), 0) AS BIGINT) AS n_ref,
               CAST(COUNT(*) AS BIGINT) AS v_ref
        FROM lm
    ), dt AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c_dt
        FROM (SELECT doc_id,
                     unnest(list_filter(
                         string_split_regex(trim(lower(text)), '\s+'),
                         t -> t <> '')) AS term
              FROM documents
              WHERE doc_id IS NOT NULL AND text IS NOT NULL)
        GROUP BY doc_id, term
    ), contrib AS (
        SELECT doc_id, c_dt,
               c_dt * CAST(FLOOR(ln((CAST(COALESCE(l.c_w, 0) AS DOUBLE)
                          + 1.0)
                     / GREATEST(CAST(t.n_ref AS DOUBLE)
                                + CAST(t.v_ref AS DOUBLE), 1.0))
                     * 1e6) AS BIGINT) AS lp
        FROM dt LEFT JOIN lm l USING (term) CROSS JOIN tot t
    ), scored AS (
        SELECT doc_id,
               CAST(SUM(c_dt) AS BIGINT) AS n_tokens,
               CAST(SUM(lp) AS BIGINT) AS logprob_u
        FROM contrib GROUP BY doc_id
    ), with_src AS (
        SELECT s.doc_id, d.source, s.n_tokens, s.logprob_u
        FROM scored s JOIN documents d USING (doc_id)
    ), r AS (
        SELECT *,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY logprob_u DESC, doc_id ASC) AS BIGINT) AS rnk,
               CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
        FROM with_src
    )
    SELECT doc_id, source, n_tokens, logprob_u,
           CASE 1 + (3 * (rnk - 1)) // n
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM r
    """,
)
def q_corpus_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020 §4.3 — the
    step after LM scoring): per DOMAIN, rank documents by LM
    log-probability and cut into terciles — 'head' is the low-perplexity
    third CCNet trains on, 'tail' the discard candidate; per-domain
    terciles (not global) so no domain is wholesale dropped for being
    unlike the reference. Composition: lm_score (µ-floored integer
    logprob_u — the INTEGER sort key, no float ordering anywhere) →
    sharded per-domain global rank (null-safe) → integer tercile
    1 + 3·(rank−1) div n. Zero-token docs have no distribution and are
    absent (the lm_score contract)."""
    from bigdata_retailrocket_recsys_spark.operators.text import lm_score
    from bigdata_retailrocket_recsys_spark.operators.windows import (
        _sharded_global_rank,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = lm_score(
        docs, docs.filter(F.col("source") == "src0"),
        id_col="doc_id", text_col="text",
    ).select("doc_id", "n_tokens", "logprob_u")
    with_src = scored.join(
        docs.select("doc_id", "source"), "doc_id"
    )
    ranked = _sharded_global_rank(
        with_src,
        [F.col("logprob_u").desc(), F.col("doc_id").asc()],
        32,
        ["source"],
    )
    # integer tercile: 1 + (3·(rank−1)) div n, rank = __rn + __off
    tercile = F.lit(1) + F.expr("(3 * (__rn + __off - 1)) div __n")
    return ranked.select(
        "doc_id",
        "source",
        "n_tokens",
        "logprob_u",
        F.when(tercile == 1, F.lit("head"))
        .when(tercile == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


@query(
    "q_l_diversity",
    oracle="""
    WITH b AS (
        SELECT event_id, user_id, event_type,
               strftime(ts, '%Y-%m-%d') AS day_str
        FROM events
    ), c AS (
        SELECT event_type, day_str,
               CAST(COUNT(*) AS BIGINT) AS l_distinct
        FROM (SELECT DISTINCT event_type, day_str, user_id FROM b)
        GROUP BY event_type, day_str
    )
    SELECT b.event_id, b.user_id, b.event_type, b.day_str, c.l_distinct
    FROM b JOIN c ON b.event_type IS NOT DISTINCT FROM c.event_type
               AND b.day_str IS NOT DISTINCT FROM c.day_str
    WHERE c.l_distinct >= 50
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity release gate (operators/quality.enforce_l_diversity,
    l=50 over sensitive user_id): the k-anonymity companion — a large
    group still leaks when everyone in it shares one sensitive value
    (the homogeneity attack), so groups with < l DISTINCT users are
    suppressed. Selective at the driver SF (42–67 distinct users per
    (event_type, day) group). Two-phase distinct count (no distinct
    window aggregates in Spark) joined back NULL-SAFELY; NULL counts as
    one observable sensitive value on both engines (distinct-subquery
    count, not COUNT(DISTINCT))."""
    from bigdata_retailrocket_recsys_spark.operators.quality import (
        enforce_l_diversity,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day_str"),
    )
    return enforce_l_diversity(
        ev, quasi_cols=["event_type", "day_str"],
        sensitive_col="user_id", l=50,
    )


@query(
    "q_entity_resolution",
    oracle=r"""
    WITH RECURSIVE p AS (
        SELECT p_partkey, p_brand, p_name FROM part
        WHERE p_partkey IS NOT NULL AND p_name IS NOT NULL
    ), pairs AS (
        SELECT a.p_partkey AS ia, b.p_partkey AS ib
        FROM p a JOIN p b
          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
         AND abs(length(a.p_name) - length(b.p_name)) <= 2
        WHERE levenshtein(a.p_name, b.p_name) <= 2
    ), edges AS (
        SELECT ia AS s, ib AS d FROM pairs
        UNION SELECT ib, ia FROM pairs
    ), reach(s, d) AS (
        SELECT p_partkey, p_partkey FROM p
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ), cc AS (
        SELECT s AS p_partkey, MIN(d) AS entity_id FROM reach GROUP BY s
    )
    SELECT p.p_partkey, p.p_brand, p.p_name, cc.entity_id,
           CAST(p.p_partkey = cc.entity_id AS INT) AS is_canonical
    FROM p JOIN cc USING (p_partkey)
    """,
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end (operators/joins.fuzzy_pairs →
    operators/dedup.connected_components): brand-blocked part-name
    pairs within 2 edits become edges, transitive closure assigns every
    part an entity id (min member key), one canonical record per
    entity — the classic MDM/catalog-dedup pipeline as a composition of
    named engine operators. Oracle: the same Levenshtein pair set + a
    recursive-CTE closure."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        connected_components,
    )
    from bigdata_retailrocket_recsys_spark.operators.joins import (
        fuzzy_pairs,
    )

    parts = _t(spark, sf_dir, "part").filter(
        F.col("p_partkey").isNotNull() & F.col("p_name").isNotNull()
    ).select("p_partkey", "p_brand", "p_name")
    pairs = fuzzy_pairs(
        parts,
        id_col="p_partkey",
        key_col="p_name",
        block_cols=["p_brand"],
        max_distance=2,
    ).select("id_a", "id_b")
    cc = connected_components(
        parts.select("p_partkey"),
        pairs,
        node_col="p_partkey",
        src_col="id_a",
        dst_col="id_b",
    ).select("p_partkey", F.col("cluster_id").alias("entity_id"))
    return parts.join(cc, "p_partkey").select(
        "p_partkey",
        "p_brand",
        "p_name",
        "entity_id",
        (F.col("p_partkey") == F.col("entity_id"))
        .cast("int")
        .alias("is_canonical"),
    )


@query(
    "q_sessionize_capped",
    oracle="""
    WITH b AS (
        SELECT event_id, user_id, ts, epoch_us(ts) AS us
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), g AS (
        SELECT *,
               CASE WHEN us - LAG(us) OVER w IS NULL
                         OR us - LAG(us) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), r AS (
        SELECT *,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS run
        FROM g
    ), s AS (
        SELECT *, MIN(us) OVER (PARTITION BY user_id, run) AS start_us
        FROM r
    )
    SELECT event_id, user_id, us,
           CAST(user_id AS VARCHAR) || '_' || CAST(run AS VARCHAR)
               || '_' || CAST((us - start_us) // 600000000 AS VARCHAR)
               AS session_id
    FROM s
    """,
)
def q_sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-capped sessionization (operators/sessionize
    .sessionize_capped, 30-min gap + 10-MINUTE cap so the split
    genuinely fires at fixture scale — 314 events land in sub>0
    sub-sessions at sf0.01; production would use hours): gap-only
    sessions are unbounded — a bot firing just inside the gap produces
    one week-long session that poisons per-session aggregates — so
    sessions longer than the cap split at fixed multiples from the
    start. Two windows sharing one (user, ts) partitioning; integer
    microsecond arithmetic end-to-end; event_id tiebreak makes the
    order total. Event time is rendered as epoch MICROSECONDS (raw
    timestamps are outside the stringify-safe type pairs)."""
    from bigdata_retailrocket_recsys_spark.operators.sessionize import (
        sessionize_capped,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = sessionize_capped(
        ev,
        gap_minutes=30,
        max_minutes=10,
        tiebreak_cols=["event_id"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("us"),
        "session_id",
    )


@query(
    "q_scd2_build",
    oracle="""
    WITH b AS (
        SELECT user_id, epoch_us(ts) AS us, event_type
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
              AND event_type IS NOT NULL
    ), o AS (
        SELECT user_id, us, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY us, event_type) AS rn
        FROM b
    ), chg AS (
        SELECT user_id, us, event_type, rn
        FROM (SELECT *, LAG(event_type) OVER (PARTITION BY user_id
                            ORDER BY rn) AS prev
              FROM o)
        WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type,
           CAST(us AS BIGINT) AS eff_from_us,
           CAST(COALESCE(LEAD(us) OVER (PARTITION BY user_id ORDER BY rn),
                         -1) AS BIGINT) AS eff_to_us,
           CAST(LEAD(us) OVER (PARTITION BY user_id ORDER BY rn) IS NULL
                AS INT) AS is_current
    FROM chg
    """,
)
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch SCD2 (slowly-changing-dimension type 2) BUILD — the
    warehouse companion to the streaming SCD2-enrich: per user, collapse
    the event stream to CHANGE rows (value ≠ previous value), then
    validity intervals [eff_from, eff_to) via lead(), open interval
    flagged is_current (eff_to rendered −1, not NULL — NULL bigints
    stringify asymmetrically nowhere but NULL semantics stay explicit
    via the flag). Three windows over ONE (user, order) partitioning;
    epoch-micros rendering (raw timestamps are outside the
    stringify-safe pairs); (ts, value) tiebreak makes the order total
    so ties collapse identically on both engines."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    b = ev.filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    ).select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_type")
    o = b.withColumn("rn", F.row_number().over(w)).withColumn(
        "prev", F.lag("event_type").over(w)
    )
    chg = o.filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("rn")
    nxt = F.lead("us").over(w2)
    return chg.select(
        "user_id",
        "event_type",
        F.col("us").cast("bigint").alias("eff_from_us"),
        F.coalesce(nxt, F.lit(-1)).cast("bigint").alias("eff_to_us"),
        nxt.isNull().cast("int").alias("is_current"),
    )


@query(
    "q_t_closeness",
    oracle="""
    WITH b AS (
        SELECT event_id, user_id, event_type,
               strftime(ts, '%Y-%m-%d') AS day_str,
               COALESCE(CASE WHEN value >= -1000000000000.0
                              AND value <= 1000000000000.0
                             THEN CAST(floor(value / 50.0) AS BIGINT) END,
                        -1) AS vb
        FROM events
    ), tot AS (
        SELECT vb, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY vb
    ), n AS (
        SELECT CAST(SUM(c) AS BIGINT) AS N,
               CAST(COUNT(*) AS BIGINT) AS m FROM tot
    ), grp AS (
        SELECT event_type, day_str, CAST(COUNT(*) AS BIGINT) AS n_g
        FROM b GROUP BY 1, 2
    ), gc AS (
        SELECT event_type, day_str, vb, CAST(COUNT(*) AS BIGINT) AS g
        FROM b GROUP BY 1, 2, 3
    ), grid AS (
        SELECT grp.event_type, grp.day_str, grp.n_g, tot.vb, tot.c,
               COALESCE(gc.g, 0) AS g
        FROM grp CROSS JOIN tot
        LEFT JOIN gc ON grp.event_type IS NOT DISTINCT FROM gc.event_type
                    AND grp.day_str IS NOT DISTINCT FROM gc.day_str
                    AND tot.vb = gc.vb
    ), cum AS (
        SELECT event_type, day_str, n_g, N, m,
               SUM(g * N - c * n_g) OVER (
                   PARTITION BY event_type, day_str ORDER BY vb) AS s
        FROM grid CROSS JOIN n
    ), emd AS (
        SELECT event_type, day_str, MAX(n_g) AS n_g,
               CAST(SUM(ABS(s)) AS BIGINT) AS emd_abs,
               MAX(N) AS N, MAX(m) AS m
        FROM cum GROUP BY 1, 2
    )
    SELECT b.event_id, b.user_id, b.event_type, b.day_str, b.vb,
           e.emd_abs, CAST(e.n_g AS BIGINT) AS t_group_n
    FROM b JOIN emd e
      ON b.event_type IS NOT DISTINCT FROM e.event_type
     AND b.day_str IS NOT DISTINCT FROM e.day_str
    WHERE 200 * e.emd_abs <= 3 * (e.m - 1) * e.n_g * e.N
    """,
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness release gate (operators/quality.enforce_t_closeness,
    t = 3/200 over quasi (event_type, day) with the sensitive attribute
    ordered into width-50 value buckets) — completes the privacy trio:
    k-anonymity bounds group SIZE, l-diversity bounds sensitive
    CARDINALITY, t-closeness bounds the group's sensitive DISTRIBUTION
    distance (ordered EMD) from the global one — the skew attack the
    other two miss. All-integer cross-multiplied EMD (no division, see
    the operator docstring), selective at the driver SF (~45% of
    (event_type, day) groups pass at t=0.015). NaN/±inf/outlier values
    share the -1 sentinel bucket on both engines via the identical
    range-CASE (both treat NaN as greater than any finite value)."""
    from bigdata_retailrocket_recsys_spark.operators.quality import (
        enforce_t_closeness,
    )

    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    vb = F.coalesce(
        F.when(
            (v >= -1.0e12) & (v <= 1.0e12),
            F.floor(v / F.lit(50.0)),
        ).cast("bigint"),
        F.lit(-1).cast("bigint"),
    )
    b = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day_str"),
        vb.alias("vb"),
    )
    return enforce_t_closeness(
        b,
        quasi_cols=["event_type", "day_str"],
        bucket_col="vb",
        t_num=3,
        t_den=200,
    )


@query(
    "q_split_temporal_embargo",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(epoch_us(ts) AS BIGINT) AS us,
           CASE WHEN epoch_us(ts) + 86400000000
                     < epoch_us(TIMESTAMP '2024-01-25') THEN 'train'
                WHEN epoch_us(ts) < epoch_us(TIMESTAMP '2024-01-25')
                     THEN 'purged'
                WHEN epoch_us(ts) < epoch_us(TIMESTAMP '2024-01-25')
                     + 172800000000 THEN 'embargo'
                ELSE 'test' END AS split
    FROM events WHERE ts IS NOT NULL
    """,
)
def q_split_temporal_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged walk-forward split with embargo (operators/splits.
    temporal_embargo_split; Lopez de Prado 2018 ch.7): cutoff
    2024-01-25, 1-day label horizon (train rows whose label window
    straddles the cutoff are PURGED), 2-day embargo after the cutoff —
    the leakage-safe temporal train/test split for event-stream
    models, as a zero-shuffle exact-epoch-microsecond projection.
    Timestamps render as epoch micros (raw timestamps are outside the
    stringify-safe type pairs)."""
    from bigdata_retailrocket_recsys_spark.operators.splits import (
        temporal_embargo_split,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    out = temporal_embargo_split(
        ev,
        ts_col="ts",
        cutoff="2024-01-25",
        horizon_seconds=86400,
        embargo_seconds=172800,
    )
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").cast("bigint").alias("us"),
        "split",
    )


@query(
    "q_text_ngram_diversity",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS t
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), pos AS (
        SELECT doc_id, source, i, t[i] AS tok
        FROM (SELECT doc_id, source, t,
                     unnest(range(1, len(t) + 1)) AS i FROM toks)
    ), led AS (
        SELECT source, doc_id, i, tok,
               LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY i) AS l1,
               LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY i) AS l2
        FROM pos
    ), g AS (
        SELECT source, tok AS uni,
               CASE WHEN l1 IS NOT NULL
                    THEN tok || ' ' || l1 END AS big,
               CASE WHEN l1 IS NOT NULL AND l2 IS NOT NULL
                    THEN tok || ' ' || l1 || ' ' || l2 END AS tri
        FROM led
    )
    SELECT source AS domain,
           CAST(COUNT(uni) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT uni) AS BIGINT) AS n_uni,
           CAST(COUNT(big) AS BIGINT) AS n_big_inst,
           CAST(COUNT(DISTINCT big) AS BIGINT) AS n_big,
           CAST(COUNT(tri) AS BIGINT) AS n_tri_inst,
           CAST(COUNT(DISTINCT tri) AS BIGINT) AS n_tri,
           CAST(CASE WHEN COUNT(uni) > 0 THEN
                COUNT(DISTINCT uni) * 1000000 // COUNT(uni) END
                AS BIGINT) AS ttr_ppm,
           CAST(CASE WHEN COUNT(big) > 0 THEN
                COUNT(DISTINCT big) * 1000000 // COUNT(big) END
                AS BIGINT) AS big_ppm,
           CAST(CASE WHEN COUNT(tri) > 0 THEN
                COUNT(DISTINCT tri) * 1000000 // COUNT(tri) END
                AS BIGINT) AS tri_ppm
    FROM g GROUP BY source
    """,
)
def q_text_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain distinct-n-gram diversity report (operators/text.
    ngram_diversity) — the SOURCE-grain degeneracy signal (collapsing
    distinct-trigram share = templated/machine text even when each page
    passes doc-grain gates). Tokenize-once lead-window n-grams (the
    shingle_rows discipline, never an inlined-array-HOF re-tokenize),
    one multi-distinct aggregate by domain; all-integer outputs with
    integer-div ppm ratios."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        ngram_diversity,
    )

    return ngram_diversity(_t(spark, sf_dir, "documents"))


@query(
    "q_eval_mrr",
    oracle="""
    WITH it AS (
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
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN rank IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(2520 AS BIGINT) AS rr_scale,
           CAST(SUM(CASE WHEN rank IS NOT NULL THEN 2520 // rank
                         ELSE 0 END) AS BIGINT) AS rr_sum_scaled,
           CAST(SUM(CASE WHEN rank IS NOT NULL THEN 2520 // rank
                         ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) * 2520 AS DOUBLE) AS mrr
    FROM test LEFT JOIN topk USING (item)
    GROUP BY event_type
    """,
)
def q_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 offline evaluation (operators/evaluation.
    reciprocal_rank_eval) — the rank-weighted companion to
    q_eval_nextitem's hit-rate/DCG on the same temporal holdout
    (popularity top-10 trained pre-cut, per-user FIRST post-cut item).
    1/rank made EXACT by lcm(1..10)=2520 scaling (2520 div rank is an
    integer for every rank <= 10), summed exactly; the final mean is
    ONE IEEE division of two exact integers — bit-identical
    cross-engine (the binary_auc float discipline)."""
    from bigdata_retailrocket_recsys_spark.operators.evaluation import (
        reciprocal_rank_eval,
    )
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    it = ev.filter(F.col("user_id").isNotNull() & k.isNotNull()).select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        (k % 50).alias("item"),
    )
    cut = F.lit("2024-01-25").cast("timestamp")
    topk = popularity_topk(it.filter(F.col("ts") < cut), item_col="item", k=10)
    test = (
        it.filter(F.col("ts") >= cut)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ts").asc(), F.col("event_id").asc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("event_type", "item")
    )
    return reciprocal_rank_eval(
        test, topk, item_col="item", group_col="event_type", k=10
    )


@query(
    "q_mine_hard_negatives",
    oracle=f"""
    WITH q AS (
        SELECT doc_id AS qid, text
        FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
          AND strlen(text) >= 30
        ORDER BY doc_id ASC LIMIT 3
    ), qt AS (
        SELECT DISTINCT qid, term FROM (
            SELECT qid,
                   unnest(string_split_regex(trim(lower(text)), '\\s+'))
                       AS term
            FROM q
        ) WHERE term <> ''
    ), tok AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        FROM documents
    ), tok2 AS (SELECT * FROM tok WHERE term <> ''),
    dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dl
        FROM tok2 GROUP BY doc_id
    ), st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_dl) AS BIGINT) AS tot_dl FROM dl
    ), tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS n_tf
        FROM tok2 WHERE term IN (SELECT DISTINCT term FROM qt)
        GROUP BY doc_id, term
    ), dfq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS n_df FROM tf GROUP BY term
    ), c AS (
        SELECT doc_id, term, {{contrib}} AS u
        FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
    ), sc AS (
        SELECT qt.qid, c.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
               CAST(SUM(u) AS BIGINT) AS bm25_u
        FROM c JOIN qt USING (term)
        WHERE c.doc_id <> qt.qid
        GROUP BY qt.qid, c.doc_id
    )
    SELECT qid, doc_id AS neg_id, n_terms_hit, bm25_u,
           CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY bm25_u DESC, doc_id ASC) AS rank
          FROM sc)
    WHERE rank <= 5
    """.format(contrib=_BM25_ORACLE_CONTRIB),
)
def q_mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 hard-negative mining (operators/text.bm25_hard_negatives):
    for each of 3 deterministic query docs (lowest non-null ids), the
    top-5 lexically-closest OTHER corpus docs — the negatives that
    train a bi-encoder (DPR practice; random negatives are too easy).
    The benchmark-sized query term set broadcasts past the corpus scan
    (semi-join pushes the term filter below the tf shuffle); scoring
    sums the µ-floored BM25_CONTRIB_SQL tree shared verbatim with the
    oracle, so the per-query ranking (bm25_u DESC, id ASC) is
    deterministic cross-engine; per-query top-5 is a WindowGroupLimit
    rank window."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        bm25_hard_negatives,
    )

    docs = _t(spark, sf_dir, "documents")
    qd = (
        docs.filter(
            F.col("doc_id").isNotNull()
            & F.col("text").isNotNull()
            # BYTE length (octet_length ≡ DuckDB strlen) — the Gopher
            # pairing; char-grain length() counts UTF-16 units on Spark
            & (F.octet_length("text") >= 30)
        )
        .select(F.col("doc_id").alias("q_id"), F.col("text").alias("q_text"))
        .orderBy(F.col("q_id").asc())
        .limit(3)
    )
    return bm25_hard_negatives(
        docs,
        qd,
        id_col="doc_id",
        text_col="text",
        qid_col="q_id",
        qtext_col="q_text",
        top_k=5,
    )


@query(
    "q_attribution_touch",
    oracle="""
    WITH b AS (
        SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), conv AS (
        SELECT event_id AS conv_id, user_id, us AS cus
        FROM b WHERE event_type = 'purchase'
    ), tch AS (
        SELECT event_id AS touch_id, user_id, event_type AS channel,
               us AS tus
        FROM b WHERE event_type IN ('click', 'view')
    ), j AS (
        SELECT conv_id, channel, touch_id, tus,
               COUNT(*) OVER (PARTITION BY conv_id) AS n,
               ROW_NUMBER() OVER (PARTITION BY conv_id
                                  ORDER BY tus ASC, touch_id ASC) AS rf,
               ROW_NUMBER() OVER (PARTITION BY conv_id
                                  ORDER BY tus DESC, touch_id DESC) AS rl
        FROM conv JOIN tch USING (user_id)
        WHERE tch.tus < conv.cus
          AND tch.tus >= conv.cus - 604800000000
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
           CAST(SUM(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_first,
           CAST(SUM(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_last,
           CAST(SUM(1000000 // n) AS BIGINT) AS credit_ppm
    FROM j GROUP BY channel
    """,
)
def q_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution (operators/sequences.touch_attribution):
    per purchase conversion, the click/view touches in a 7-day lookback
    credited under first-touch, last-touch, and linear models AT ONCE —
    the funnel family's missing sibling. Equi join on user with the
    lookback band as a residual predicate (never BNLJ); three windows
    share ONE conversion-id partitioning; linear credit is exact
    integer ppm (1e6 div n)."""
    from bigdata_retailrocket_recsys_spark.operators.sequences import (
        touch_attribution,
    )

    return touch_attribution(_t(spark, sf_dir, "events"))


@query(
    "q_survival_life_table",
    oracle="""
    WITH pu AS (
        SELECT user_id,
               MIN(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT))
                   AS fd,
               MAX(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT))
                   AS ld
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        GROUP BY user_id
    ), h AS (
        SELECT MAX(ld) AS h FROM pu
    ), d AS (
        SELECT ld - fd AS t,
               CASE WHEN ld < h.h - 14 THEN 1 ELSE 0 END AS ch
        FROM pu, h
    ), g AS (
        SELECT t, CAST(SUM(ch) AS BIGINT) AS n_churned,
               CAST(SUM(1 - ch) AS BIGINT) AS n_censored
        FROM d GROUP BY t
    )
    SELECT CAST(t AS BIGINT) AS t_days,
           CAST(SUM(n_churned + n_censored) OVER (
               ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_at_risk,
           n_churned, n_censored
    FROM g
    """,
)
def q_survival_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier life table at day grain (operators/aggregates
    .survival_life_table, churn_gap_days=14): per observed duration,
    users at risk / churned / right-censored — the survival sibling of
    retention and growth accounting. All-integer columns (the KM
    product is one consumer-side float fold); n_at_risk is a reverse
    cumsum over the day-grain aggregate, bounded by the calendar span
    by construction."""
    from bigdata_retailrocket_recsys_spark.operators.aggregates import (
        survival_life_table,
    )

    return survival_life_table(_t(spark, sf_dir, "events"))


@query(
    "q_agg_rolling_distinct",
    oracle="""
    WITH p AS (
        SELECT DISTINCT user_id AS u,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), days AS (SELECT DISTINCT d FROM p),
    dau AS (
        SELECT d, CAST(COUNT(DISTINCT u) AS BIGINT) AS dau
        FROM p GROUP BY d
    ), ends AS (
        SELECT u, unnest(range(d, d + 7)) AS e FROM p
    ), wau AS (
        SELECT e, CAST(COUNT(DISTINCT u) AS BIGINT) AS wau
        FROM ends WHERE e IN (SELECT d FROM days) GROUP BY e
    )
    SELECT dau.d AS epoch_day, dau.dau, wau.wau,
           CAST(dau.dau * 1000000 // wau.wau AS BIGINT) AS stickiness_ppm
    FROM dau JOIN wau ON dau.d = wau.e
    """,
)
def q_agg_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU rolling distinct actives + stickiness (operators/
    aggregates.rolling_distinct_actives, 7-day window) — the growth
    curve a sliding-window DISTINCT cannot express (distinct window
    aggs are banned on both engines). Facts collapse to distinct
    (user, epoch-day) pairs first; each pair explodes to the 7
    window-end days it serves (equi-join shape, constant inflation —
    never a band BNLJ); bounded real-day semi-join; exact integers,
    days as epoch days."""
    from bigdata_retailrocket_recsys_spark.operators.aggregates import (
        rolling_distinct_actives,
    )

    return rolling_distinct_actives(_t(spark, sf_dir, "events"))


@query(
    "q_curriculum_anneal",
    oracle="""
    WITH b AS (
        SELECT doc_id,
               COALESCE(CAST(n_chars AS BIGINT), -1) AS score
        FROM documents WHERE doc_id IS NOT NULL
    ), r AS (
        SELECT *,
               ROW_NUMBER() OVER (
                   ORDER BY score DESC,
                            md5(CAST(doc_id AS VARCHAR)) ASC,
                            doc_id ASC) AS qr,
               COUNT(*) OVER () AS n
        FROM b
    ), ph AS (
        SELECT doc_id, score,
               CASE WHEN qr * 5 <= 1 * n THEN 2 ELSE 1 END AS phase
        FROM r
    ), o AS (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY phase
                   ORDER BY md5(CAST(phase AS VARCHAR) || ':'
                                || CAST(doc_id AS VARCHAR)) ASC,
                            doc_id ASC) AS pr
        FROM ph
    ), p1 AS (
        SELECT CAST(SUM(CASE WHEN phase = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS p1n
        FROM ph
    )
    SELECT doc_id, score, CAST(phase AS INT) AS phase,
           CAST(pr + CASE WHEN phase = 2 THEN p1n ELSE 0 END
                AS BIGINT) AS ord
    FROM o CROSS JOIN p1
    """,
)
def q_curriculum_anneal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase curriculum / anneal ordering (operators/splits.
    curriculum_anneal_order, top-1/5 anneal share, score = n_chars as
    the pluggable integer quality signal): the bulk first
    content-shuffled, then the top-quality fifth as the anneal tail —
    ord is a permutation of 1..n (unit-locked), phase set and order
    engine-exact (score coalesced to -1: no NULL ordering semantics in
    play; md5 tiebreaks). Sharded ranks only (partition_by handles the
    exactly-2 huge phase groups); 1-row/2-row offset frames
    broadcast."""
    from bigdata_retailrocket_recsys_spark.operators.splits import (
        curriculum_anneal_order,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("n_chars").cast("bigint"), F.lit(-1)).alias("score")
    )
    return curriculum_anneal_order(
        docs, id_col="doc_id", score_col="score", anneal_num=1, anneal_den=5
    )


@query(
    "q_max_concurrency",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
    ), sess AS (
        SELECT user_id, ts,
               CAST(user_id AS VARCHAR) || '_' || CAST(SUM(is_new) OVER (
                   PARTITION BY user_id
                   ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS VARCHAR) AS session_id
        FROM flagged
    ), s AS (
        SELECT session_id,
               MIN(epoch_us(ts)) AS start_us,
               MAX(epoch_us(ts)) AS end_us
        FROM sess GROUP BY session_id
    ), bd AS (
        SELECT start_us AS us, 1 AS delta, session_id AS sid FROM s
        UNION ALL
        SELECT end_us + 1, -1, session_id FROM s
    ), c AS (
        SELECT us,
               SUM(delta) OVER (ORDER BY us, delta, sid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        FROM bd
    )
    SELECT strftime(make_timestamp(us), '%Y-%m-%d') AS day_str,
           CAST(MAX(conc) AS BIGINT) AS max_concurrent,
           CAST(COUNT(*) AS BIGINT) AS n_boundaries
    FROM c GROUP BY 1
    """,
)
def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrent sessions per day (operators/sessionize.
    concurrency_sweep over 30-min-gap session intervals) — the
    capacity-planning sweep as an interval +1/−1 boundary walk whose
    global running sum is a SHARDED prefix sum (range-contiguous
    shards + broadcast offsets — never a single-reducer window; the
    q_agg_weighted_median move applied to a time axis). Closes before
    opens at one instant; boundary-grain peaks; exact integers."""
    from bigdata_retailrocket_recsys_spark.operators.sessionize import (
        concurrency_sweep,
        session_stats,
        sessionize,
    )

    ev = _t(spark, sf_dir, "events")
    s = sessionize(
        ev, user_col="user_id", ts_col="ts", gap_minutes=30,
        tiebreak_cols=["event_id"],
    )
    return concurrency_sweep(session_stats(s))


@query(
    "q_eval_coverage_gini",
    oracle="""
    WITH it AS (
        SELECT user_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) % 50 AS item,
               ts, event_id
        FROM events
        WHERE user_id IS NOT NULL
          AND json_extract_string(props, '$.k') IS NOT NULL
    ), cnt AS (
        SELECT user_id, item, CAST(COUNT(*) AS BIGINT) AS n,
               MIN(epoch_us(ts)) AS first_us
        FROM it GROUP BY user_id, item
    ), recs AS (
        SELECT user_id, item FROM (
            SELECT user_id, item,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY n DESC, item ASC) AS rn
            FROM cnt
        ) WHERE rn <= 3
    ), exp AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS x
        FROM recs GROUP BY item
    ), ranked AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x ASC, item ASC) AS i
        FROM exp
    ), t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM((2 * i - 1) * x) AS BIGINT) AS s2ix
        FROM ranked
    ), cat AS (
        SELECT CAST(COUNT(DISTINCT item) AS BIGINT) AS cn FROM it
    )
    SELECT n AS n_recommended, cn AS catalog_n,
           CAST(n * 1000000 // cn AS BIGINT) AS coverage_ppm,
           CAST(s2ix - n * sx AS BIGINT) AS gini_num,
           CAST(n * sx AS BIGINT) AS gini_den,
           CAST(s2ix - n * sx AS DOUBLE) / CAST(n * sx AS DOUBLE) AS gini
    FROM t CROSS JOIN cat
    """,
)
def q_eval_coverage_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-accuracy slate metrics (operators/evaluation.
    exposure_coverage_gini): catalog coverage + Gini exposure
    concentration of each user's top-3 most-interacted items — a
    recommender can ace hit-rate while showing only blockbusters; this
    is the report that catches it. Tie-invariant exact-integer Gini
    (Σ(2i−n−1)x over an ASC sharded rank), ONE IEEE division, 1-row
    frames broadcast."""
    from bigdata_retailrocket_recsys_spark.operators.evaluation import (
        exposure_coverage_gini,
    )
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    it = ev.filter(F.col("user_id").isNotNull() & k.isNotNull()).select(
        "user_id", (k % 50).alias("item")
    )
    cnt = it.groupBy("user_id", "item").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    recs = (
        cnt.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("n").desc(), F.col("item").asc()
                )
            ),
        )
        .filter(F.col("rn") <= 3)
        .select("user_id", "item")
    )
    return exposure_coverage_gini(recs, it.select("item"))


@query(
    "q_privacy_release",
    oracle="""
    WITH b AS (
        SELECT event_id, user_id, event_type,
               strftime(ts, '%Y-%m-%d') AS day_str,
               COALESCE(CASE WHEN value >= -1000000000000.0
                              AND value <= 1000000000000.0
                             THEN CAST(floor(value / 50.0) AS BIGINT) END,
                        -1) AS vb
        FROM events
    ), kk AS (
        SELECT * FROM (
            SELECT b.*,
                   CAST(COUNT(*) OVER (PARTITION BY event_type, day_str)
                        AS BIGINT) AS k_group_n
            FROM b
        ) WHERE k_group_n >= 60
    ), ld AS (
        SELECT event_type, day_str, CAST(COUNT(*) AS BIGINT) AS l_distinct
        FROM (SELECT DISTINCT event_type, day_str, user_id FROM kk)
        GROUP BY 1, 2
    ), l2 AS (
        SELECT kk.*, ld.l_distinct FROM kk JOIN ld
          ON kk.event_type IS NOT DISTINCT FROM ld.event_type
         AND kk.day_str IS NOT DISTINCT FROM ld.day_str
        WHERE ld.l_distinct >= 50
    ), tot AS (
        SELECT vb, CAST(COUNT(*) AS BIGINT) AS c FROM l2 GROUP BY vb
    ), n AS (
        SELECT CAST(SUM(c) AS BIGINT) AS N,
               CAST(COUNT(*) AS BIGINT) AS m FROM tot
    ), grp AS (
        SELECT event_type, day_str, CAST(COUNT(*) AS BIGINT) AS n_g
        FROM l2 GROUP BY 1, 2
    ), gc AS (
        SELECT event_type, day_str, vb, CAST(COUNT(*) AS BIGINT) AS g
        FROM l2 GROUP BY 1, 2, 3
    ), grid AS (
        SELECT grp.event_type, grp.day_str, grp.n_g, tot.vb, tot.c,
               COALESCE(gc.g, 0) AS g
        FROM grp CROSS JOIN tot
        LEFT JOIN gc ON grp.event_type IS NOT DISTINCT FROM gc.event_type
                    AND grp.day_str IS NOT DISTINCT FROM gc.day_str
                    AND tot.vb = gc.vb
    ), cum AS (
        SELECT event_type, day_str, n_g, N, m,
               SUM(g * N - c * n_g) OVER (
                   PARTITION BY event_type, day_str ORDER BY vb) AS s
        FROM grid CROSS JOIN n
    ), emd AS (
        SELECT event_type, day_str, MAX(n_g) AS n_g,
               CAST(SUM(ABS(s)) AS BIGINT) AS emd_abs,
               MAX(N) AS N, MAX(m) AS m
        FROM cum GROUP BY 1, 2
    )
    SELECT l2.event_id, l2.user_id, l2.event_type, l2.day_str, l2.vb,
           l2.k_group_n, l2.l_distinct, e.emd_abs,
           CAST(e.n_g AS BIGINT) AS t_group_n
    FROM l2 JOIN emd e
      ON l2.event_type IS NOT DISTINCT FROM e.event_type
     AND l2.day_str IS NOT DISTINCT FROM e.day_str
    WHERE 200 * e.emd_abs <= 3 * (e.m - 1) * e.n_g * e.N
    """,
)
def q_privacy_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The privacy trio COMPOSED as one release pipeline: k-anonymity
    (k=60) → l-diversity (l=50) → t-closeness (t=3/200), each stage
    recomputed over the previous stage's survivors — ordering matters
    semantically (k/l keep or drop WHOLE groups so their stats are
    stage-invariant, but t's GLOBAL reference distribution is the
    post-k∧l table, exactly what a staged release pipeline compares
    against). Selective at every stage at the driver SF
    (10000 → 8449 → 7688 → 3480). Composition of the three named
    operators; one CTE chain hashes the whole thing."""
    from bigdata_retailrocket_recsys_spark.operators.quality import (
        enforce_k_anonymity,
        enforce_l_diversity,
        enforce_t_closeness,
    )

    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    vb = F.coalesce(
        F.when((v >= -1.0e12) & (v <= 1.0e12),
               F.floor(v / F.lit(50.0))).cast("bigint"),
        F.lit(-1).cast("bigint"),
    )
    b = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day_str"),
        vb.alias("vb"),
    )
    quasi = ["event_type", "day_str"]
    kk = enforce_k_anonymity(b, quasi_cols=quasi, k=60)
    l2 = enforce_l_diversity(
        kk, quasi_cols=quasi, sensitive_col="user_id", l=50
    )
    return enforce_t_closeness(
        l2, quasi_cols=quasi, bucket_col="vb", t_num=3, t_den=200
    )


@query(
    "q_dedup_keeper_quality",
    oracle=r"""
    WITH RECURSIVE base AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ), sh AS (
        SELECT doc_id AS doc,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS s
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
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
    ), sig AS (
        SELECT doc, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS h
        FROM sh, (SELECT unnest(generate_series(0, 15)) AS j)
        GROUP BY doc, j
    ), band AS (
        SELECT doc, j // 4 AS band,
               md5(string_agg(h, '_' ORDER BY j ASC)) AS bucket
        FROM sig GROUP BY doc, j // 4
    ), cand AS (
        SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        FROM band a JOIN band b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
    ), verified AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN common m ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
        JOIN sizes sa ON sa.doc = c.doc_a
        JOIN sizes sb ON sb.doc = c.doc_b
        WHERE CAST(m.n_common AS DOUBLE)
                  / CAST(sa.n_sh + sb.n_sh - m.n_common AS DOUBLE) >= 0.5
    ), edges AS (
        SELECT doc_a AS s, doc_b AS d FROM verified
        UNION SELECT doc_b, doc_a FROM verified
    ), reach(s, d) AS (
        SELECT doc_id, doc_id FROM base
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ), cc AS (
        SELECT s AS doc_id, MIN(d) AS cluster_id FROM reach GROUP BY s
    ), q AS (
        SELECT cc.doc_id, cc.cluster_id,
               COALESCE(CAST(d.n_chars AS BIGINT), -1) AS quality
        FROM cc JOIN documents d USING (doc_id)
    )
    SELECT doc_id, cluster_id, quality,
           CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
                ORDER BY quality DESC,
                         md5(CAST(doc_id AS VARCHAR)) ASC,
                         doc_id ASC) = 1 AS INT) AS is_keeper
    FROM q
    """,
)
def q_dedup_keeper_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based canonical keeper per near-dup cluster
    (operators/dedup.keeper_by_score over the md5 MinHash→verify→CC
    chain): production dedup keeps the BEST member (longest /
    highest-scored), not the min id — this is the APPLY policy that
    completes the cluster tier (q_dedup_apply keeps min-id). Quality =
    n_chars coalesced to -1 (pluggable integer signal); total-order
    rank (quality DESC, md5(id), id) makes the keeper set engine-exact.
    Oracle: the leakage-safe chain's recursive-CTE closure + the same
    rank."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        connected_components,
        jaccard_verify,
        keeper_by_score,
        minhash_lsh_candidates,
    )

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    cand = minhash_lsh_candidates(
        base, id_col="doc_id", text_col="text", shingle_n=3,
        num_hashes=16, bands=4, hash_fn="md5",
    ).select("doc_a", "doc_b")
    edges = jaccard_verify(
        cand, base, id_col="doc_id", text_col="text", shingle_n=3,
        min_jaccard=0.5,
    ).select("doc_a", "doc_b")
    cc = connected_components(
        base.select("doc_id"), edges, node_col="doc_id",
        src_col="doc_a", dst_col="doc_b",
        edges_pinned=True,  # jaccard_verify checkpointed them (r14)
    )
    scores = base.select(
        "doc_id",
        F.coalesce(F.col("n_chars").cast("bigint"), F.lit(-1)).alias(
            "quality"
        ),
    )
    return keeper_by_score(
        cc, scores, node_col="doc_id", cluster_col="cluster_id",
        score_col="quality",
    )


@query(
    "q_anomaly_cusum",
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), g AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS st
        FROM s GROUP BY event_type
    ), cu AS (
        SELECT s.event_type, s.d, g.n,
               SUM(g.n * s.c - g.st) OVER (
                   PARTITION BY s.event_type ORDER BY s.d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cusum
        FROM s JOIN g ON s.event_type IS NOT DISTINCT FROM g.event_type
    )
    SELECT event_type, n AS n_steps, d AS change_step,
           CAST(ABS(cusum) AS BIGINT) AS cusum_abs_max
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY ABS(cusum) DESC, d ASC) AS r FROM cu)
    WHERE r = 1
    """,
)
def q_anomaly_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection (operators/aggregates.
    cusum_changepoint) over per-type daily event counts — "which day
    did the level shift?" (Page 1954), float-free: cusum_k =
    Σ(n·v_i − S) is n×the mean-deviation cusum, exact bigints by
    cross-multiplication; argmax-|cusum| with earliest-day ties. The
    per-group (n, S) table is groups-bounded and broadcast back
    NULL-SAFELY; the window runs over the bounded day axis, never
    facts."""
    from bigdata_retailrocket_recsys_spark.operators.aggregates import (
        cusum_changepoint,
    )

    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            F.unix_date(F.to_date("ts")).cast("bigint").alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return cusum_changepoint(
        s, group_col="event_type", step_col="d", value_col="c"
    )


@query(
    "q_eval_forecast_mase",
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
               CAST(COALESCE(SUM(CASE WHEN isnan(value) OR isinf(value)
                                      THEN NULL
                                      ELSE CAST(value AS DECIMAL(18,2))
                                 END) * 100, 0) AS BIGINT) AS cents
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), e AS (
        SELECT event_type, d, cents,
               cents - LAG(cents, 1) OVER w AS e1,
               cents - LAG(cents, 7) OVER w AS es
        FROM s WINDOW w AS (PARTITION BY event_type ORDER BY d)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_steps,
           CAST(COUNT(e1) AS BIGINT) AS n_e1,
           CAST(COALESCE(SUM(ABS(e1)), 0) AS BIGINT) AS sae1,
           CAST(COUNT(es) AS BIGINT) AS n_es,
           CAST(COALESCE(SUM(ABS(es)), 0) AS BIGINT) AS saes,
           CASE WHEN COALESCE(SUM(ABS(e1)), 0) > 0 AND COUNT(es) > 0
                THEN CAST(COALESCE(SUM(ABS(es)), 0) * COUNT(e1) AS DOUBLE)
                     / CAST(COALESCE(SUM(ABS(e1)), 0) * COUNT(es) AS DOUBLE)
           END AS mase
    FROM e GROUP BY event_type
    """,
)
def q_eval_forecast_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scaled seasonal-forecast-error report (operators/evaluation.
    forecast_mase, season=7) over per-type daily revenue in EXACT cents
    (NaN/inf-guarded decimal sums — the _dec_value rule): seasonal-naive
    MAE over one-step-naive MAE, the Hyndman-Koehler unit-free "is
    weekly structure real?" readout. Both error sums exact bigints; the
    ratio is ONE IEEE division of cross-multiplied integers. Lags run
    over observed days per type (one window partitioning serves
    both)."""
    from bigdata_retailrocket_recsys_spark.operators.evaluation import (
        forecast_mase,
    )

    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            F.unix_date(F.to_date("ts")).cast("bigint").alias("d"),
        )
        .agg(
            F.coalesce(
                (F.sum(_dec_value("value", "18,2")) * 100).cast("bigint"),
                F.lit(0),
            ).alias("cents")
        )
    )
    return forecast_mase(
        s, group_col="event_type", step_col="d", value_col="cents", season=7
    )


@query(
    "q_sample_balanced",
    oracle="""
    WITH b AS (
        SELECT vec_id, label FROM embeddings WHERE vec_id IS NOT NULL
    ), c AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS class_n
        FROM b GROUP BY label
    ), m AS (SELECT MIN(class_n) AS fl FROM c),
    r AS (
        SELECT vec_id, label,
               ROW_NUMBER() OVER (PARTITION BY label
                   ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC,
                            vec_id ASC) AS rn
        FROM b
    )
    SELECT r.vec_id, r.label, c.class_n
    FROM r JOIN c ON r.label IS NOT DISTINCT FROM c.label
    CROSS JOIN m
    WHERE r.rn <= m.fl
    """,
)
def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling (operators/splits.
    balanced_class_sample over embeddings labels): keep exactly
    min(class sizes) rows from EVERY class — the skewed-label
    rebalancing step before training, content-defined (md5-of-id rank
    within class) so the kept set is rerun/reshard/engine-stable.
    Sharded grouped rank (few-huge-groups partition_by, null-safe);
    counts and floor broadcast."""
    from bigdata_retailrocket_recsys_spark.operators.splits import (
        balanced_class_sample,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    return balanced_class_sample(emb, class_col="label", id_col="vec_id")


@query(
    "q_text_readability",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(trim(lower(text)),
                '\\s+'), x -> x <> '')) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
               AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT) AS n_syllables,
           CAST(len(list_filter(string_split_regex(trim(lower(text)),
                '\\s+'), x -> x <> '')) * 1000000
                // GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS BIGINT) AS wps_ppm,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) * 1000000
                // GREATEST(len(list_filter(string_split_regex(
                       trim(lower(text)), '\\s+'), x -> x <> '')), 1)
               AS BIGINT) AS spw_ppm,
           CAST(len(list_filter(string_split_regex(trim(lower(text)),
                '\\s+'), x -> x <> '')) * 390000
                // GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                + len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  * 11800000
                  // GREATEST(len(list_filter(string_split_regex(
                         trim(lower(text)), '\\s+'), x -> x <> '')), 1)
                - 15590000 AS BIGINT) AS fk_u
    FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    """,
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid readability proxy (operators/text.
    readability_scores): words / terminal-punctuation sentences /
    vowel-run syllable approximation, FK grade with µ-scaled INTEGER
    coefficients and zero-guarded integer division (all divisors and
    numerators non-negative, so Spark div ≡ DuckDB // ≡ floor) — the
    classic complexity quality signal as a zero-shuffle projection."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        readability_scores,
    )

    return readability_scores(_t(spark, sf_dir, "documents"))


@query(
    "q_stats_ks",
    oracle="""
    WITH b AS (
        SELECT value AS v, event_type AS g FROM events
        WHERE event_type IN ('click', 'view') AND value IS NOT NULL
          AND NOT isnan(value) AND NOT isinf(value)
    ), c AS (
        SELECT v,
               CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cb
        FROM b GROUP BY v
    ), t AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na,
               CAST(SUM(cb) AS BIGINT) AS nb FROM c
    ), cum AS (
        SELECT v,
               SUM(ca) OVER w AS cma, SUM(cb) OVER w AS cmb
        FROM c
        WINDOW w AS (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), d AS (
        SELECT v, ABS(cma * nb - cmb * na) AS ds, na, nb,
               ROW_NUMBER() OVER (ORDER BY ABS(cma * nb - cmb * na) DESC,
                                  v ASC) AS r
        FROM cum CROSS JOIN t
    )
    SELECT na AS n_a, nb AS n_b, CAST(ds AS BIGINT) AS d_scaled,
           v AS at_value,
           CASE WHEN na > 0 AND nb > 0
                THEN CAST(ds AS DOUBLE) / CAST(na * nb AS DOUBLE) END
               AS ks_d
    FROM d WHERE r = 1
    """,
)
def q_stats_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test (operators/aggregates.
    ks_two_sample, click vs view over the value column) — the
    continuous-metric drift tier next to q_domain_kl's token monitor.
    D kept exact by cross-multiplication (max |cum_a·n_b − cum_b·n_a|
    over the ordered distinct-value axis); ONE IEEE division at the
    end; NaN/±inf excluded (engine-divergent ordering); TWO sharded
    prefix sums over the unbounded value axis — never a single-reducer
    window; argmax is TakeOrderedAndProject with earliest-value
    ties."""
    from bigdata_retailrocket_recsys_spark.operators.aggregates import (
        ks_two_sample,
    )

    return ks_two_sample(
        _t(spark, sf_dir, "events"),
        value_col="value",
        group_col="event_type",
        group_a="click",
        group_b="view",
    )


from bigdata_retailrocket_recsys_spark.operators.aggregates import (  # noqa: E402
    PSI_CONTRIB_SQL,
)

_PSI_ORACLE_CONTRIB = PSI_CONTRIB_SQL.format(
    sa="sa", sb="sb", sna="sna", snb="snb"
)


@query(
    "q_stats_psi",
    oracle=f"""
    WITH b AS (
        SELECT CASE WHEN ts < TIMESTAMP '2024-01-16'
                    THEN 'base' ELSE 'cur' END AS g,
               COALESCE(CASE WHEN value >= -1000000000000.0
                              AND value <= 1000000000000.0
                             THEN CAST(floor(value / 50.0) AS BIGINT) END,
                        -1) AS bk
        FROM events WHERE ts IS NOT NULL
    ), c AS (
        SELECT bk,
               CAST(SUM(CASE WHEN g = 'base' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN g = 'cur' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cb
        FROM b GROUP BY bk
    ), t AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na,
               CAST(SUM(cb) AS BIGINT) AS nb,
               CAST(COUNT(*) AS BIGINT) AS m FROM c
    ), j AS (
        SELECT na, nb, m,
               CAST(ca + 1 AS BIGINT) AS sa,
               CAST(cb + 1 AS BIGINT) AS sb,
               CAST(na + m AS BIGINT) AS sna,
               CAST(nb + m AS BIGINT) AS snb
        FROM c CROSS JOIN t
    )
    SELECT MAX(na) AS n_a, MAX(nb) AS n_b, MAX(m) AS n_buckets,
           GREATEST(CAST(SUM({_PSI_ORACLE_CONTRIB}) AS BIGINT),
                    CAST(0 AS BIGINT)) AS psi_u,
           CAST(GREATEST(CAST(SUM({_PSI_ORACLE_CONTRIB}) AS BIGINT),
                         CAST(0 AS BIGINT)) AS DOUBLE) / 1e6 AS psi
    FROM j
    """,
)
def q_stats_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (operators/aggregates.psi_drift):
    value-bucket drift between the first half of January (baseline) and
    the rest (current) — the scorecard-industry drift number, the
    BUCKETED companion to q_stats_ks. Laplace +1 count smoothing (no
    ε-floats) makes every bucket finite; per-bucket contributions
    µ-floored through the shared PSI_CONTRIB_SQL tree and summed
    exactly; psi = psi_u/1e6 is one IEEE division. One fact-sized
    collapse, buckets-bounded everything else."""
    from bigdata_retailrocket_recsys_spark.operators.aggregates import (
        psi_drift,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    v = F.col("value")
    vb = F.coalesce(
        F.when((v >= -1.0e12) & (v <= 1.0e12),
               F.floor(v / F.lit(50.0))).cast("bigint"),
        F.lit(-1).cast("bigint"),
    )
    b = ev.select(
        F.when(
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
            F.lit("base"),
        )
        .otherwise(F.lit("cur"))
        .alias("g"),
        vb.alias("bk"),
    )
    return psi_drift(
        b, bucket_col="bk", group_col="g", group_a="base", group_b="cur"
    )


@query(
    "q_seasonal_dow_profile",
    oracle="""
    WITH b AS (
        SELECT event_type,
               ((CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                 + 4) % 7 + 7) % 7 AS dow
        FROM events WHERE ts IS NOT NULL
    ), c AS (
        SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n
        FROM b GROUP BY 1, 2
    ), t AS (
        SELECT event_type, CAST(SUM(n) AS BIGINT) AS total
        FROM c GROUP BY event_type
    )
    SELECT c.event_type, c.dow, c.n, t.total,
           CAST(c.n * 1000000 // t.total AS BIGINT) AS share_ppm,
           CAST(c.n * 7000000 // t.total AS BIGINT) AS index_ppm
    FROM c JOIN t ON c.event_type IS NOT DISTINCT FROM t.event_type
    """,
)
def q_seasonal_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type — the weekly-shape
    report MASE's ratio summarizes (index_ppm ≈ 1e6 = flat; a 7e6/0
    split = fully periodic). DIALECT-FREE weekday: dow = (epoch_day +
    4) mod 7 (1970-01-01 was a Thursday; 0 = Monday) — Spark
    dayofweek() is 1-7 Sunday-first while DuckDB dayofweek() is 0-6,
    so the integer form sidesteps the trap entirely; sign-safe double
    modulo on the oracle side, pmod on Spark. All integers, two
    integer-div ratios; group totals broadcast back null-safely."""
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    b = ev.select(
        "event_type",
        F.pmod(
            F.unix_date(F.to_date("ts")).cast("bigint") + F.lit(4), F.lit(7)
        ).alias("dow"),
    )
    c = b.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    t = c.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("total")
    )
    left, right = c.alias("__c"), t.alias("__t")
    return (
        left.join(
            F.broadcast(right),
            F.col("__c.event_type").eqNullSafe(F.col("__t.event_type")),
        )
        .select(
            F.col("__c.event_type").alias("event_type"),
            F.col("__c.dow").alias("dow"),
            F.col("__c.n").alias("n"),
            F.col("__t.total").alias("total"),
            F.expr("(__c.n * CAST(1000000 AS BIGINT)) div __t.total")
            .alias("share_ppm"),
            F.expr("(__c.n * CAST(7000000 AS BIGINT)) div __t.total")
            .alias("index_ppm"),
        )
    )


@query(
    "q_multimodal_neardup_cdc",
    oracle=r"""
    WITH a AS (
        SELECT doc_id AS asset_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents
        WHERE text IS NOT NULL AND doc_id IS NOT NULL
          AND octet_length(encode(text)) >= 1
    ), b AS (
        SELECT asset_id, hx, n,
               list_filter(
                   list_transform(
                       CASE WHEN n >= 8 THEN generate_series(8, n)
                            ELSE [] END,
                       i -> CASE WHEN substring(
                                     md5(substring(hx, 2*(i-8)+1, 16)),
                                     1, 2) < '04'
                                 THEN i END),
                   x -> x IS NOT NULL AND x < n) AS bnds
        FROM a
    ), d AS (
        SELECT asset_id, hx, n, bnds,
               unnest(generate_series(1, len(bnds) + 1)) AS k
        FROM b
    ), c AS (
        SELECT asset_id,
               md5(substring(
                   hx,
                   (CASE WHEN k = 1 THEN 0 ELSE bnds[k-1] END) * 2 + 1,
                   ((CASE WHEN k = len(bnds) + 1 THEN n ELSE bnds[k] END)
                    - (CASE WHEN k = 1 THEN 0 ELSE bnds[k-1] END)) * 2
               )) AS ch
        FROM d
    ), sh AS (
        SELECT DISTINCT asset_id AS doc, ch AS shingle FROM c
    ), sizes AS (
        SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc
    ), common AS (
        SELECT a2.doc AS doc_a, b2.doc AS doc_b, COUNT(*) AS n_common
        FROM sh a2 JOIN sh b2
          ON a2.shingle = b2.shingle AND a2.doc < b2.doc
        GROUP BY a2.doc, b2.doc
    )
    SELECT doc_a, doc_b, n_common,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(n_common AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE CAST(n_common AS DOUBLE)
              / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
    """,
)
def q_multimodal_neardup_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY near-dup at CONTENT-DEFINED chunk grain (VERDICT r10 #4):
    same composition as q_multimodal_neardup but with
    operators/multimodal.chunk_binary_cdc — rolling-fingerprint
    boundaries (md5 of each trailing 8-byte window's hex, cut when the
    2-hex-char prefix < '04' ≈ 1/64 per position, expected 64-byte
    chunks), so an INSERTED byte shifts only the chunk containing the
    edit instead of every later chunk (insert-shift robustness
    unit-locked in tests/test_operators.py). DuckDB replays the exact
    boundary rule with list_transform/list_filter over the hex
    rendering and hashes the same hex slices (the q_multimodal_chunk
    hex-injectivity trick); Jaccard is ONE IEEE division over exact
    integer counts."""
    from bigdata_retailrocket_recsys_spark.operators.multimodal import (
        attach_fake_media,
        chunk_binary_cdc,
    )

    assets = attach_fake_media(
        _t(spark, sf_dir, "documents").filter(
            F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        ),
        id_col="doc_id",
        payload_from="text",
    )
    chunks = chunk_binary_cdc(assets, avg_chunk_bytes=64, window_bytes=8)
    sh = chunks.select(
        F.col("asset_id").alias("doc"),
        F.md5(F.hex("chunk")).alias("shingle"),
    ).distinct()
    return ngram_jaccard_pairs(shingles=sh, min_jaccard=0.5)


@query(
    "q_dedup_incremental_spans",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, ((doc_id % 3) + 3) % 3 AS s,
               string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ), sp AS (
        SELECT doc_id, s, st - 1 AS p,
               array_to_string(list_slice(toks, st, st + 4), ' ') AS g
        FROM (SELECT doc_id, s, toks,
                     unnest(generate_series(1, len(toks) - 4)) AS st
              FROM t WHERE len(toks) >= 5)
    ), dup1 AS (
        SELECT g FROM sp WHERE s IN (0, 1) GROUP BY g HAVING COUNT(*) >= 2
    ), st1 AS (
        SELECT doc_id, p,
               p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p ASC)
                   AS grp
        FROM sp WHERE s = 1 AND g IN (SELECT g FROM dup1)
    ), isl1 AS (
        SELECT CAST(1 AS INT) AS inc, doc_id,
               CAST(MIN(p) AS BIGINT) AS span_start,
               CAST(MAX(p) - MIN(p) + 5 AS BIGINT) AS span_len
        FROM st1 GROUP BY doc_id, grp
    ), dup2 AS (
        SELECT g FROM sp GROUP BY g HAVING COUNT(*) >= 2
    ), st2 AS (
        SELECT doc_id, p,
               p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p ASC)
                   AS grp
        FROM sp WHERE s = 2 AND g IN (SELECT g FROM dup2)
    ), isl2 AS (
        SELECT CAST(2 AS INT) AS inc, doc_id,
               CAST(MIN(p) AS BIGINT) AS span_start,
               CAST(MAX(p) - MIN(p) + 5 AS BIGINT) AS span_len
        FROM st2 GROUP BY doc_id, grp
    )
    SELECT inc, doc_id, span_start, span_len FROM isl1
    UNION ALL
    SELECT inc, doc_id, span_start, span_len FROM isl2
    """,
)
def q_dedup_incremental_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO increments through the incremental exact-substring loop
    (operators/dedup.ngram_count_table + duplicated_spans_vs_corpus —
    VERDICT r10 #5): the day-0 corpus (doc_id ≡ 0 mod 3) persists its
    n-gram count table ONCE; day-1 (≡ 1) finds its duplicated spans
    against that artifact plus its own within-batch counts — exactly
    duplicated_spans(day0 ∪ day1) restricted to day-1 docs, with the
    corpus never re-tokenized; the day-1 counts are then APPENDED
    (delta rows, summed per key at read) and day-2 (≡ 2) runs against
    the committed state — a day-2 span duplicating a day-1 phrase is
    found only if the commit round-trip is exact. The whole
    two-increment composition is value-hashed by ONE CTE chain over
    raw n-gram strings (the xxhash64 key grain is collision-checked by
    the fixture gate exactly as in q_dedup_substring_spans)."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        duplicated_spans_vs_corpus,
        ngram_count_table,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    s = F.pmod(F.col("doc_id"), F.lit(3))
    day0 = docs.filter(s == 0)
    day1 = docs.filter(s == 1)
    day2 = docs.filter(s == 2)
    path = session_scratch(spark, "inc_span_ngrams")
    ngram_count_table(day0, path, n=5)
    s1 = duplicated_spans_vs_corpus(
        day1,
        corpus_ngrams=spark.read.parquet(path),
        n=5,
        min_occurrences=2,
    )
    ngram_count_table(day1, path, n=5, mode="append")
    s2 = duplicated_spans_vs_corpus(
        day2,
        corpus_ngrams=spark.read.parquet(path),
        n=5,
        min_occurrences=2,
    )
    one = F.lit(1).cast("int").alias("inc")
    two = F.lit(2).cast("int").alias("inc")
    return s1.select(one, "doc_id", "span_start", "span_len").unionByName(
        s2.select(two, "doc_id", "span_start", "span_len")
    )


@query(
    "q_dedup_lsh_capped",
    oracle=r"""
    WITH src AS (
        SELECT doc_id, text FROM documents
        WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ), seed AS (
        SELECT doc_id, text FROM src ORDER BY doc_id ASC, text ASC LIMIT 1
    ), fam AS (
        SELECT 2000000000 + k AS doc_id, text
        FROM seed, (SELECT unnest(generate_series(0, 39)) AS k)
    ), alld AS (
        SELECT doc_id, text FROM src
        UNION ALL SELECT doc_id, text FROM fam
    ), sh AS (
        SELECT doc_id AS doc,
               array_to_string(list_slice(toks, st, st + 2), ' ') AS s
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\s+') AS toks
                    FROM alld))
    ), sig AS (
        SELECT doc, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS h
        FROM sh, (SELECT unnest(generate_series(0, 15)) AS j)
        GROUP BY doc, j
    ), band AS (
        SELECT doc, j // 4 AS band,
               md5(string_agg(h, '_' ORDER BY j ASC)) AS bucket
        FROM sig GROUP BY doc, j // 4
    ), sized AS (
        SELECT doc, band, bucket,
               COUNT(*) OVER (PARTITION BY band, bucket) AS bsz,
               MIN(doc) OVER (PARTITION BY band, bucket) AS hub
        FROM band
    ), clique AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, 0 AS capped
        FROM sized a JOIN sized b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
        WHERE a.bsz <= 20
    ), star AS (
        SELECT hub AS doc_a, doc AS doc_b, 1 AS capped
        FROM sized WHERE bsz > 20 AND doc <> hub
    )
    SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared_bands,
           CAST(SUM(capped) AS BIGINT) AS n_capped_bands
    FROM (SELECT * FROM clique UNION ALL SELECT * FROM star)
    GROUP BY doc_a, doc_b
    """,
)
def q_dedup_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-bucket-GUARDED MinHash-LSH candidates with the cap FIRING
    (VERDICT r10 #1 made driver-visible): a 40-copy templated family of
    the corpus's first document is unioned in, so every band holds one
    41-member bucket — over the max_bucket=20 cap, it pre-collapses to
    a spanning star from hub = the original document (min id), linear
    B−1 pairs instead of the B(B−1)/2 clique, audited per pair via
    n_capped_bands (below-cap buckets keep the exact clique evidence).
    The ENTIRE guarded chain — md5 signatures, banding, window bucket
    sizing, small-bucket clique, star collapse, audit counts — is
    value-hashed against a DuckDB replay (the q_dedup_minhash_md5
    signature CTE extended with the sized/clique/star split).

    PAIR-GRAIN CAVEAT (VERDICT r11 #4): rows with n_capped_bands > 0
    came (at least partly) from star collapse — the pair SET is
    complete at cluster grain (CC over these edges recovers every
    over-cap family) but two non-hub members of an over-cap bucket
    never pair directly. Pair-grain consumers must treat any output
    with n_capped_bands > 0 as a lower bound on the true pair set."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).select("doc_id", "text")
    seed = docs.orderBy(F.col("doc_id").asc(), F.col("text").asc()).limit(1)
    fam = seed.select(
        F.explode(F.sequence(F.lit(0), F.lit(39))).alias("k"), "text"
    ).select(
        (F.lit(2_000_000_000).cast("bigint") + F.col("k")).alias("doc_id"),
        "text",
    )
    alld = docs.unionByName(fam)
    return minhash_lsh_candidates(
        alld,
        id_col="doc_id",
        text_col="text",
        shingle_n=3,
        num_hashes=16,
        bands=4,
        hash_fn="md5",
        max_bucket=20,
    )


@query(
    "q_text_incremental_lines",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, ((doc_id % 3) + 3) % 3 AS sl, text FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), l AS (
        SELECT doc_id, sl, p - 1 AS p, lns[p] AS ln
        FROM (SELECT doc_id, sl, string_split(text, chr(10)) AS lns
              FROM base),
             LATERAL (SELECT unnest(generate_series(1, len(lns))) AS p)
    ), h AS (
        SELECT doc_id, sl, p, ln,
               CASE WHEN trim(ln) <> '' THEN
                   md5(trim(regexp_replace(lower(ln), '\s+', ' ', 'g')))
               END AS hh
        FROM l
    ), prev1 AS (
        SELECT hh FROM h WHERE hh IS NOT NULL AND sl IN (0, 1)
        GROUP BY hh HAVING COUNT(DISTINCT doc_id) >= 3
    ), reb1 AS (
        SELECT doc_id,
               SUM(CASE WHEN hh IS NOT NULL THEN 1 ELSE 0 END) AS n_kept,
               string_agg(ln, chr(10) ORDER BY p ASC) AS text_clean
        FROM h WHERE sl = 1
          AND (hh IS NULL OR hh NOT IN (SELECT hh FROM prev1))
        GROUP BY doc_id
    ), tot1 AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN hh IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_lines
        FROM h WHERE sl = 1 GROUP BY doc_id
    ), prev2 AS (
        SELECT hh FROM h WHERE hh IS NOT NULL
        GROUP BY hh HAVING COUNT(DISTINCT doc_id) >= 3
    ), reb2 AS (
        SELECT doc_id,
               SUM(CASE WHEN hh IS NOT NULL THEN 1 ELSE 0 END) AS n_kept,
               string_agg(ln, chr(10) ORDER BY p ASC) AS text_clean
        FROM h WHERE sl = 2
          AND (hh IS NULL OR hh NOT IN (SELECT hh FROM prev2))
        GROUP BY doc_id
    ), tot2 AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN hh IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_lines
        FROM h WHERE sl = 2 GROUP BY doc_id
    )
    SELECT CAST(1 AS INT) AS inc, t.doc_id, t.n_lines,
           CAST(t.n_lines - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.text_clean, '') AS text_clean
    FROM tot1 t LEFT JOIN reb1 r USING (doc_id)
    UNION ALL
    SELECT CAST(2 AS INT) AS inc, t.doc_id, t.n_lines,
           CAST(t.n_lines - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.text_clean, '') AS text_clean
    FROM tot2 t LEFT JOIN reb2 r USING (doc_id)
    """,
)
def q_text_incremental_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO increments through the incremental CCNet line-strip loop
    (operators/text.line_prevalence_table +
    strip_repeated_lines_vs_corpus — the line-grain half of VERDICT r10
    #5): day-0 (doc_id ≡ 0 mod 3) persists its per-line distinct-doc
    prevalence table once; day-1 (≡ 1) strips against artifact+batch
    counts — exactly strip_repeated_lines(day0 ∪ day1) restricted to
    day-1 docs, corpus text never re-read; day-1's counts are APPENDED
    (doc-disjoint increments make summed distinct-doc deltas exact) and
    day-2 (≡ 2) strips against the committed state. Cleaned TEXT is
    hashed — any prevalence miscount or order bug breaks the oracle."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        line_prevalence_table,
        strip_repeated_lines_vs_corpus,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    s = F.pmod(F.col("doc_id"), F.lit(3))
    path = session_scratch(spark, "inc_line_prev")
    line_prevalence_table(docs.filter(s == 0), path)
    s1 = strip_repeated_lines_vs_corpus(
        docs.filter(s == 1),
        corpus_lines=spark.read.parquet(path),
        min_docs=3,
    )
    line_prevalence_table(docs.filter(s == 1), path, mode="append")
    s2 = strip_repeated_lines_vs_corpus(
        docs.filter(s == 2),
        corpus_lines=spark.read.parquet(path),
        min_docs=3,
    )
    cols = ["doc_id", "n_lines", "n_removed", "text_clean"]
    return s1.select(F.lit(1).cast("int").alias("inc"), *cols).unionByName(
        s2.select(F.lit(2).cast("int").alias("inc"), *cols)
    )


@query(
    "q_multimodal_neardup_incremental",
    oracle=r"""
    WITH a AS (
        SELECT doc_id AS asset_id, ((doc_id % 2) + 2) % 2 AS sl,
               hex(encode(text)) AS hx, octet_length(encode(text)) AS n
        FROM documents
        WHERE text IS NOT NULL AND doc_id IS NOT NULL
          AND octet_length(encode(text)) >= 1
    ), b AS (
        SELECT asset_id, sl, hx, n,
               list_filter(
                   list_transform(
                       CASE WHEN n >= 8 THEN generate_series(8, n)
                            ELSE [] END,
                       i -> CASE WHEN substring(
                                     md5(substring(hx, 2*(i-8)+1, 16)),
                                     1, 2) < '04'
                                 THEN i END),
                   x -> x IS NOT NULL AND x < n) AS bnds
        FROM a
    ), d AS (
        SELECT asset_id, sl, hx, n, bnds,
               unnest(generate_series(1, len(bnds) + 1)) AS k
        FROM b
    ), c AS (
        SELECT DISTINCT asset_id, sl,
               md5(substring(
                   hx,
                   (CASE WHEN k = 1 THEN 0 ELSE bnds[k-1] END) * 2 + 1,
                   ((CASE WHEN k = len(bnds) + 1 THEN n ELSE bnds[k] END)
                    - (CASE WHEN k = 1 THEN 0 ELSE bnds[k-1] END)) * 2
               )) AS ch
        FROM d
    ), nb AS (
        SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_batch
        FROM c WHERE sl = 1 GROUP BY asset_id
    ), nc AS (
        SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_corpus
        FROM c WHERE sl = 0 GROUP BY asset_id
    ), common AS (
        SELECT b2.asset_id AS batch_doc, c2.asset_id AS corpus_doc,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM (SELECT * FROM c WHERE sl = 1) b2
        JOIN (SELECT * FROM c WHERE sl = 0) c2 ON b2.ch = c2.ch
        GROUP BY b2.asset_id, c2.asset_id
    )
    SELECT batch_doc, corpus_doc, n_common,
           nb.n_batch, nc.n_corpus,
           CAST(n_common AS DOUBLE)
               / CAST(nb.n_batch + nc.n_corpus - n_common AS DOUBLE)
               AS jaccard
    FROM common
    JOIN nb ON nb.asset_id = batch_doc
    JOIN nc ON nc.asset_id = corpus_doc
    WHERE CAST(n_common AS DOUBLE)
              / CAST(nb.n_batch + nc.n_corpus - n_common AS DOUBLE) >= 0.5
    """,
)
def q_multimodal_neardup_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL binary near-dup — the daily-upload path at blob
    grain: the even-id half of the corpus persists its CDC chunk-digest
    table once (multimodal.chunk_digest_table — payload bytes chunked
    and hashed exactly once per snapshot); the odd-id batch is CDC-
    chunked and compared against the at-rest digests with
    dedup.jaccard_pairs_vs_corpus (exact bipartite Jaccard ≥ 0.5, ONE
    IEEE division over exact counts) — corpus blobs are never re-read.
    Completes the incremental family across every dedup grain (exact /
    MinHash / substring spans / lines / binary chunks). DuckDB replays
    chunk boundaries, digests, and the bipartite Jaccard end-to-end
    (hex-slice injectivity)."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        jaccard_pairs_vs_corpus,
    )
    from bigdata_retailrocket_recsys_spark.operators.multimodal import (
        attach_fake_media,
        chunk_binary_cdc,
        chunk_digest_table,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    s = F.pmod(F.col("doc_id"), F.lit(2))
    corpus_assets = attach_fake_media(
        docs.filter(s == 0), id_col="doc_id", payload_from="text"
    )
    path = session_scratch(spark, "chunk_digests")
    chunk_digest_table(corpus_assets, path)
    batch_assets = attach_fake_media(
        docs.filter(s == 1), id_col="doc_id", payload_from="text"
    )
    batch_digests = chunk_binary_cdc(
        batch_assets, avg_chunk_bytes=64, window_bytes=8
    ).select(
        F.col("asset_id"), F.md5(F.hex("chunk")).alias("chunk_digest")
    ).distinct()
    return jaccard_pairs_vs_corpus(
        batch_digests,
        spark.read.parquet(path),
        min_jaccard=0.5,
    )


@query(
    "q_dedup_incremental_strip",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, ((doc_id % 3) + 3) % 3 AS sl,
               string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ), tok AS (
        SELECT doc_id, sl, p - 1 AS p, toks[p] AS tk
        FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS p)
    ), sp AS (
        SELECT doc_id, sl, st - 1 AS p,
               array_to_string(list_slice(toks, st, st + 4), ' ') AS g
        FROM (SELECT doc_id, sl, toks,
                     unnest(generate_series(1, len(toks) - 4)) AS st
              FROM t WHERE len(toks) >= 5)
    ), dup1 AS (
        SELECT g FROM sp WHERE sl IN (0, 1) GROUP BY g HAVING COUNT(*) >= 2
    ), isl1 AS (
        SELECT doc_id, MIN(p) AS s, MAX(p) - MIN(p) + 5 AS l
        FROM (SELECT doc_id, p,
                     p - ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY p ASC) AS grp
              FROM sp WHERE sl = 1 AND g IN (SELECT g FROM dup1))
        GROUP BY doc_id, grp
    ), cov1 AS (
        SELECT DISTINCT doc_id, unnest(generate_series(s, s + l - 1)) AS p
        FROM isl1
    ), reb1 AS (
        SELECT k.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(k.tk, ' ' ORDER BY k.p ASC) AS text_clean
        FROM (SELECT tok.* FROM tok LEFT JOIN cov1 c
                ON tok.doc_id = c.doc_id AND tok.p = c.p
              WHERE tok.sl = 1 AND c.p IS NULL) k
        GROUP BY k.doc_id
    ), tot1 AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
        FROM t WHERE sl = 1
    ), dup2 AS (
        SELECT g FROM sp GROUP BY g HAVING COUNT(*) >= 2
    ), isl2 AS (
        SELECT doc_id, MIN(p) AS s, MAX(p) - MIN(p) + 5 AS l
        FROM (SELECT doc_id, p,
                     p - ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY p ASC) AS grp
              FROM sp WHERE sl = 2 AND g IN (SELECT g FROM dup2))
        GROUP BY doc_id, grp
    ), cov2 AS (
        SELECT DISTINCT doc_id, unnest(generate_series(s, s + l - 1)) AS p
        FROM isl2
    ), reb2 AS (
        SELECT k.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(k.tk, ' ' ORDER BY k.p ASC) AS text_clean
        FROM (SELECT tok.* FROM tok LEFT JOIN cov2 c
                ON tok.doc_id = c.doc_id AND tok.p = c.p
              WHERE tok.sl = 2 AND c.p IS NULL) k
        GROUP BY k.doc_id
    ), tot2 AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
        FROM t WHERE sl = 2
    )
    SELECT CAST(1 AS INT) AS inc, t1.doc_id, t1.n_tokens,
           CAST(t1.n_tokens - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.text_clean, '') AS text_clean
    FROM tot1 t1 LEFT JOIN reb1 r USING (doc_id)
    UNION ALL
    SELECT CAST(2 AS INT) AS inc, t2.doc_id, t2.n_tokens,
           CAST(t2.n_tokens - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.text_clean, '') AS text_clean
    FROM tot2 t2 LEFT JOIN reb2 r USING (doc_id)
    """,
)
def q_dedup_incremental_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO increments through the incremental exact-substring REMOVAL
    loop (operators/dedup.strip_duplicated_spans_vs_corpus — the APPLY
    half of q_dedup_incremental_spans): day-1 batch text is rebuilt
    with every corpus∪batch-duplicated maximal span cut, against the
    persisted day-0 n-gram count table; the day-1 counts are appended
    and day-2 strips against the committed state. The cleaned TEXT
    itself is value-hashed per increment — any off-by-one in span
    coverage, island merging, or token order breaks the oracle."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        ngram_count_table,
        strip_duplicated_spans_vs_corpus,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    s = F.pmod(F.col("doc_id"), F.lit(3))
    path = session_scratch(spark, "inc_strip_ngrams")
    ngram_count_table(docs.filter(s == 0), path, n=5)
    s1 = strip_duplicated_spans_vs_corpus(
        docs.filter(s == 1),
        corpus_ngrams=spark.read.parquet(path),
        n=5,
        min_occurrences=2,
    )
    ngram_count_table(docs.filter(s == 1), path, n=5, mode="append")
    s2 = strip_duplicated_spans_vs_corpus(
        docs.filter(s == 2),
        corpus_ngrams=spark.read.parquet(path),
        n=5,
        min_occurrences=2,
    )
    cols = ["doc_id", "n_tokens", "n_removed", "text_clean"]
    return s1.select(F.lit(1).cast("int").alias("inc"), *cols).unionByName(
        s2.select(F.lit(2).cast("int").alias("inc"), *cols)
    )


@query(
    "q_multimodal_chunk_cdc_gear",
    oracle="""
    SELECT doc_id AS asset_id,
           md5(hex(encode(text))) AS reassembled_hex_md5
    FROM documents
    WHERE text IS NOT NULL AND doc_id IS NOT NULL
      AND octet_length(encode(text)) >= 1
    """,
)
def q_multimodal_chunk_cdc_gear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gear-hash Arrow CDC chunking (multimodal.chunk_binary_cdc_arrow —
    the 16×-measured throughput tier): every payload chunked by the
    vectorized gear rolling hash, then REASSEMBLED in chunk order and
    value-hashed against the original bytes — the oracle checks the
    tier's HARD contract (exact tiling: no byte lost, duplicated,
    or reordered by any boundary decision; a single off-by-one breaks
    every digest). Boundary POSITIONS are gear-specific and not
    DuckDB-expressible (64-bit wrap recurrence) — they are pinned by
    the unit test (tiling, insert-shift, determinism, FastCDC clamps);
    this entry makes the tier driver-visible with a real value gate."""
    from bigdata_retailrocket_recsys_spark.operators.multimodal import (
        attach_fake_media,
        chunk_binary_cdc_arrow,
    )

    assets = attach_fake_media(
        _t(spark, sf_dir, "documents").filter(
            F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        ),
        id_col="doc_id",
        payload_from="text",
    )
    chunks = chunk_binary_cdc_arrow(assets, avg_chunk_bytes=64)
    return chunks.groupBy("asset_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "chunk_idx", F.hex("chunk").alias("hx")
                            )
                        )
                    ),
                    lambda x: x["hx"],
                ),
                "",
            )
        ).alias("reassembled_hex_md5")
    )


@query(
    "q_stats_psi_quantile",
    oracle=f"""
    WITH b AS (
        SELECT CAST(value AS DOUBLE) AS v,
               CASE WHEN ts < TIMESTAMP '2024-01-16'
                    THEN 'base' ELSE 'cur' END AS g
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
          AND NOT isnan(value) AND NOT isinf(value)
    ), c AS (
        SELECT v,
               CAST(SUM(CASE WHEN g = 'base' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN g = 'cur' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cb
        FROM b GROUP BY v
    ), t0 AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na0 FROM c
    ), cum AS (
        SELECT v, ca, cb,
               CAST(SUM(ca) OVER (ORDER BY v ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cm
        FROM c
    ), edges AS (
        SELECT {", ".join(
            f"MIN(CASE WHEN cm * 10 >= {k} * na0 THEN v END) AS e{k}"
            for k in range(1, 10)
        )}
        FROM cum CROSS JOIN t0
    ), bk AS (
        SELECT ({" + ".join(
            f"CASE WHEN e{k} IS NOT NULL AND v > e{k} THEN 1 ELSE 0 END"
            for k in range(1, 10)
        )}) AS bkt, ca, cb
        FROM c CROSS JOIN edges
    ), g2 AS (
        SELECT bkt, CAST(SUM(ca) AS BIGINT) AS ca,
               CAST(SUM(cb) AS BIGINT) AS cb
        FROM bk GROUP BY bkt
    ), t AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na,
               CAST(SUM(cb) AS BIGINT) AS nb,
               CAST(COUNT(*) AS BIGINT) AS m FROM g2
    ), j AS (
        SELECT na, nb, m,
               CAST(ca + 1 AS BIGINT) AS sa,
               CAST(cb + 1 AS BIGINT) AS sb,
               CAST(na + m AS BIGINT) AS sna,
               CAST(nb + m AS BIGINT) AS snb
        FROM g2 CROSS JOIN t
    )
    SELECT MAX(na) AS n_a, MAX(nb) AS n_b, MAX(m) AS n_buckets,
           GREATEST(CAST(SUM({{contrib}}) AS BIGINT),
                    CAST(0 AS BIGINT)) AS psi_u,
           CAST(GREATEST(CAST(SUM({{contrib}}) AS BIGINT),
                         CAST(0 AS BIGINT)) AS DOUBLE) / 1e6 AS psi
    FROM j
    """.format(contrib=_PSI_ORACLE_CONTRIB),
)
def q_stats_psi_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI over BASELINE-DECILE bins (operators/aggregates.
    psi_drift_quantile) — the standard scorecard drift form: bin edges
    are order statistics of the baseline slice (first half of January)
    by the integer cross-multiplication cum·10 ≥ k·n over a SHARDED
    prefix sum of the distinct-value axis, so each bin holds ~10% of
    the baseline and the statistic is scale-free (q_stats_psi's
    fixed-width /50 buckets are the raw-bucket twin). Ties to an edge
    fall left; NaN/±inf excluded (the KS rule); the PSI tail — Laplace
    smoothing, the shared PSI_CONTRIB_SQL tree, the GREATEST clamp —
    is psi_drift's verbatim."""
    from bigdata_retailrocket_recsys_spark.operators.aggregates import (
        psi_drift_quantile,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    b = ev.select(
        F.col("value").alias("v"),
        F.when(
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
            F.lit("base"),
        )
        .otherwise(F.lit("cur"))
        .alias("g"),
    )
    return psi_drift_quantile(
        b, value_col="v", group_col="g", group_a="base", group_b="cur",
        n_buckets=10,
    )


@query(
    "q_corpus_fertility",
    oracle=r"""
    WITH b AS (
        SELECT source,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(len(list_filter(
                   string_split_regex(trim(text), '\s+'),
                   t -> t <> '')) AS BIGINT) AS n_ws,
               CAST(len(regexp_extract_all(
                   text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
           CAST(SUM(n_ws) AS BIGINT) AS n_ws_tokens,
           CAST(SUM(n_bpe) AS BIGINT) AS n_pretokens,
           CAST(CAST(SUM(n_bytes) * 1000000 AS BIGINT)
               // GREATEST(CAST(SUM(n_ws) AS BIGINT), 1)
               AS BIGINT) AS bytes_per_ws_ppm,
           CAST(CAST(SUM(n_bytes) * 1000000 AS BIGINT)
               // GREATEST(CAST(SUM(n_bpe) AS BIGINT), 1)
               AS BIGINT) AS bytes_per_pretoken_ppm,
           CAST(CAST(SUM(n_bpe) * 1000000 AS BIGINT)
               // GREATEST(CAST(SUM(n_ws) AS BIGINT), 1)
               AS BIGINT) AS fertility_ppm
    FROM b GROUP BY source
    """,
)
def q_corpus_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain TOKENIZER-FERTILITY report — the budgeting/costing
    diagnostic every corpus team runs before committing a mixture:
    UTF-8 bytes per whitespace token, bytes per BPE-style pretoken
    (the GPT-2 pretokenizer's letter-run/digit-run/punct classes —
    the q_text_bpe regex), and fertility (pretokens per whitespace
    word — high fertility flags scripts/domains where a subword
    tokenizer will explode sequence lengths and eat budget). All
    integer-division ppm ratios over exact sums (zero-guarded) — no
    floats anywhere; one narrow projection + one map-side-combinable
    rollup, zero joins."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    n_bytes = F.octet_length("text").cast("bigint")
    n_ws = F.size(
        F.filter(
            F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != F.lit("")
        )
    ).cast("bigint")
    n_bpe = F.size(
        F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)")
    ).cast("bigint")
    b = docs.select(
        "source",
        n_bytes.alias("n_bytes"),
        n_ws.alias("n_ws"),
        n_bpe.alias("n_bpe"),
    )
    g = b.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_bytes").cast("bigint").alias("n_bytes"),
        F.sum("n_ws").cast("bigint").alias("n_ws_tokens"),
        F.sum("n_bpe").cast("bigint").alias("n_pretokens"),
    )
    return g.select(
        "source",
        "n_docs",
        "n_bytes",
        "n_ws_tokens",
        "n_pretokens",
        F.expr(
            "(n_bytes * CAST(1000000 AS BIGINT))"
            " div GREATEST(n_ws_tokens, 1)"
        ).alias("bytes_per_ws_ppm"),
        F.expr(
            "(n_bytes * CAST(1000000 AS BIGINT))"
            " div GREATEST(n_pretokens, 1)"
        ).alias("bytes_per_pretoken_ppm"),
        F.expr(
            "(n_pretokens * CAST(1000000 AS BIGINT))"
            " div GREATEST(n_ws_tokens, 1)"
        ).alias("fertility_ppm"),
    )


@query(
    "q_window_rolling_quantile",
    oracle="""
    WITH b AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
               CAST(floor(value * 100) AS BIGINT) AS vc
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
          AND NOT isnan(value) AND NOT isinf(value)
    ), days AS (
        SELECT DISTINCT day FROM b
    ), x AS (
        SELECT b.vc, b.day + d AS ed
        FROM b, (SELECT unnest(generate_series(0, 6)) AS d)
    ), xx AS (
        SELECT x.ed, x.vc FROM x JOIN days ON days.day = x.ed
    ), c AS (
        SELECT ed, vc, CAST(COUNT(*) AS BIGINT) AS n
        FROM xx GROUP BY ed, vc
    ), cum AS (
        SELECT ed, vc, n,
               CAST(SUM(n) OVER (PARTITION BY ed ORDER BY vc ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cm,
               CAST(SUM(n) OVER (PARTITION BY ed) AS BIGINT) AS tot
        FROM c
    )
    SELECT ed AS end_day,
           CAST(MAX(tot) AS BIGINT) AS n_obs,
           CAST(MIN(vc) AS BIGINT) AS min_c,
           CAST(MIN(CASE WHEN cm * 2 >= tot THEN vc END) AS BIGINT)
               AS p50_c,
           CAST(MIN(CASE WHEN cm * 100 >= 95 * tot THEN vc END) AS BIGINT)
               AS p95_c,
           CAST(MAX(vc) AS BIGINT) AS max_c
    FROM cum GROUP BY ed
    """,
)
def q_window_rolling_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day value quantiles per active day
    (operators/aggregates.rolling_value_quantiles) — the SLO/latency
    monitoring shape a trailing RANGE percentile window cannot express
    without unbounded state: explode-to-window-ends equi shape
    (constant ×7, never a band BNLJ; the q_agg_rolling_distinct move),
    per-end-day order statistics over a GROUPED sharded prefix sum,
    exact cents + cross-multiplied ranks (p50: cum·2 ≥ n; p95:
    cum·100 ≥ 95·n) — all-bigint output, no percentile sketch, no
    float ordering anywhere."""
    from bigdata_retailrocket_recsys_spark.operators.aggregates import (
        rolling_value_quantiles,
    )

    return rolling_value_quantiles(
        _t(spark, sf_dir, "events"),
        ts_col="ts",
        value_col="value",
        window_days=7,
    )


@query(
    "q_dedup_cluster_report",
    oracle="""
    WITH RECURSIVE tok AS (
        SELECT DISTINCT doc_id AS doc, lang, source,
               unnest(string_split_regex(trim(text), '\\s+')) AS shingle
        FROM documents
    ), sizes AS (
        SELECT doc, COUNT(*) AS n_sh FROM tok GROUP BY doc
    ), common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b
          ON a.shingle = b.shingle AND a.doc < b.doc
         AND a.lang = b.lang AND a.source = b.source
        GROUP BY a.doc, b.doc
    ), pairs AS (
        SELECT doc_a, doc_b FROM common
        JOIN sizes sa ON sa.doc = doc_a
        JOIN sizes sb ON sb.doc = doc_b
        WHERE CAST(n_common AS DOUBLE)
                  / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
    ), edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ), reach(s, d) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ), cc AS (
        SELECT s AS doc_id, MIN(d) AS cluster_id FROM reach GROUP BY s
    ), csz AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
        FROM cc GROUP BY cluster_id
    )
    SELECT sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(sz * COUNT(*) AS BIGINT) AS n_docs,
           CAST((sz - 1) * COUNT(*) AS BIGINT) AS n_removable
    FROM csz GROUP BY sz
    """,
)
def q_dedup_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-pass REPORT: cluster-size histogram over the Jaccard≥0.5
    near-dup components (the q_dedup_clusters chain) — the summary a
    production dedup emits before anyone approves the cut: how many
    singletons (untouched), how many k-clusters, total docs per size,
    and n_removable = docs the keeper policy would drop. All-integer
    (size × count cross-products); the heavy chain is the already-
    audited pair/CC machinery, the report adds two bounded rollups.
    Oracle: the recursive-CTE closure extended with the same
    histogram."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        connected_components,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(
        docs,
        id_col="doc_id",
        text_col="text",
        block_cols=["lang", "source"],
        shingle_n=1,
        min_jaccard=0.5,
    ).select("doc_a", "doc_b")
    cc = connected_components(
        docs, edges, node_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    csz = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return csz.groupBy("sz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.col("sz") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
        ((F.col("sz") - 1) * F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_removable"),
    ).select(
        F.col("sz").alias("cluster_size"),
        "n_clusters",
        "n_docs",
        "n_removable",
    )


from bigdata_retailrocket_recsys_spark.operators.text import (  # noqa: E402
    PMI_CONTRIB_SQL,
)

_PMI_ORACLE_CONTRIB = PMI_CONTRIB_SQL.format(
    cab="n_ab", n="n", ca="n_a", cb="n_b"
)


@query(
    "q_text_collocations",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id,
               string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), big AS (
        SELECT toks[p] AS w1, toks[p + 1] AS w2
        FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1))
                           AS p)
        WHERE toks[p] <> '' AND toks[p + 1] <> ''
    ), cab AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM big GROUP BY w1, w2
    ), ca AS (
        SELECT w1, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM cab GROUP BY w1
    ), cb AS (
        SELECT w2, CAST(SUM(n_ab) AS BIGINT) AS n_b FROM cab GROUP BY w2
    ), t AS (
        SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM cab
    ), s AS (
        SELECT w1, w2, n_ab, n_a, n_b,
               {_PMI_ORACLE_CONTRIB} AS pmi_u
        FROM cab JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN t
        WHERE n_ab >= 3
    )
    SELECT w1, w2, n_ab, n_a, n_b, pmi_u FROM s
    ORDER BY pmi_u DESC, w1 ASC, w2 ASC LIMIT 25
    """,
)
def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (operators/text.collocations_pmi — Church &
    Hanks PMI over adjacent word pairs): top-25 bigrams whose joint
    frequency beats independence, min_count=3 against the PMI
    low-frequency pathology. Counts exact from one tokenize-once
    lead-window pass; margins from the bigram table's own left/right
    sums (one shared event space); PMI µ-floored through the shared
    PMI_CONTRIB_SQL tree and ranked on the bigint with a total
    tiebreak — the global top-k is a TakeOrderedAndProject."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        collocations_pmi,
    )

    return collocations_pmi(
        _t(spark, sf_dir, "documents"), min_count=3, top_k=25
    )




@query(
    "q_dedup_incremental_embed",
    oracle="WITH "
    + _EMBED_BUCKET_CTES.format(
        src="(SELECT vec_id AS uid, embedding FROM embeddings "
        "WHERE vec_id IS NOT NULL)",
        tables_m1=3,
        # bits=12 (not 8): at 8 bits every random fixture batch vector
        # collides with SOME corpus vector and the survivor set is
        # vacuously empty; 12 bits gives a ~35% dup / 65% survivor mix,
        # so the hash checks BOTH branches
        bits_m1=11,
        dim=64,
        dim_m1=63,
    )
    + """
    , dup1 AS (
        SELECT DISTINCT b.uid AS vec_id
        FROM bk b JOIN bk c ON b.t = c.t AND b.bucket = c.bucket
        WHERE ((b.uid % 5) + 5) % 5 = 0 AND ((c.uid % 5) + 5) % 5 >= 2
    ), s1 AS (
        SELECT vec_id FROM embeddings
        WHERE vec_id IS NOT NULL AND ((vec_id % 5) + 5) % 5 = 0
          AND vec_id NOT IN (SELECT vec_id FROM dup1)
    ), dup2 AS (
        SELECT DISTINCT b.uid AS vec_id
        FROM bk b JOIN bk c ON b.t = c.t AND b.bucket = c.bucket
        WHERE ((b.uid % 5) + 5) % 5 = 1
          AND (((c.uid % 5) + 5) % 5 >= 2
               OR c.uid IN (SELECT vec_id FROM s1))
    ), s2 AS (
        SELECT vec_id FROM embeddings
        WHERE vec_id IS NOT NULL AND ((vec_id % 5) + 5) % 5 = 1
          AND vec_id NOT IN (SELECT vec_id FROM dup2)
    )
    SELECT CAST(1 AS INT) AS inc, vec_id FROM s1
    UNION ALL
    SELECT CAST(2 AS INT) AS inc, vec_id FROM s2
    """,
)
def q_dedup_incremental_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO increments through the incremental EMBEDDING-dedup loop
    (operators/dedup.embed_bucket_table + embed_candidates_vs_corpus —
    VERDICT r11 #3, completing the incremental family's last grain):
    the day-0 corpus (vec_id ≡ 2,3,4 mod 5) persists its sign-LSH
    bucket table ONCE; day-1 (≡ 0) batch vectors sharing any
    (table, bucket) cell with the corpus are dropped, survivors'
    buckets are APPENDED (pinned with an eager localCheckpoint before
    the write — the refreshByPath trap: the survivors' lineage reads
    the very table being appended); day-2 (≡ 1) runs against the
    committed state, so a day-2 near-copy of a day-1 survivor is
    caught only if the commit round-trip is exact. Corpus vectors are
    never re-read or re-hashed. Unhashable batch rows (NULL vector)
    always survive (the q_dedup_exact NULL discipline). Fully
    value-hashed: buckets are md5-Rademacher × quantized-bigint
    integers (_EMBED_BUCKET_CTES), so ONE CTE chain replays the whole
    hash → persist → bipartite-join → append → rejoin composition."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        embed_bucket_table,
        embed_candidates_vs_corpus,
    )

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id").isNotNull())
    m = F.pmod(F.col("vec_id"), F.lit(5))
    corpus0 = emb.filter(m >= 2)
    day1 = emb.filter(m == 0)
    day2 = emb.filter(m == 1)
    path = session_scratch(spark, "inc_embed_buckets")
    # bits=12: see the oracle note — 8 bits is vacuous on random fixtures
    embed_bucket_table(corpus0, path, dim=64, bits=12)
    dup1 = (
        embed_candidates_vs_corpus(
            day1, spark.read.parquet(path), dim=64, bits=12
        )
        .select(F.col("batch_vid").alias("vec_id"))
        .distinct()
    )
    surv1 = (
        day1.join(dup1, "vec_id", "left_anti")
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)  # pin BEFORE the same-path append
    )
    embed_bucket_table(surv1, path, dim=64, bits=12, mode="append")
    dup2 = (
        embed_candidates_vs_corpus(
            day2, spark.read.parquet(path), dim=64, bits=12
        )
        .select(F.col("batch_vid").alias("vec_id"))
        .distinct()
    )
    surv2 = day2.join(dup2, "vec_id", "left_anti")
    one = F.lit(1).cast("int").alias("inc")
    two = F.lit(2).cast("int").alias("inc")
    return surv1.select(one, "vec_id").unionByName(surv2.select(two, "vec_id"))


@query(
    "q_dedup_embed_vs_corpus_apply",
    headline=True,  # r13 (VERDICT r12 #5): the embedding tier is the
    # newest heavy surface — track its wall per round via the bench
    oracle="""WITH src AS (
        SELECT vec_id, embedding, label FROM embeddings
        WHERE vec_id IS NOT NULL
    ), cop AS (
        SELECT vec_id + 1000000 AS vec_id, embedding, label
        FROM (SELECT vec_id, embedding, label FROM src
              WHERE ((vec_id % 5) + 5) % 5 >= 2 AND embedding IS NOT NULL
              ORDER BY vec_id ASC LIMIT 20)
    ), batch AS (
        SELECT vec_id, embedding, label FROM src
        WHERE ((vec_id % 5) + 5) % 5 = 0
        UNION ALL SELECT vec_id, embedding, label FROM cop
    ), corpus AS (
        SELECT vec_id, embedding FROM src WHERE ((vec_id % 5) + 5) % 5 >= 2
    ), allv AS (
        SELECT 'b' || CAST(vec_id AS VARCHAR) AS uid, embedding FROM batch
        UNION ALL
        SELECT 'c' || CAST(vec_id AS VARCHAR) AS uid, embedding FROM corpus
    ), """
    + _EMBED_BUCKET_CTES.format(
        src="allv", tables_m1=3, bits_m1=11, dim=64, dim_m1=63
    ).lstrip()
    + """
    , cand AS (
        SELECT DISTINCT CAST(substring(b.uid, 2) AS BIGINT) AS bvid,
               CAST(substring(c.uid, 2) AS BIGINT) AS cvid
        FROM bk b JOIN bk c ON b.t = c.t AND b.bucket = c.bucket
        WHERE b.uid LIKE 'b%' AND c.uid LIKE 'c%'
    ), dup AS (
        SELECT DISTINCT cand.bvid
        FROM cand
        JOIN batch bv ON bv.vec_id = cand.bvid
        JOIN corpus cv ON cv.vec_id = cand.cvid
        WHERE list_cosine_similarity(CAST(bv.embedding AS DOUBLE[]),
                                     CAST(cv.embedding AS DOUBLE[])) >= 0.6
    )
    SELECT vec_id, label FROM batch
    WHERE vec_id NOT IN (SELECT bvid FROM dup)
    """,
)
def q_dedup_embed_vs_corpus_apply(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental SemDeDup APPLY with the verify stage FIRING
    (operators/dedup.semdedup_apply_vs_corpus): 20 exact copies of
    corpus vectors (shifted ids — the q_dedup_lsh_capped planting
    move) ride into the batch, collide with their sources in every
    sign-LSH table, pass the exact-cosine verify at ~1.0, and are
    dropped as semantic dups of the existing corpus; genuine batch
    rows survive (max real candidate cosine across all fixtures is
    0.443 — min_cosine=0.6 sits in a wide margin on both sides, the
    q_dedup_embed_apply threshold rule). Corpus vectors are fetched
    by id for candidates only, never scanned corpus-wide."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        embed_bucket_table,
        semdedup_apply_vs_corpus,
    )

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id").isNotNull())
    m = F.pmod(F.col("vec_id"), F.lit(5))
    corpus = emb.filter(m >= 2)
    copies = (
        corpus.filter(F.col("embedding").isNotNull())
        .orderBy(F.col("vec_id").asc())
        .limit(20)
        .select(
            (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
            "embedding",
            "label",
        )
    )
    batch = emb.filter(m == 0).select(
        "vec_id", "embedding", "label"
    ).unionByName(copies)
    path = session_scratch(spark, "embed_apply_buckets")
    # bits explicit since r13: the vs-corpus family requires the batch's
    # plane params to MATCH the persisted table's (no silent default)
    embed_bucket_table(corpus, path, dim=64, bits=12)
    surv = semdedup_apply_vs_corpus(
        batch,
        spark.read.parquet(path),
        corpus,
        dim=64,
        bits=12,
        min_cosine=0.6,
    )
    return surv.select("vec_id", "label")


@query(
    "q_dedup_embed_multiprobe",
    oracle="""WITH src AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id IS NOT NULL
    ), allv AS (
        SELECT 'b' || CAST(vec_id AS VARCHAR) AS uid, embedding FROM src
        WHERE ((vec_id % 5) + 5) % 5 = 0
        UNION ALL
        SELECT 'c' || CAST(vec_id AS VARCHAR) AS uid, embedding FROM src
        WHERE ((vec_id % 5) + 5) % 5 >= 2
    ), """
    + _EMBED_BUCKET_CTES.format(
        src="allv", tables_m1=3, bits_m1=11, dim=64, dim_m1=63
    ).lstrip()
    + """
    , bprobe AS (
        SELECT uid, t, bucket FROM bk WHERE uid LIKE 'b%'
        UNION
        SELECT d.uid, d.t,
               xor(k.bucket, (CAST(1 AS BIGINT) << d.j)) AS bucket
        FROM (SELECT uid, t, j, dot, ROW_NUMBER() OVER (
                  PARTITION BY uid, t ORDER BY abs(dot) ASC, j ASC) AS rn
              FROM dots WHERE uid LIKE 'b%') d
        JOIN bk k ON k.uid = d.uid AND k.t = d.t
        WHERE d.rn <= 2
    )
    SELECT CAST(substring(b.uid, 2) AS BIGINT) AS batch_vid,
           CAST(substring(c.uid, 2) AS BIGINT) AS corpus_vid,
           CAST(COUNT(*) AS BIGINT) AS n_shared_tables
    FROM bprobe b
    JOIN bk c ON c.t = b.t AND c.bucket = b.bucket AND c.uid LIKE 'c%'
    GROUP BY 1, 2
    """,
)
def q_dedup_embed_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH candidates vs the persisted corpus bucket
    table (operators/dedup.embed_candidates_vs_corpus n_probes=2 —
    VERDICT r12 #8 made driver-visible): per table the batch side also
    probes the two Hamming-1 neighbor buckets whose sign decisions had
    the smallest |dot| (ties → smaller bit index) — the probe choice is
    EXACT integer arithmetic over the md5-Rademacher dots, so the
    probed candidate SET itself replays in DuckDB (xor of the shifted
    bit on the bk chain). Measured trade at 1M vecs (volume_probe
    r13embed): recall on planted near-dups 98.1% → 99.99% at ~2×
    candidate volume. The persisted artifact stays probe-free."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        embed_bucket_table,
        embed_candidates_vs_corpus,
    )

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id").isNotNull())
    m = F.pmod(F.col("vec_id"), F.lit(5))
    corpus = emb.filter(m >= 2)
    batch = emb.filter(m == 0)
    path = session_scratch(spark, "embed_multiprobe_buckets")
    embed_bucket_table(corpus, path, dim=64, bits=12)
    return embed_candidates_vs_corpus(
        batch, spark.read.parquet(path), dim=64, bits=12, n_probes=2
    )


@query(
    "q_dedup_embed_lsh_audit",
    oracle="""WITH src AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id IS NOT NULL
    ), hsrc AS (
        SELECT vec_id, embedding FROM src
        WHERE embedding IS NOT NULL AND len(embedding) = 64
          AND len(list_filter(embedding, x -> x IS NULL)) = 0
          AND NOT list_bool_or(list_transform(embedding,
                  x -> isnan(CAST(x AS DOUBLE))
                       OR isinf(CAST(x AS DOUBLE))))
    ), cop AS (
        SELECT vec_id + 1000000 AS vec_id, embedding
        FROM (SELECT vec_id, embedding FROM hsrc
              ORDER BY vec_id ASC LIMIT 10)
    ), allv AS (
        SELECT vec_id AS uid, embedding FROM src
        UNION ALL SELECT vec_id AS uid, embedding FROM cop
    ), hv AS (
        SELECT uid, embedding FROM allv
        WHERE embedding IS NOT NULL AND len(embedding) = 64
          AND len(list_filter(embedding, x -> x IS NULL)) = 0
          AND NOT list_bool_or(list_transform(embedding,
                  x -> isnan(CAST(x AS DOUBLE))
                       OR isinf(CAST(x AS DOUBLE))))
    ), truth AS (
        SELECT a.uid AS vid_a, b.uid AS vid_b
        FROM hv a JOIN hv b ON a.uid < b.uid
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.6
    ), """
    + _EMBED_BUCKET_CTES.format(
        src="allv", tables_m1=3, bits_m1=11, dim=64, dim_m1=63
    ).lstrip()
    + """
    , cand AS (
        SELECT DISTINCT a.uid AS vid_a, b.uid AS vid_b
        FROM bk a JOIN bk b
          ON a.t = b.t AND a.bucket = b.bucket AND a.uid < b.uid
    ), hits AS (
        SELECT t.vid_a FROM truth t
        JOIN cand c ON t.vid_a = c.vid_a AND t.vid_b = c.vid_b
    )
    SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_hits,
           CAST((SELECT COUNT(*) FROM truth) -
                (SELECT COUNT(*) FROM hits) AS BIGINT) AS n_misses,
           CAST((SELECT COUNT(*) FROM cand) -
                (SELECT COUNT(*) FROM hits) AS BIGINT) AS n_false_alarms
    """,
)
def q_dedup_embed_lsh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH recall/precision audit for the EMBEDDING dedup tier
    (operators/dedup.embed_lsh_audit — VERDICT r12 #1, the
    q_dedup_lsh_audit pattern at the vector grain): banded candidates
    from the EXACT production generator vs brute-force-cosine ground
    truth → one all-integer confusion row. Ten exact copies of the ten
    smallest hashable vectors ride in (the q_dedup_embed_vs_corpus_apply
    planting move); identical vectors share every bucket, so all ten
    planted truth pairs are HITS — 100% recall on real dups is part of
    the hash check. min_cosine=0.6 sits in a wide margin (max real
    all-pairs cosine 0.513 across fixtures, measured; copies at 1.0),
    so the truth SET is cross-engine exact despite float cosines.
    (tables=4, bits=12) is the non-vacuous fixture family — the
    audited answer to "is bits ≈ log2(N)+4 right for this corpus?"."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import embed_lsh_audit

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isNotNull())
        .select("vec_id", "embedding")
    )
    copies = (
        quantizable(emb, dim=64, id_col="vec_id", vec_col="embedding")
        .orderBy(F.col("vec_id").asc())
        .limit(10)
        .select(
            (F.col("vec_id") + F.lit(1000000)).alias("vec_id"), "embedding"
        )
    )
    return embed_lsh_audit(
        emb.unionByName(copies),
        dim=64,
        tables=4,
        bits=12,
        id_col="vec_id",
        vec_col="embedding",
        min_cosine=0.6,
    )


@query(
    "q_scan_avro",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(event_id) AS BIGINT) AS max_event
    FROM events WHERE user_id % 3 = 0 GROUP BY event_type
    """,
)
def q_scan_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro source/sink round-trip (sources/avro_io — VERDICT r11 #6):
    the row-major intake format a real fleet lands on. The 'avro' short
    name is the EXTERNAL spark-avro connector's ServiceLoader alias
    (absent in this sandbox), but Spark 4 bundles the provider class in
    spark-sql itself — avro_format() resolves whichever tier works, so
    this entry runs the identical plan under either deployment. Write →
    read → aggregate, value-hashed against the source table (the
    q_scan_json/q_scan_orc pattern); integer/string columns only (Avro
    has no NaN-safe double oracle story and needs none here)."""
    from bigdata_retailrocket_recsys_spark.sources.avro_io import (
        read_avro,
        write_avro,
    )

    out = session_scratch(spark, "avro_roundtrip")
    write_avro(
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") % 3 == 0)
        .select("event_id", "user_id", "event_type"),
        out,
    )
    return (
        read_avro(spark, out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("user_id").alias("min_user"),
            F.max("event_id").alias("max_event"),
        )
    )


@query(
    "q_stream_embed_commit",
    oracle="WITH "
    + _EMBED_BUCKET_CTES.format(
        src="(SELECT vec_id AS uid, embedding FROM embeddings "
        "WHERE vec_id IS NOT NULL)",
        tables_m1=3,
        bits_m1=11,
        dim=64,
        dim_m1=63,
    )
    + """
    , dup1 AS (
        SELECT DISTINCT b.uid AS vec_id
        FROM bk b JOIN bk c ON b.t = c.t AND b.bucket = c.bucket
        WHERE ((b.uid % 4) + 4) % 4 = 1 AND ((c.uid % 4) + 4) % 4 IN (2, 3)
    ), s1 AS (
        SELECT vec_id FROM embeddings
        WHERE vec_id IS NOT NULL AND ((vec_id % 4) + 4) % 4 = 1
          AND vec_id NOT IN (SELECT vec_id FROM dup1)
    ), dup2 AS (
        SELECT DISTINCT b.uid AS vec_id
        FROM bk b JOIN bk c ON b.t = c.t AND b.bucket = c.bucket
        WHERE ((b.uid % 4) + 4) % 4 = 0
          AND (((c.uid % 4) + 4) % 4 IN (2, 3)
               OR c.uid IN (SELECT vec_id FROM s1))
    ), s2 AS (
        SELECT vec_id FROM embeddings
        WHERE vec_id IS NOT NULL AND ((vec_id % 4) + 4) % 4 = 0
          AND vec_id NOT IN (SELECT vec_id FROM dup2)
    )
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE e.vec_id IN (SELECT vec_id FROM s1
                       UNION ALL SELECT vec_id FROM s2)
    """,
)
def q_stream_embed_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING embedding-dedup commit loop (streaming/embed_intake
    .run_streaming_embed_commit — the embedding-grain twin of
    q_stream_corpus_commit, completing the daily-delta loop at EVERY
    dedup grain batch AND streaming): each staged micro-batch is
    decided against the committed sign-LSH bucket table inside
    foreachBatch and survivors are appended back (bucket rows + corpus
    rows, pinned with an eager localCheckpoint before the appends —
    the refreshByPath discipline), so batch 2's candidates see batch
    1's commits. Staged-file order is pinned (maxFilesPerTrigger=1 +
    latestFirst=false), so the committed-rows artifact is value-hashed
    by the same md5-Rademacher CTE chain as q_dedup_incremental_embed
    at the %4 split."""
    from bigdata_retailrocket_recsys_spark.streaming.embed_intake import (
        run_streaming_embed_commit,
    )

    return run_streaming_embed_commit(spark, sf_dir)


@query(
    "q_stream_winnowing_commit",
    oracle=r"""
    WITH base AS (
        SELECT doc_id AS doc, ((doc_id % 4) + 4) % 4 AS m,
               string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ), g AS (
        SELECT doc, m, st - 1 AS pos,
               md5(array_to_string(list_slice(toks, st, st + 2), ' ')) AS h
        FROM (SELECT doc, m, toks,
                     unnest(generate_series(1, GREATEST(len(toks) - 2, 1)))
                         AS st
              FROM base)
    ), n AS (
        SELECT doc, COUNT(*) AS npos FROM g GROUP BY doc
    ), wnd AS (
        SELECT g.doc, g.m, g.pos, g.h, w.j
        FROM g JOIN n USING (doc),
             LATERAL (SELECT unnest(generate_series(
                 GREATEST(g.pos - 3, 0),
                 LEAST(g.pos, GREATEST(n.npos - 4, 0)))) AS j) w
    ), pick AS (
        SELECT DISTINCT doc, m, h FROM (
            SELECT doc, m, pos, h, ROW_NUMBER() OVER (
                PARTITION BY doc, j ORDER BY h ASC, pos DESC) AS rn
            FROM wnd) WHERE rn = 1
    ), dup1 AS (
        SELECT DISTINCT bd FROM (
            SELECT b.doc AS bd, c.doc AS cd
            FROM pick b JOIN pick c ON b.h = c.h
            WHERE b.m = 1 AND c.m IN (2, 3)
            GROUP BY b.doc, c.doc HAVING COUNT(*) >= 2)
    ), s1 AS (
        SELECT doc_id FROM documents
        WHERE doc_id IS NOT NULL AND ((doc_id % 4) + 4) % 4 = 1
          AND doc_id NOT IN (SELECT bd FROM dup1)
    ), dup2 AS (
        SELECT DISTINCT bd FROM (
            SELECT b.doc AS bd, c.doc AS cd
            FROM pick b JOIN pick c ON b.h = c.h
            WHERE b.m = 0
              AND (c.m IN (2, 3)
                   OR c.doc IN (SELECT doc_id FROM s1))
            GROUP BY b.doc, c.doc HAVING COUNT(*) >= 2)
    ), s2 AS (
        SELECT doc_id FROM documents
        WHERE doc_id IS NOT NULL AND ((doc_id % 4) + 4) % 4 = 0
          AND doc_id NOT IN (SELECT bd FROM dup2)
    )
    SELECT d.doc_id, d.source FROM documents d
    WHERE d.doc_id IN (SELECT doc_id FROM s1
                       UNION ALL SELECT doc_id FROM s2)
    """,
)
def q_stream_winnowing_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING winnowing commit loop (streaming/winnow_intake
    .run_streaming_winnowing_commit — the fingerprint-grain twin of
    q_stream_corpus_commit / q_stream_embed_commit; with the r13
    winnowing tier this keeps the daily-delta loop complete at EVERY
    dedup grain, batch AND streaming): each staged micro-batch drops
    docs sharing ≥2 selected md5 fingerprints with SOME committed doc
    (the pairwise MOSS rule), survivors' fingerprints and rows are
    appended back (eager localCheckpoint before the appends — the
    refreshByPath discipline), so batch 2's decisions see batch 1's
    commits. NULL-text docs have no fingerprints and always survive.
    Staged-file order pinned (maxFilesPerTrigger=1 + latestFirst=false)
    → ONE CTE chain replays the two-increment composition."""
    from bigdata_retailrocket_recsys_spark.streaming.winnow_intake import (
        run_streaming_winnowing_commit,
    )

    return run_streaming_winnowing_commit(spark, sf_dir)
