"""Streaming corpus intake — the front half of the corpus pipeline
(quality gate + exact digest dedup) as a Structured Streaming job.

At 100 TB the corpus never arrives at once: crawl shards land as files
and the gate/dedup should run AT INGEST, not as a nightly rebuild. This
runner stages the documents table to session scratch, streams it back
file-by-file (``maxFilesPerTrigger`` — a real multi-micro-batch
lifecycle), quality-gates each
batch with the SAME narrow filter the batch pipeline uses, dedups on the
16-byte digest of NORMALIZED text (``dropDuplicates`` — seen-digest
state; production bounds it with dropDuplicatesWithinWatermark or the
persisted digest table of the incremental path), and maintains
per-domain accepted-document/token counts in complete mode.

Determinism for the oracle: dedup is keyed on (domain, digest) — which
PHYSICAL row survives a digest collision is arrival-order-dependent, but
the normalized token count is a function of the digest, so the
(domain, digest, n_tok) triple is deterministic and the per-domain
aggregate equals the batch DISTINCT → full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_retailrocket_recsys_spark.operators.text import (
    normalize_text,
    quality_filter,
)
from bigdata_retailrocket_recsys_spark.sources.readers import load_table
from bigdata_retailrocket_recsys_spark.sources.scratch import session_scratch
from bigdata_retailrocket_recsys_spark.streaming import (
    SINK,
    run_available_now,
    staged_stream,
    stream_session,
)


def run_streaming_corpus_intake(
    spark: SparkSession,
    sf_dir: str,
    *,
    eval_source: str = "src0",
    min_quality: float = 0.5,
    min_tokens: int = 5,
) -> DataFrame:
    """Stage → stream → gate → digest-dedup → per-domain counts.

    Output: (domain, n_docs [distinct accepted digests], n_tokens
    [normalized whitespace tokens summed over those digests]).
    """
    session = stream_session(spark)
    docs = load_table(session, sf_dir, "documents")
    stage = session_scratch(session, "corpus_intake_stage")
    docs.write.mode("overwrite").parquet(stage)
    stream = (
        session.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(stage)
    )
    base = stream.filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).filter(F.col("source").isNull() | (F.col("source") != eval_source))
    gated = quality_filter(
        base, text_col="text", min_quality=min_quality, min_tokens=min_tokens
    ).withColumn("__norm", normalize_text("text"))
    keyed = gated.select(
        F.col("source").alias("domain"),
        F.md5("__norm").alias("digest"),
        F.size(
            F.filter(F.split("__norm", " "), lambda t: t != F.lit(""))
        ).cast("bigint").alias("n_tok"),
    )
    out = (
        keyed.dropDuplicates(["domain", "digest"])
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    run_available_now(out, output_mode="complete")
    return session.table(SINK)


def run_streaming_corpus_commit(
    spark: SparkSession,
    sf_dir: str,
    *,
    eval_source: str = "src0",
) -> DataFrame:
    """The FULL streaming daily-delta loop: each micro-batch is DECIDED
    against the committed corpus state and COMMITTED back inside
    ``foreachBatch`` — the shape a 100 TB crawl ingest actually runs
    (decide + append per shard, never a nightly rebuild). Batch N+1's
    exact-dedup anti-join sees batch N's digests because
    ``pipelines.corpus.corpus_commit`` appended them (and its eager
    lineage-truncating checkpoint keeps the multi-artifact commit
    consistent — the refreshByPath trap, CLAUDE.md).

    Determinism for the oracle: the day-0 corpus (doc_id % 4 ∈ {2,3},
    gated) seeds the digest table; the batch stream is TWO staged files
    (% 4 = 1, then % 4 = 0), one micro-batch each in that order
    (``streaming.staged_stream``), so the commit order — and therefore
    which duplicate wins across batches — is pinned, and the final
    corpus-rows artifact equals the two-step batch chain exactly.

    Output: the committed rows (doc_id, domain, n_tok).
    """
    import shutil as _sh

    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        content_digest_table,
    )
    from bigdata_retailrocket_recsys_spark.pipelines.corpus import (
        build_corpus_incremental,
        corpus_commit,
    )

    session = stream_session(spark)
    docs = load_table(session, sf_dir, "documents")
    base = docs.filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).select("doc_id", "text", "source")
    corp0 = (
        quality_filter(base.filter((F.col("doc_id") % 4).isin(2, 3)))
        .filter(F.col("source").isNull() | (F.col("source") != eval_source))
        .withColumn("__norm", normalize_text("text"))
    )
    dig_path = session_scratch(session, "stream_commit_digests")
    rows_path = session_scratch(session, "stream_commit_rows")
    _sh.rmtree(rows_path, ignore_errors=True)  # append-only artifact
    content_digest_table(corp0, dig_path, key_cols=["__norm"])
    eval_docs = base.filter(F.col("source") == eval_source)

    def _decide_and_commit(batch_df: DataFrame, _batch_id: int) -> None:
        acc = build_corpus_incremental(
            batch_df,
            batch_df.sparkSession.read.parquet(dig_path),
            eval_docs,
            eval_source=eval_source,
        )
        corpus_commit(
            batch_df, acc, digest_path=dig_path, corpus_path=rows_path
        )

    stream = staged_stream(
        session,
        "stream_commit_stage",
        [base.filter(F.col("doc_id") % 4 == k) for k in (1, 0)],
    )
    run_available_now(stream, foreach_batch=_decide_and_commit)
    snap = session.read.parquet(rows_path)
    n_tok = F.size(
        F.filter(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
            lambda t: t != F.lit(""),
        )
    ).cast("bigint")
    return snap.select(
        "doc_id", F.col("source").alias("domain"), n_tok.alias("n_tok")
    )
