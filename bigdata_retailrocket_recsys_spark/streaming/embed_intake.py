"""Streaming EMBEDDING intake — the incremental embedding-dedup loop
(r12, VERDICT r11 #3) driven by Structured Streaming ``foreachBatch``:
each micro-batch of new vectors is DECIDED against the committed
sign-LSH bucket table and survivors are COMMITTED back (bucket rows +
corpus rows), so batch N+1's candidates see batch N's appends — the
daily-upload shape at 100 TB (decide + append per shard, never a
nightly re-embed). The text-grain twin is
``corpus_intake.run_streaming_corpus_commit``.

Determinism for the oracle: the day-0 corpus (vec_id % 4 ∈ {2, 3})
seeds the bucket table; the batch stream is TWO staged files
(% 4 = 1, then % 4 = 0), one micro-batch each in that order
(``streaming.staged_stream``), so the commit order is pinned and the
final committed-rows artifact equals the two-step batch chain exactly —
which is what the DuckDB oracle replays through the shared md5-Rademacher
bucket CTEs.

refreshByPath discipline (CLAUDE.md hard-won fact): each batch's
survivors derive from a READ of the very bucket table the commit
appends to — they are pinned with an eager checkpoint BEFORE the first
write, so the append cannot invalidate and silently rebuild their
lineage against post-append state; the appends end the pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_retailrocket_recsys_spark.operators.iterate import Iteration
from bigdata_retailrocket_recsys_spark.sources.readers import load_table
from bigdata_retailrocket_recsys_spark.sources.scratch import session_scratch
from bigdata_retailrocket_recsys_spark.streaming import (
    run_available_now,
    staged_stream,
    stream_session,
)


def run_streaming_embed_commit(
    spark: SparkSession,
    sf_dir: str,
    *,
    dim: int = 64,
    tables: int = 4,
    bits: int = 12,
) -> DataFrame:
    """Run the staged two-batch streaming embed-dedup commit loop and
    return the committed rows ``(vec_id, label)``."""
    import shutil as _sh

    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        embed_bucket_table,
        embed_candidates_vs_corpus,
        embed_sign_buckets,
    )

    session = stream_session(spark)
    emb = load_table(session, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull()
    )
    m = F.pmod(F.col("vec_id"), F.lit(4))
    base = emb.select("vec_id", "embedding", "label")

    bucket_path = session_scratch(session, "stream_embed_buckets")
    rows_path = session_scratch(session, "stream_embed_rows")
    _sh.rmtree(rows_path, ignore_errors=True)  # append-only artifact
    embed_bucket_table(
        base.filter(m.isin(2, 3)), bucket_path,
        dim=dim, tables=tables, bits=bits,
    )

    def _decide_and_commit(batch_df: DataFrame, _batch_id: int) -> None:
        dup = (
            embed_candidates_vs_corpus(
                batch_df,
                batch_df.sparkSession.read.parquet(bucket_path),
                dim=dim, tables=tables, bits=bits,
            )
            .select(F.col("batch_vid").alias("vec_id"))
            .distinct()
        )
        with Iteration() as it:
            surv = it.checkpoint(  # pin BEFORE the appends
                batch_df.join(dup, "vec_id", "left_anti").select(
                    "vec_id", "embedding", "label"
                )
            ).df
            embed_sign_buckets(
                surv, dim=dim, tables=tables, bits=bits
            ).write.mode("append").parquet(bucket_path)
            surv.select("vec_id", "label").write.mode("append").parquet(
                rows_path
            )

    stream = staged_stream(
        session, "stream_embed_stage", [base.filter(m == k) for k in (1, 0)]
    )
    run_available_now(stream, foreach_batch=_decide_and_commit)
    return session.read.parquet(rows_path).select("vec_id", "label")
