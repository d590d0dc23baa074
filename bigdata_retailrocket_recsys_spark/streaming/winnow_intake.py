"""Streaming WINNOWING intake — the fingerprint-grain commit loop
(r13): each micro-batch of new documents is DECIDED against the
committed winnowing fingerprint table (drop any batch doc sharing
≥ ``min_common`` selected fingerprints with SOME committed doc — the
pairwise MOSS rule) and survivors are COMMITTED back (fingerprint rows
+ corpus rows), so batch N+1's decisions see batch N's appends. The
text-grain twin is ``corpus_intake.run_streaming_corpus_commit``; the
embedding twin ``embed_intake.run_streaming_embed_commit`` — with this
module the daily-delta loop exists at every dedup grain, batch AND
streaming.

Determinism for the oracle: the day-0 corpus (doc_id % 4 ∈ {2, 3})
seeds the fingerprint table; the batch stream is TWO staged files
(% 4 = 1, then % 4 = 0), one micro-batch each in that order
(``streaming.staged_stream``), so the commit order is pinned and the
committed artifact equals the two-step batch chain exactly (unit-locked),
which one DuckDB CTE chain replays through the winnowing window explode.

refreshByPath discipline (CLAUDE.md hard-won fact): each batch's
survivors derive from a READ of the very fingerprint table the commit
appends to — pinned with an eager checkpoint BEFORE the first write
until the appends end.

Docs with no fingerprints in common — including NULL-text docs, which
have no fingerprints at all — always survive (the q_dedup_exact NULL
discipline at this grain).
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


def run_streaming_winnowing_commit(
    spark: SparkSession,
    sf_dir: str,
    *,
    k: int = 3,
    w: int = 4,
    hash_fn: str = "md5",
    min_common: int = 2,
) -> DataFrame:
    """Run the staged two-batch streaming winnowing commit loop and
    return the committed rows ``(doc_id, source)``."""
    import shutil as _sh

    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        winnowing_fingerprint_table,
        winnowing_fingerprints,
    )

    session = stream_session(spark)
    docs = load_table(session, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    m = F.pmod(F.col("doc_id"), F.lit(4))
    base = docs.select("doc_id", "text", "source")

    fp_path = session_scratch(session, "stream_winnow_fp")
    rows_path = session_scratch(session, "stream_winnow_rows")
    _sh.rmtree(rows_path, ignore_errors=True)  # append-only artifact
    winnowing_fingerprint_table(
        base.filter(m.isin(2, 3)), fp_path, k=k, w=w, hash_fn=hash_fn
    )

    def _decide_and_commit(batch_df: DataFrame, _batch_id: int) -> None:
        bfp = (
            winnowing_fingerprints(
                batch_df, k=k, w=w, hash_fn=hash_fn
            )
            .select("doc", "fp")
            .distinct()
        )
        cfp = (
            batch_df.sparkSession.read.parquet(fp_path)
            .select(F.col("doc").alias("cdoc"), "fp")
            .distinct()
        )
        dup = (
            bfp.join(cfp, "fp")
            .groupBy("doc", "cdoc")
            .agg(F.count(F.lit(1)).alias("n_common"))
            .filter(F.col("n_common") >= min_common)
            .select(F.col("doc").alias("doc_id"))
            .distinct()
        )
        with Iteration() as it:
            surv = it.checkpoint(  # pin BEFORE the appends
                batch_df.join(dup, "doc_id", "left_anti").select(
                    "doc_id", "text", "source"
                )
            ).df
            winnowing_fingerprint_table(
                surv, fp_path, k=k, w=w, hash_fn=hash_fn, mode="append"
            )
            surv.select("doc_id", "source").write.mode("append").parquet(
                rows_path
            )

    stream = staged_stream(
        session, "stream_winnow_stage", [base.filter(m == k) for k in (1, 0)]
    )
    run_available_now(stream, foreach_batch=_decide_and_commit)
    return session.read.parquet(rows_path).select("doc_id", "source")
