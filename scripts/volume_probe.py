"""Volume validation probe (round 7, VERDICT r6 #1).

The oracle gate proves CORRECTNESS at sf0.01 and bench.py times sf0.1;
this script validates the 10-100× SCALE story for the shapes that had no
volume datapoint yet: the wave-3 TPC-H queries and the round-6/7 ops.

Two probes:

1. ``tpch``: materializes a scaled TPC-H fixture at ``--copies``× sf0.1
   (lineitem/orders explode-replicated with shifted orderkeys — the
   constant-width plan from scale_bench; dims copied as-is, the realistic
   shape: facts grow, dims don't), then times the named TPC-H catalog
   entries against it. Any non-broadcast dim join, BNLJ, or
   single-reducer stage shows up as a wall-time cliff here long before
   the real cluster finds it.

2. ``ops``: synthesizes volume inputs (pseudo-text documents, random
   graphs, long event histories) and times the round-6/7 operators that
   lacked datapoints: frontier BFS, SimHash banded pairs (xxhash64 and
   md5 twins), BPE token counts.

Usage::

    python scripts/volume_probe.py tpch --copies 20
    python scripts/volume_probe.py ops --docs 1000000 --edges 3000000

Results are recorded as measurement lines in CHANGES.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = "/tmp/bdrr_vol_tpch"
ORDERKEY_SHIFT = 100_000_000

DIMS = ["nation", "region", "customer", "part", "supplier"]
# events/documents/embeddings are read by _t for some queries' fixtures —
# copy small ones so any catalog entry can run against DST unchanged.
SMALL = DIMS + ["events", "documents", "embeddings"]


def get_spark(
    shuffle_partitions: int = 64, ui: bool = False
) -> SparkSession:
    # BDRR_VOL_MASTER=local-cluster[2,4,8192] reruns a probe with real
    # executor boundaries (serialized broadcasts, per-executor shuffle
    # dirs) — the conftest/scale_bench convention
    master = os.environ.get("BDRR_VOL_MASTER", f"local[{os.cpu_count()}]")
    return (
        SparkSession.builder.master(master)
        .appName("bdrr-volume-probe")
        .config("spark.driver.memory", os.environ.get("BDRR_VOL_DRIVER_MEM", "48g"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", str(ui).lower())
        .config("spark.io.compression.codec", "zstd")
        .getOrCreate()
    )


def _shuffle_write_bytes(spark: SparkSession) -> int:
    """Total shuffle-write bytes across completed stages, via the UI REST
    API (requires ``get_spark(ui=True)``). Delta two readings to meter
    one section."""
    import json as _json
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app_id}/stages?status=COMPLETE"
    ) as r:
        stages = _json.load(r)
    return sum(int(s.get("shuffleWriteBytes", 0)) for s in stages)


def build_tpch(spark: SparkSession, copies: int) -> None:
    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(DST, exist_ok=True)
    for t in SMALL:
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{DST}/{t}.parquet")
    fan = F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("__c")
    li = spark.read.parquet(f"{SRC}/lineitem.parquet").repartition(32)
    (
        li.select("*", fan)
        .withColumn(
            "l_orderkey",
            F.col("l_orderkey") + F.col("__c").cast("bigint") * ORDERKEY_SHIFT,
        )
        .drop("__c")
        .write.mode("overwrite")
        .parquet(f"{DST}/lineitem.parquet")
    )
    od = spark.read.parquet(f"{SRC}/orders.parquet").repartition(32)
    (
        od.select("*", fan)
        .withColumn(
            "o_orderkey",
            F.col("o_orderkey") + F.col("__c").cast("bigint") * ORDERKEY_SHIFT,
        )
        .drop("__c")
        .write.mode("overwrite")
        .parquet(f"{DST}/orders.parquet")
    )


def probe_tpch(names: list[str], copies: int) -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    build_tpch(spark, copies)
    n_li = spark.read.parquet(f"{DST}/lineitem.parquet").count()
    print(
        f"[build] {copies}x sf0.1 fixture at {DST}: lineitem={n_li:,} "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )
    from bigdata_retailrocket_recsys_spark.plans import QUERIES

    for name in names:
        t0 = time.time()
        n = QUERIES[name].fn(spark, DST).count()
        print(
            f"[tpch] {name}: {n:,} rows in {time.time() - t0:.1f}s",
            flush=True,
        )


def synth_documents(spark: SparkSession, n_docs: int, toks: int = 30):
    """Pseudo-text docs: ``toks`` vocab-hashed tokens per doc + planted
    near-dup pairs (every 1000th doc is doc-1 with one token changed) so
    the pair-verify path does real work without a quadratic cluster."""
    base = spark.range(n_docs).repartition(64)
    words = F.expr(
        "transform(sequence(0, {t} - 1), "
        "j -> concat('w', pmod(xxhash64(id * {t} + j), 50000)))".format(t=toks)
    )
    return base.select(
        F.col("id").alias("doc_id"),
        F.when(
            F.pmod(F.col("id"), 1000) == 1,
            F.concat_ws(
                " ",
                F.expr(
                    "transform(sequence(0, {t} - 1), "
                    "j -> concat('w', pmod(xxhash64((id - 1) * {t} + j), 50000)))".format(
                        t=toks
                    )
                ),
            ),
        )
        .otherwise(F.concat_ws(" ", words))
        .alias("text"),
    )


def probe_ops(n_docs: int, n_edges: int) -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        simhash_near_pairs,
    )
    from bigdata_retailrocket_recsys_spark.operators.graph import bfs_distances
    from bigdata_retailrocket_recsys_spark.operators.text_bpe import (
        bpe_token_counts,
    )

    docs = synth_documents(spark, n_docs).cache()
    print(f"[ops] docs materialized: {docs.count():,}", flush=True)

    t0 = time.time()
    n = simhash_near_pairs(
        docs, shingle_n=1, max_hamming=3, n_bands=4
    ).count()
    print(
        f"[ops] simhash_pairs(xxhash64) over {n_docs:,} docs: {n:,} pairs "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )

    t0 = time.time()
    n = simhash_near_pairs(
        docs, shingle_n=1, max_hamming=3, n_bands=4, hash_fn="md5"
    ).count()
    print(
        f"[ops] simhash_pairs(md5 twin) over {n_docs:,} docs: {n:,} pairs "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )

    from bigdata_retailrocket_recsys_spark.operators.text import (
        strip_boilerplate,
    )

    t0 = time.time()
    stripped = strip_boilerplate(docs, n=5, min_rows=3).agg(
        F.sum("n_tokens").alias("nt"), F.sum("n_removed").alias("nr")
    ).collect()[0]
    print(
        f"[ops] strip_boilerplate over {n_docs:,} docs: "
        f"{stripped['nr']:,}/{stripped['nt']:,} tokens removed "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )

    t0 = time.time()
    agg = bpe_token_counts(docs).agg(
        F.sum("n_bpe_tokens").alias("bpe"), F.sum("n_pretokens").alias("pre")
    ).collect()[0]
    print(
        f"[ops] bpe_token_counts over {n_docs:,} docs: "
        f"{agg['bpe']:,} bpe / {agg['pre']:,} pretokens "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )
    docs.unpersist()

    from bigdata_retailrocket_recsys_spark.operators.similarity import (
        dot_topk_int8,
    )

    n_vecs = max(10_000, n_docs)
    vecs = spark.range(n_vecs).repartition(64).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), j -> CAST(pmod(xxhash64(id * 64 + j),"
            " 1000) / 500.0 - 1.0 AS FLOAT))"
        ).alias("embedding"),
    )
    t0 = time.time()
    nhits = dot_topk_int8(vecs, [0, 1, 2], k=10, dim=64).count()
    print(
        f"[ops] dot_topk_int8 (3 queries) over {n_vecs:,} vecs x 64 dims: "
        f"{nhits:,} hits in {time.time() - t0:.1f}s",
        flush=True,
    )

    n_vtx = max(1000, n_edges // 6)
    edges = spark.range(n_edges).repartition(64).select(
        F.pmod(F.xxhash64("id"), F.lit(n_vtx)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(n_vtx)).alias("dst"),
    )
    t0 = time.time()
    reached = bfs_distances(edges, 0, max_hops=6).count()
    print(
        f"[ops] frontier bfs (6 hops) over {n_edges:,} edges / "
        f"{n_vtx:,} vertices: {reached:,} reached "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )


def probe_spans(n_docs: int) -> None:
    """Exact-substring pass at volume (VERDICT r8 #1/#8 done criteria):
    wall for the S7-cached duplicated_spans (r8 detect-only baseline with
    the uncached double-compute: 17.2 s at 1M docs), wall for
    strip_duplicated_spans (shares one token frame), and a shuffle-bytes
    A/B of the count/semi-join stage keyed on raw n-gram strings vs
    xxhash64 — measuring the docstring's '~10× narrower shuffle' claim
    instead of asserting it."""
    from pyspark.sql import Window

    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        duplicated_spans,
        strip_duplicated_spans,
    )
    from bigdata_retailrocket_recsys_spark.operators.text import ws_tokens

    spark = get_spark(ui=True)
    spark.sparkContext.setLogLevel("ERROR")
    docs = synth_documents(spark, n_docs).cache()
    print(f"[spans] docs materialized: {docs.count():,}", flush=True)

    t0 = time.time()
    agg = duplicated_spans(docs, n=5, min_occurrences=2).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").alias("dup_tokens"),
    ).collect()[0]
    print(
        f"[spans] duplicated_spans (S7-cached) over {n_docs:,} docs: "
        f"{agg['n_spans']:,} spans / {agg['dup_tokens']:,} dup tokens "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )

    t0 = time.time()
    s = strip_duplicated_spans(docs, n=5, min_occurrences=2).agg(
        F.sum("n_tokens").alias("nt"), F.sum("n_removed").alias("nr")
    ).collect()[0]
    print(
        f"[spans] strip_duplicated_spans over {n_docs:,} docs: "
        f"{s['nr']:,}/{s['nt']:,} tokens removed "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )

    # shuffle-bytes A/B: the count+semi-join stage over raw 5-gram string
    # keys vs xxhash64 keys (the shipped form). Same token stream, same
    # aggregate; only the shuffle key width differs.
    tok = docs.select(
        F.col("doc_id").alias("__d"),
        F.posexplode(ws_tokens("text")).alias("__p", "__t"),
    )
    w = Window.partitionBy("__d").orderBy("__p")
    leads = [F.col("__t")] + [F.lead("__t", j).over(w) for j in range(1, 5)]
    for label, key in [
        ("raw-string", F.concat_ws(" ", *leads)),
        ("xxhash64", F.xxhash64(F.concat_ws(" ", *leads))),
    ]:
        spans = tok.select(
            "__d",
            F.col("__p").alias("__s"),
            key.alias("__k"),
            leads[-1].isNotNull().alias("__full"),
        ).filter(F.col("__full")).drop("__full")
        dup = (
            spans.groupBy("__k")
            .agg(F.count(F.lit(1)).alias("__occ"))
            .filter(F.col("__occ") >= 2)
            .select("__k")
        )
        before = _shuffle_write_bytes(spark)
        t0 = time.time()
        # aggregate over __d+__s (not count) so the payload columns the
        # real operator ships survive column pruning — the CLAUDE.md
        # measurement trap: count() would prune the shuffle to keys only
        row = (
            spans.join(dup, "__k", "left_semi")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("__d") + F.col("__s")).alias("chk"),
            )
            .collect()[0]
        )
        n = row["n"]
        wall = time.time() - t0
        delta = _shuffle_write_bytes(spark) - before
        print(
            f"[spans] count+semi-join keyed {label}: {n:,} dup starts, "
            f"{delta / 1e6:,.0f} MB shuffled in {wall:.1f}s",
            flush=True,
        )


def _disk_preflight(n_docs: int, *, near_dup: bool) -> None:
    """Disk-ceiling guard for corpus probes (VERDICT r12 #6): the r12
    30M-doc 7-stage near-dup run bottomed at ~39 G free of 252 G and
    extrapolates to an ENOSPC wall around 60-80M docs on this box —
    make the cliff a MESSAGE before the run, not a mid-run crash.
    Spill model from the measured points (30M near-dup ≈ 90 G of
    shuffle/spill under zstd; the 4-stage tier is ~3× lighter):
    ~3 GB per 1M docs near-dup, ~1 GB per 1M docs otherwise, plus
    15 G headroom for the OS and parquet scratch. Aborts when the
    estimate exceeds free space; BDRR_DISK_OVERRIDE=1 downgrades the
    abort to a warning (you were told)."""
    import tempfile as _tf

    per_m_gb = 3.0 if near_dup else 1.0
    need_gb = n_docs / 1e6 * per_m_gb + 15.0
    free_gb = shutil.disk_usage(_tf.gettempdir()).free / 1e9
    print(
        f"[preflight] est. spill+scratch ~{need_gb:.0f} G "
        f"({'near-dup' if near_dup else '4-stage'} tier), "
        f"free {free_gb:.0f} G",
        flush=True,
    )
    if need_gb > free_gb:
        msg = (
            f"[preflight] estimated spill {need_gb:.0f} G exceeds free "
            f"disk {free_gb:.0f} G — this run would likely die with "
            "ENOSPC mid-shuffle (the r5 100M-event failure mode). "
            "Reduce --docs, point TMPDIR at a larger volume, or set "
            "BDRR_DISK_OVERRIDE=1 to proceed anyway."
        )
        if os.environ.get("BDRR_DISK_OVERRIDE", "") == "1":
            print(msg + " (override set — proceeding)", flush=True)
        else:
            print(msg, flush=True)
            sys.exit(2)


def probe_corpus(n_docs: int) -> None:
    """Time the full corpus-construction pipeline (q_corpus_pipeline's
    exact composition via pipelines.corpus.build_corpus) at volume:
    ``n_docs`` synthetic docs over 50 domains with planted exact dups
    (every 1000th doc repeats its predecessor verbatim → the dedup stage
    does real work) and domain 'src0' as the eval split."""
    _disk_preflight(
        n_docs, near_dup=os.environ.get("BDRR_CORPUS_NEARDUP", "") == "1"
    )
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    from bigdata_retailrocket_recsys_spark.pipelines.corpus import (
        build_corpus,
    )

    # exact dups for the dedup stage: every 500th doc reproduces doc 7's
    # token stream verbatim (synth text is a pure function of doc_id, so
    # pinning the id pins the text); domains are hash-assigned
    dup_text = F.expr(
        "concat_ws(' ', transform(sequence(0, 29), "
        "j -> concat('w', pmod(xxhash64(7 * 30 + j), 50000))))"
    )
    docs = (
        synth_documents(spark, n_docs)
        .withColumn(
            "text",
            F.when(F.pmod(F.col("doc_id"), 500) == 3, dup_text).otherwise(
                F.col("text")
            ),
        )
        .withColumn(
            "source",
            F.concat(F.lit("src"), F.pmod(F.xxhash64("doc_id"), F.lit(50))),
        )
        .cache()
    )
    strip_lines = os.environ.get("BDRR_CORPUS_STRIPLINES", "") == "1"
    if strip_lines:
        # real line structure for the CCNet paragraph pass: a prevalent
        # footer on even ids (stripped), a per-doc unique line (kept)
        docs = docs.withColumn(
            "text",
            F.concat_ws(
                "\n",
                F.col("text"),
                F.when(
                    F.pmod(F.col("doc_id"), 2) == 0,
                    F.lit("subscribe to our newsletter for updates"),
                ),
                F.concat(F.lit("ref "), F.col("doc_id").cast("string")),
            ),
        )
    n = docs.count()
    print(f"[corpus] docs materialized: {n:,}", flush=True)
    # budget sized to keep ~25% of each domain's tokens (30 tok/doc)
    budget = int(n * 30 // 50 * 0.25)
    near_dup = os.environ.get("BDRR_CORPUS_NEARDUP", "") == "1"
    t0 = time.time()
    kept = build_corpus(
        docs,
        eval_source="src0",
        budget_tokens=budget,
        # synth tokens are digit-heavy ('w12345') — the default 0.5 gate
        # scores them 0.484 and keeps nothing; the probe measures volume,
        # not gate selectivity
        min_quality=0.3,
        # BDRR_CORPUS_NEARDUP=1 probes the full RefinedWeb shape (the
        # q_corpus_pipeline_neardup composition, xxhash64 scale tier);
        # BDRR_CORPUS_STRIPLINES=1 adds the CCNet-first line pass
        near_dup=near_dup,
        strip_substrings=near_dup,
        strip_lines=strip_lines,
        # BDRR_CORPUS_MAXBUCKET=N bounds the LSH candidate stage against
        # hot buckets inside the composition (the r11 star guard)
        near_dup_max_bucket=(
            int(os.environ["BDRR_CORPUS_MAXBUCKET"])
            if os.environ.get("BDRR_CORPUS_MAXBUCKET")
            else None
        ),
    )
    agg = kept.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tok"),
        F.countDistinct("domain").alias("n_domains"),
    ).collect()[0]
    print(
        f"[corpus] build_corpus over {n:,} docs (budget {budget:,}/domain): "
        f"kept {agg['n_docs']:,} docs / {agg['n_tok']:,} tokens across "
        f"{agg['n_domains']} domains in {time.time() - t0:.1f}s",
        flush=True,
    )


def probe_r10ops(n_docs: int) -> None:
    """Round-10 session-2 operators at volume: within-doc line dedup,
    cross-source overlap matrix, leakage-safe split (xxhash64 scale
    tier), and the LSH audit at its intended SAMPLE scale (exact ground
    truth is corpus-squared worst-case by design — see the docstring)."""
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    from bigdata_retailrocket_recsys_spark.operators.dedup import lsh_audit
    from bigdata_retailrocket_recsys_spark.operators.splits import (
        leakage_safe_split,
    )
    from bigdata_retailrocket_recsys_spark.operators.text import (
        dedup_lines_within,
        source_overlap_matrix,
    )

    docs = synth_documents(spark, n_docs).withColumn(
        "source", F.concat(F.lit("src"), F.pmod(F.xxhash64("doc_id"), F.lit(20)))
    ).cache()
    print(f"[r10ops] docs materialized: {docs.count():,}", flush=True)

    t0 = time.time()
    lined = docs.withColumn("text", F.translate("text", " ", "\n"))
    agg = dedup_lines_within(lined).agg(
        F.sum("n_lines").alias("nl"), F.sum("n_removed").alias("nr")
    ).collect()[0]
    print(
        f"[r10ops] dedup_lines_within over {n_docs:,} docs: "
        f"{agg['nr']:,}/{agg['nl']:,} lines removed "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )

    t0 = time.time()
    m = source_overlap_matrix(docs, shingle_n=3).agg(
        F.count(F.lit(1)).alias("pairs"), F.sum("n_shared").alias("sh")
    ).collect()[0]
    print(
        f"[r10ops] source_overlap_matrix (20 sources) over {n_docs:,} docs: "
        f"{m['pairs']:,} pairs / {m['sh']:,} shared shingles "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )

    t0 = time.time()
    split_counts = leakage_safe_split(
        docs, splits=[("train", 0.8), ("eval", 0.2)]
    ).groupBy("split").count().collect()
    print(
        f"[r10ops] leakage_safe_split over {n_docs:,} docs: "
        f"{sorted((r['split'], r['count']) for r in split_counts)} "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )

    n_sample = min(100_000, n_docs)
    sample = docs.filter(F.col("doc_id") < n_sample)
    t0 = time.time()
    r = lsh_audit(sample).collect()[0]
    print(
        f"[r10ops] lsh_audit over {n_sample:,}-doc sample: "
        f"truth={r['n_truth']:,} cand={r['n_candidates']:,} "
        f"hits={r['n_hits']:,} misses={r['n_misses']:,} "
        f"false={r['n_false_alarms']:,} in {time.time() - t0:.1f}s",
        flush=True,
    )
    docs.unpersist()


def probe_hotbucket(n_family: int, n_filler: int = 90_000) -> None:
    """Degenerate-corpus probe for the LSH hot-bucket guard (VERDICT r10
    #1 done-criterion): one templated family of ``n_family`` IDENTICAL
    docs (every band is one family-sized bucket — the boilerplate-crawl
    adversary that exact dedup would catch here but not when each copy
    differs by a timestamp) + ``n_filler`` unique filler docs. Measures
    the uncapped quadratic clique vs the capped linear star for MinHash
    and SimHash. At n_family=1e5 the uncapped form would emit ~5×10⁹
    pairs from ONE bucket — run uncapped only while C(n,2) stays
    countable."""
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        minhash_lsh_candidates,
        simhash_near_pairs,
    )

    fam_text = " ".join(f"tmpl{j}" for j in range(30))
    fam = spark.range(n_family).select(
        F.col("id").alias("doc_id"), F.lit(fam_text).alias("text")
    )
    filler = synth_documents(spark, n_filler).select(
        (F.col("doc_id") + n_family).alias("doc_id"), "text"
    )
    docs = fam.unionByName(filler).repartition(64).cache()
    print(f"[hotbucket] docs: {docs.count():,} (family {n_family:,})", flush=True)

    if n_family <= 20_000:
        t0 = time.time()
        n_unc = minhash_lsh_candidates(docs).count()
        print(
            f"[hotbucket] minhash UNCAPPED: {n_unc:,} pairs "
            f"in {time.time() - t0:.1f}s",
            flush=True,
        )
    else:
        print(
            f"[hotbucket] minhash UNCAPPED skipped: would emit "
            f"~{n_family * (n_family - 1) // 2:,} pairs from one bucket",
            flush=True,
        )
    t0 = time.time()
    cap = minhash_lsh_candidates(docs, max_bucket=256)
    r = cap.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("n_capped_bands") > 0, 1).otherwise(0)).alias(
            "n_star"
        ),
    ).collect()[0]
    print(
        f"[hotbucket] minhash capped(256): {r['n']:,} pairs "
        f"({r['n_star']:,} star) in {time.time() - t0:.1f}s",
        flush=True,
    )
    t0 = time.time()
    sc = simhash_near_pairs(docs, max_bucket=256)
    r2 = sc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("from_capped_bucket").alias("n_star"),
    ).collect()[0]
    print(
        f"[hotbucket] simhash capped(256): {r2['n']:,} pairs "
        f"({r2['n_star']:,} star) in {time.time() - t0:.1f}s",
        flush=True,
    )
    docs.unpersist()


def synth_events(spark: SparkSession, n: int):
    """Synthetic event stream: ``n`` events over 30 days, n//50 users,
    5 types (purchase rare), deterministic value column."""
    base = spark.range(n).repartition(64)
    t0 = F.lit("2024-01-01").cast("timestamp")
    return base.select(
        F.col("id").alias("event_id"),
        F.pmod(F.xxhash64("id"), F.lit(max(n // 50, 1))).alias("user_id"),
        F.timestamp_micros(
            F.unix_micros(t0)
            + F.pmod(F.xxhash64(F.col("id") + 7), F.lit(30 * 86400)) * 1_000_000
        ).alias("ts"),
        F.when(F.pmod(F.xxhash64(F.col("id") + 13), F.lit(20)) == 0,
               F.lit("purchase"))
        .when(F.pmod(F.xxhash64(F.col("id") + 13), F.lit(20)) < 10,
              F.lit("click"))
        .otherwise(F.lit("view"))
        .alias("event_type"),
        (F.pmod(F.xxhash64(F.col("id") + 23), F.lit(50000)).cast("double")
         / F.lit(100.0)).alias("value"),
    )


def probe_r11inc(n_docs: int, n_batch: int = 100_000) -> None:
    """Incremental-dedup tiers at volume (VERDICT r10 #5 evidence): pay
    the corpus n-gram/line snapshot ONCE over ``n_docs`` docs, then run
    a ``n_batch``-doc daily batch against the artifacts — the walls to
    compare are batch-vs-artifact vs the batch-global pass over the
    full union (what a no-artifact pipeline re-pays daily). Plus the
    CDC chunker's O(n·w) fingerprint cost over binary payloads."""
    import tempfile

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        duplicated_spans,
        duplicated_spans_vs_corpus,
        ngram_count_table,
    )
    from bigdata_retailrocket_recsys_spark.operators.multimodal import (
        chunk_binary_cdc,
    )
    from bigdata_retailrocket_recsys_spark.operators.text import (
        line_prevalence_table,
        strip_repeated_lines_vs_corpus,
    )

    corpus = synth_documents(spark, n_docs).cache()
    batch = synth_documents(spark, n_batch + n_docs).filter(
        F.col("doc_id") >= n_docs
    )
    print(f"[r11inc] corpus: {corpus.count():,}, batch: {n_batch:,}", flush=True)
    tmp = tempfile.mkdtemp(prefix="bdrr_r11inc_")

    t0 = time.time()
    ngram_count_table(corpus, f"{tmp}/ngrams", n=5)
    t_snap = time.time() - t0
    t0 = time.time()
    out = duplicated_spans_vs_corpus(
        batch, corpus_ngrams=spark.read.parquet(f"{tmp}/ngrams"), n=5
    )
    n_spans = out.count()
    print(
        f"[r11inc] ngram snapshot {t_snap:.1f}s (once); batch spans vs "
        f"corpus: {n_spans:,} spans in {time.time() - t0:.1f}s",
        flush=True,
    )
    t0 = time.time()
    full = duplicated_spans(
        corpus.unionByName(batch), n=5
    ).filter(F.col("doc_id") >= n_docs).count()
    print(
        f"[r11inc] batch-global UNION pass (the daily re-pay without the "
        f"artifact): {full:,} spans in {time.time() - t0:.1f}s",
        flush=True,
    )

    lined_corpus = corpus.withColumn("text", F.translate("text", " ", "\n"))
    lined_batch = batch.withColumn("text", F.translate("text", " ", "\n"))
    t0 = time.time()
    line_prevalence_table(lined_corpus, f"{tmp}/lines")
    t_snap = time.time() - t0
    t0 = time.time()
    r = strip_repeated_lines_vs_corpus(
        lined_batch,
        corpus_lines=spark.read.parquet(f"{tmp}/lines"),
        min_docs=3,
    ).agg(
        F.sum("n_lines").alias("nl"), F.sum("n_removed").alias("nr")
    ).collect()[0]
    print(
        f"[r11inc] line snapshot {t_snap:.1f}s (once); batch line strip vs "
        f"corpus: {r['nr']:,}/{r['nl']:,} removed in {time.time() - t0:.1f}s",
        flush=True,
    )

    t0 = time.time()
    assets = batch.select(
        F.col("doc_id").alias("asset_id"),
        F.encode(
            F.concat_ws(
                " ", F.array_repeat(F.col("text"), 10)
            ),
            "utf-8",
        ).alias("payload"),  # ~2 KB binary per asset
    )
    assets = assets.localCheckpoint()  # pin: all tiers read it
    for fn in ("md5", "xxhash64"):
        t0 = time.time()
        agg = chunk_binary_cdc(assets, avg_chunk_bytes=64, hash_fn=fn).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("chunk_len").alias("b"),
        ).collect()[0]
        print(
            f"[r11inc] chunk_binary_cdc[{fn}] over {n_batch:,} ~2KB "
            f"payloads: {agg['n']:,} chunks / {agg['b']:,} bytes "
            f"in {time.time() - t0:.1f}s",
            flush=True,
        )
    from bigdata_retailrocket_recsys_spark.operators.multimodal import (
        chunk_binary_cdc_arrow,
    )

    t0 = time.time()
    agg = chunk_binary_cdc_arrow(assets, avg_chunk_bytes=64).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("chunk_len").alias("b"),
    ).collect()[0]
    print(
        f"[r11inc] chunk_binary_cdc_arrow[gear] over {n_batch:,} ~2KB "
        f"payloads: {agg['n']:,} chunks / {agg['b']:,} bytes "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )
    corpus.unpersist()


def probe_prefix(n_events: int) -> None:
    """100M-row probe of the _sharded_prefix_sum family (VERDICT r10
    #8): weighted_median / max-concurrency sweep / two-sample KS were
    measured only to 10M — this runs them at the soak's volume, where
    the 100M soak found the auto-broadcast cliff. Shard-offset geometry
    under test: range exchange + per-shard cumsum + broadcast offset
    table, never a single-reducer window."""
    shuffle_parts = max(64, n_events // 500_000)
    spark = get_spark(shuffle_partitions=shuffle_parts)
    spark.sparkContext.setLogLevel("ERROR")
    if n_events >= 50_000_000:
        # the 100M-soak discipline: a runtime-estimated auto-broadcast
        # building inside one JVM saturated by concurrent sort tasks is
        # the measured failure mode at this volume
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
        )

    from bigdata_retailrocket_recsys_spark.operators.aggregates import (
        ks_two_sample,
        weighted_median,
    )
    from bigdata_retailrocket_recsys_spark.operators.sessionize import (
        concurrency_sweep,
    )

    base = spark.range(n_events).repartition(256)
    rows = base.select(
        F.pmod(F.xxhash64("id"), F.lit(5)).alias("grp"),
        F.pmod(F.xxhash64(F.col("id") + 7), F.lit(100_000)).alias("v"),
        (F.pmod(F.xxhash64(F.col("id") + 13), F.lit(9)) + 1).alias("w"),
    )
    t0 = time.time()
    med = weighted_median(
        rows, group_col="grp", value_col="v", weight_col="w"
    ).collect()
    print(
        f"[prefix] weighted_median over {n_events:,} rows / 5 groups / "
        f"100k values: {sorted((r['grp'], r['w_median']) for r in med)} "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )

    t0 = time.time()
    ks_rows = base.select(
        (F.pmod(F.xxhash64(F.col("id") + 3), F.lit(1_000_000)).cast("double")
         / F.lit(1000.0)).alias("v"),
        F.when(F.pmod(F.xxhash64(F.col("id") + 5), F.lit(2)) == 0, "a")
        .otherwise("b")
        .alias("g"),
    )
    r = ks_two_sample(
        ks_rows, value_col="v", group_col="g", group_a="a", group_b="b"
    ).collect()[0]
    print(
        f"[prefix] ks_two_sample over {n_events:,} rows / 1M distinct "
        f"values: d={r['ks_d']:.6f} in {time.time() - t0:.1f}s",
        flush=True,
    )

    t0 = time.time()
    from bigdata_retailrocket_recsys_spark.operators.aggregates import (
        psi_drift_quantile,
        rolling_value_quantiles,
    )

    r = psi_drift_quantile(
        ks_rows, value_col="v", group_col="g", group_a="a", group_b="b"
    ).collect()[0]
    print(
        f"[prefix] psi_drift_quantile over {n_events:,} rows / 1M distinct "
        f"values: psi={r['psi']:.6f} ({r['n_buckets']} bins) "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )

    t0 = time.time()
    ev = base.select(
        F.timestamp_micros(
            F.lit(1704067200000000)
            + F.pmod(F.xxhash64(F.col("id") + 31), F.lit(30 * 86400))
            * 1_000_000
        ).alias("ts"),
        (F.pmod(F.xxhash64(F.col("id") + 37), F.lit(100_000)).cast("double")
         / F.lit(100.0)).alias("value"),
    )
    rq = rolling_value_quantiles(
        ev, ts_col="ts", value_col="value", window_days=7
    )
    row = rq.orderBy(F.desc("end_day")).limit(1).collect()[0]
    print(
        f"[prefix] rolling_value_quantiles over {n_events:,} events / 30 "
        f"days (x7 explode): last day n={row['n_obs']:,} "
        f"p50={row['p50_c']} p95={row['p95_c']} "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )

    t0 = time.time()
    n_sessions = n_events // 2
    sess = spark.range(n_sessions).repartition(256).select(
        F.col("id").alias("session_id"),
        F.pmod(F.xxhash64("id"), F.lit(30 * 86400)).alias("s0"),
    ).select(
        "session_id",
        (F.col("s0") * 1_000_000).alias("start_us"),
        ((F.col("s0") + 600 + F.pmod(F.xxhash64(F.col("session_id") + 3),
                                     F.lit(3600))) * 1_000_000).alias(
            "end_us"
        ),
    )
    days = concurrency_sweep(sess).orderBy(F.desc("max_concurrent")).limit(3)
    top = [(r["day_str"], r["max_concurrent"]) for r in days.collect()]
    print(
        f"[prefix] concurrency_sweep over {n_sessions:,} sessions "
        f"({n_events:,} boundaries): peak days {top} "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )


def probe_r10s3(n_docs: int, n_events: int) -> None:
    """Round-10 session-3 operators at volume: per-domain n-gram
    diversity (the Expand-×3 multi-distinct agg), BM25 hard negatives
    (broadcast query terms vs a corpus bag), touch attribution +
    DAU/WAU rolling distinct + t-closeness over a 10M event stream,
    curriculum anneal ordering (two sharded ranks) over 10M rows."""
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    from bigdata_retailrocket_recsys_spark.operators.aggregates import (
        rolling_distinct_actives,
    )
    from bigdata_retailrocket_recsys_spark.operators.quality import (
        enforce_t_closeness,
    )
    from bigdata_retailrocket_recsys_spark.operators.sequences import (
        touch_attribution,
    )
    from bigdata_retailrocket_recsys_spark.operators.splits import (
        curriculum_anneal_order,
    )
    from bigdata_retailrocket_recsys_spark.operators.text import (
        bm25_hard_negatives,
        ngram_diversity,
    )

    docs = synth_documents(spark, n_docs).withColumn(
        "source", F.concat(F.lit("src"), F.pmod(F.xxhash64("doc_id"), F.lit(20)))
    ).cache()
    print(f"[r10s3] docs materialized: {docs.count():,}", flush=True)

    t0 = time.time()
    d = ngram_diversity(docs).agg(
        F.sum("n_tokens").alias("nt"), F.sum("n_tri").alias("ntri")
    ).collect()[0]
    print(
        f"[r10s3] ngram_diversity over {n_docs:,} docs: "
        f"{d['nt']:,} tokens / {d['ntri']:,} distinct trigrams "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )

    qd = (
        docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(333333)) == 7)
        .limit(3)
        .selectExpr("doc_id AS q_id", "text AS q_text")
    )
    t0 = time.time()
    hn = bm25_hard_negatives(docs, qd, top_k=10).collect()
    print(
        f"[r10s3] bm25_hard_negatives (3 queries) over {n_docs:,} docs: "
        f"{len(hn)} negatives in {time.time() - t0:.1f}s",
        flush=True,
    )
    docs.unpersist()

    ev = synth_events(spark, n_events).cache()
    print(f"[r10s3] events materialized: {ev.count():,}", flush=True)

    t0 = time.time()
    at = touch_attribution(ev).collect()
    print(
        f"[r10s3] touch_attribution over {n_events:,} events: "
        f"{sorted((r['channel'], r['n_touches']) for r in at)} "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )

    t0 = time.time()
    rd = rolling_distinct_actives(ev).agg(
        F.count(F.lit(1)).alias("days"), F.max("wau").alias("maxwau")
    ).collect()[0]
    print(
        f"[r10s3] rolling_distinct_actives over {n_events:,} events: "
        f"{rd['days']} days, max wau {rd['maxwau']:,} "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )

    t0 = time.time()
    b = ev.select(
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day_str"),
        F.coalesce(F.floor(F.col("value") / F.lit(50.0)), F.lit(-1))
        .cast("bigint")
        .alias("vb"),
    )
    tc = enforce_t_closeness(
        b, quasi_cols=["event_type", "day_str"], bucket_col="vb",
        t_num=3, t_den=200,
    ).count()
    print(
        f"[r10s3] enforce_t_closeness over {n_events:,} events: "
        f"{tc:,} rows released in {time.time() - t0:.1f}s",
        flush=True,
    )

    t0 = time.time()
    rows = spark.range(n_events).select(
        F.col("id").alias("doc_id"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("score"),
    )
    cu = curriculum_anneal_order(
        rows, id_col="doc_id", score_col="score", anneal_num=1, anneal_den=5
    )
    c2 = cu.groupBy("phase").agg(
        F.count(F.lit(1)).alias("n"), F.max("ord").alias("mx")
    ).collect()
    print(
        f"[r10s3] curriculum_anneal_order over {n_events:,} rows: "
        f"{sorted((r['phase'], r['n'], r['mx']) for r in c2)} "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )
    ev.unpersist()


def probe_capfire(n_docs: int, n_family: int) -> None:
    """VERDICT r11 #2: prove the hot-bucket star guard firing ON
    NEAR-DUP SURVIVORS inside the FULL 7-stage composition. The r11
    capped-vs-uncapped pipeline A/B was output-identical because the
    planted EXACT dups died before LSH — here the family is TEMPLATED
    (a fixed 29-token template + a per-doc timestamp token, the classic
    re-rendered-page shape): exact dedup passes every member to LSH,
    pairwise Jaccard ≈ 25/31 ≈ 0.81 clears the 0.5 verify, and with
    most members sharing whole signatures the (band, bucket) cells
    concentrate into hot buckets the cap must handle. Checks: (a)
    cluster recall — exactly ONE family keeper survives the pipeline
    (budget set above the corpus so the cut stage passes everything),
    (b) wall stays in the no-family baseline's ballpark (linear, no
    pair blowup)."""
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    from bigdata_retailrocket_recsys_spark.pipelines.corpus import (
        build_corpus,
    )

    max_bucket = int(os.environ.get("BDRR_CORPUS_MAXBUCKET", "256"))
    fam_text = F.concat(
        F.expr(
            "concat_ws(' ', transform(sequence(0, 28), "
            "j -> concat('tpl', pmod(xxhash64(j * 77 + 13), 50000))))"
        ),
        F.lit(" ts"),
        F.col("doc_id").cast("string"),
    )
    docs = (
        synth_documents(spark, n_docs)
        .withColumn(
            "text",
            F.when(F.col("doc_id") < n_family, fam_text).otherwise(
                F.col("text")
            ),
        )
        .withColumn(
            "source",
            F.concat(F.lit("src"), F.pmod(F.xxhash64("doc_id"), F.lit(50))),
        )
        .cache()
    )
    n = docs.count()
    print(
        f"[capfire] {n:,} docs incl. {n_family:,}-member templated family, "
        f"max_bucket={max_bucket}",
        flush=True,
    )

    def _run(d, cap):
        t0 = time.time()
        kc = build_corpus(
            d,
            eval_source="src0",
            budget_tokens=n * 60,  # above the corpus — budget never cuts
            min_quality=0.3,
            near_dup=True,
            strip_substrings=True,
            near_dup_max_bucket=cap,
        ).cache()
        total = kc.count()
        fam_kept = kc.filter(F.col("doc_id") < n_family).count()
        kc.unpersist()
        return total, fam_kept, time.time() - t0

    baseline = synth_documents(spark, n_docs).withColumn(
        "source",
        F.concat(F.lit("src"), F.pmod(F.xxhash64("doc_id"), F.lit(50))),
    )
    bt, _, bw = _run(baseline, max_bucket)
    print(f"[capfire] baseline(no family): kept {bt:,} in {bw:.1f}s", flush=True)
    ct, cf, cw = _run(docs, max_bucket)
    print(
        f"[capfire] family CAPPED: kept {ct:,} in {cw:.1f}s; "
        f"family keepers = {cf}",
        flush=True,
    )
    # cluster-recall-vs-uncapped equality: the star guard must keep the
    # SAME family components the uncapped clique finds (absolute 1-keeper
    # recall is probabilistic by LSH design — a member missing all 4 core
    # bands splits off in BOTH variants). Skippable at family sizes where
    # the uncapped clique itself is the blowup being guarded against.
    if os.environ.get("BDRR_CAPFIRE_UNCAPPED", "1") == "1":
        ut, uf, uw = _run(docs, None)
        verdict = "EQUAL — guard lossless at cluster grain" if (
            uf == cf and ut == ct
        ) else f"MISMATCH capped=({ct},{cf}) uncapped=({ut},{uf})"
        print(
            f"[capfire] family UNCAPPED: kept {ut:,} in {uw:.1f}s; "
            f"family keepers = {uf} → {verdict}",
            flush=True,
        )


def probe_r12embed(n_vecs: int, n_batch: int = 100_000) -> None:
    """r12 incremental embedding tier at volume: corpus bucket-table
    build over ``n_vecs`` random 64-dim vectors, a ``n_batch`` daily
    batch against the at-rest table (with a planted 10k re-encoded
    family colliding into hot cells — the max_bucket scenario), and the
    within-set Rademacher pair tier with a planted identical family."""
    import tempfile

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        embed_bucket_table,
        embed_candidates_vs_corpus,
        embed_lsh_pairs,
        semdedup_apply_vs_corpus,
    )

    # deterministic pseudo-random vectors: 64 hash-derived components in
    # [-1, 1); family ids (< 10k) all share vector(7) — a re-encoded
    # upload cluster that floods one cell per table
    def vecs(base, fam_to: int = 0):
        src = F.when(F.col("id") < fam_to, F.lit(7)).otherwise(F.col("id"))
        # CAST pins bigint arithmetic: xxhash64 hashes by TYPE, so an
        # int-typed 7*64+j would hash differently from the bigint path
        comp = F.expr(
            "transform(sequence(0, 63), j -> "
            "CAST(pmod(xxhash64(CAST(__src AS BIGINT) * 64 + j), 2000000) "
            "AS DOUBLE) / 1000000.0 - 1.0)"
        )
        return base.select(
            F.col("id").alias("vec_id"), src.alias("__src")
        ).select("vec_id", comp.alias("embedding"))

    corpus = vecs(
        spark.range(n_vecs).repartition(64), fam_to=10_000
    )
    path = tempfile.mkdtemp() + "/bk"
    t0 = time.time()
    embed_bucket_table(corpus, path, dim=64, bits=16)
    print(
        f"[r12embed] bucket table over {n_vecs:,} x 64-dim vectors "
        f"(10k-member planted family): {time.time() - t0:.1f}s",
        flush=True,
    )
    batch = vecs(
        spark.range(2_000_000_000, 2_000_000_000 + n_batch)
        .select((F.col("id")).alias("id")).repartition(32),
        fam_to=0,
    ).withColumn(
        "embedding",
        # 100 batch docs re-encode the family vector
        F.when(
            F.col("vec_id") < 2_000_000_100,
            F.expr(
                "transform(sequence(0, 63), j -> "
                "CAST(pmod(xxhash64(CAST(7 AS BIGINT) * 64 + j), 2000000) "
                "AS DOUBLE) / 1000000.0 - 1.0)"
            ),
        ).otherwise(F.col("embedding")),
    )
    bt = spark.read.parquet(path)
    t0 = time.time()
    n_unc = embed_candidates_vs_corpus(batch, bt, dim=64, bits=16).count()
    w_unc = time.time() - t0
    t0 = time.time()
    n_cap = embed_candidates_vs_corpus(
        batch, bt, dim=64, bits=16, max_bucket=64
    ).count()
    w_cap = time.time() - t0
    print(
        f"[r12embed] candidates vs corpus ({n_batch:,} batch): uncapped "
        f"{n_unc:,} pairs / {w_unc:.1f}s; capped(64) {n_cap:,} pairs / "
        f"{w_cap:.1f}s",
        flush=True,
    )
    t0 = time.time()
    surv = semdedup_apply_vs_corpus(
        batch, bt, corpus, dim=64, bits=16, min_cosine=0.95, max_bucket=64
    ).count()
    print(
        f"[r12embed] semdedup apply (capped, cosine>=0.95): "
        f"{surv:,}/{n_batch:,} batch survivors in {time.time() - t0:.1f}s",
        flush=True,
    )
    t0 = time.time()
    n_pairs = embed_lsh_pairs(
        corpus, dim=64, tables=4, bits=16, min_cosine=0.95, max_bucket=64
    ).count()
    print(
        f"[r12embed] within-set pairs over {n_vecs:,} vecs (16-bit "
        f"buckets, capped 64): {n_pairs:,} pairs in {time.time() - t0:.1f}s",
        flush=True,
    )


def probe_r13embed(n_vecs: int, n_batch: int = 100_000) -> None:
    """r13 embedding-tier probe (VERDICT r12 #8): the multi-probe
    recall trade on the vs-corpus path — ``n_planted`` batch vectors
    are NEAR-duplicates (small deterministic perturbation, cosine
    ≈0.98) of corpus vectors, so single-probe banding misses the
    members whose marginal planes flipped (the 6-of-20k family-split
    datapoint's mechanism); n_probes ∈ {0, 1, 2, 4} measures recall
    (planted members with ≥1 corpus candidate) against candidate
    volume."""
    import tempfile

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        embed_bucket_table,
        embed_candidates_vs_corpus,
    )

    def vecs(base):
        comp = F.expr(
            "transform(sequence(0, 63), j -> "
            "CAST(pmod(xxhash64(CAST(vec_id AS BIGINT) * 64 + j), 2000000) "
            "AS DOUBLE) / 1000000.0 - 1.0)"
        )
        return base.select(F.col("id").alias("vec_id")).select(
            "vec_id", comp.alias("embedding")
        )

    corpus = vecs(spark.range(n_vecs).repartition(64)).localCheckpoint()
    corpus.count()

    # multi-probe recall on NEAR-dup (not identical) planted members:
    # batch vector i (< n_planted) = corpus vector i with component j
    # nudged by a deterministic ±0.06 — cosine ≈ 0.98, so each sign
    # decision near its margin can flip and single-probe banding loses
    # some members
    n_planted = 10_000
    path = tempfile.mkdtemp() + "/bk"
    embed_bucket_table(corpus, path, dim=64, bits=24)
    bt = spark.read.parquet(path).localCheckpoint()
    bt.count()
    perturbed = F.expr(
        "transform(sequence(0, 63), j -> "
        "CAST(pmod(xxhash64(CAST(vec_id AS BIGINT) * 64 + j), 2000000) "
        "AS DOUBLE) / 1000000.0 - 1.0 "
        "+ (CAST(pmod(xxhash64('p', CAST(vec_id AS BIGINT) * 64 + j), 121) "
        "AS DOUBLE) - 60.0) / 1000.0)"
    )
    batch = (
        spark.range(n_planted)
        .select(F.col("id").alias("vec_id"))
        .select(
            (F.col("vec_id") + 3_000_000_000).alias("vec_id"),
            perturbed.alias("embedding"),
            F.col("vec_id").alias("src_id"),
        )
    ).localCheckpoint()
    batch.count()
    for np_ in (0, 1, 2, 4):
        t0 = time.time()
        cand = embed_candidates_vs_corpus(
            batch.select("vec_id", "embedding"), bt, dim=64, bits=24,
            n_probes=np_,
        ).localCheckpoint()
        n_cand = cand.count()
        # recall: planted member found its OWN source vector
        n_found = (
            cand.filter(
                F.col("batch_vid") - 3_000_000_000 == F.col("corpus_vid")
            )
            .select("batch_vid")
            .distinct()
            .count()
        )
        print(
            f"[r13embed] vs-corpus n_probes={np_}: recall "
            f"{n_found}/{n_planted} planted near-dups, {n_cand:,} total "
            f"candidates in {time.time() - t0:.1f}s",
            flush=True,
        )


def probe_r13ops(n_docs: int) -> None:
    """r13 operator volume: winnowing fingerprints + MOSS pairs over
    ``n_docs`` synthetic 30-token docs (28M grams at 1M docs; the
    w-window explode is the 4× row inflation the docstring documents)
    with planted exact-dup runs so the pair stage does real work."""
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        winnowing_fingerprints,
        winnowing_pairs,
    )

    docs = synth_documents(spark, n_docs)
    # every 500th doc reproduces doc 7's token stream (the corpus-probe
    # planting move) so winnowing_pairs finds a real dup family
    dup_text = F.expr(
        "concat_ws(' ', transform(sequence(0, 29), "
        "j -> concat('w', pmod(xxhash64(7 * 30 + j), 50000))))"
    )
    docs = docs.withColumn(
        "text",
        F.when(F.pmod(F.col("doc_id"), 500) == 3, dup_text).otherwise(
            F.col("text")
        ),
    ).localCheckpoint()
    n = docs.count()
    t0 = time.time()
    nf = winnowing_fingerprints(docs, k=3, w=4).count()
    print(
        f"[r13ops] winnowing_fingerprints over {n:,} docs: {nf:,} "
        f"fingerprints in {time.time() - t0:.1f}s "
        f"(density {nf / (n * 28):.3f}, expect ~0.4)",
        flush=True,
    )
    t0 = time.time()
    np_ = winnowing_pairs(
        docs, k=3, w=4, min_common=2, max_fp_docs=64
    ).count()
    print(
        f"[r13ops] winnowing_pairs (max_fp_docs=64): {np_:,} pairs in "
        f"{time.time() - t0:.1f}s",
        flush=True,
    )


def probe_r14(n_rows: int, n_edges: int, n_vecs: int) -> None:
    """r14 volume re-audits (VERDICT r13 #4/#9): (a) the heaviest lazy
    plans — RFM-shape triple sharded ntile and degree-oriented triangle
    counts — confirmed cache-bounded at 10-100x the toy SF (walls, no
    cliff); (b) pagerank at volume over a LAZY derived edge pipeline
    (the r14 fix pins it — pre-fix every iteration re-derived it);
    (c) the embedding apply tier at 10M vectors: bucket-table writer
    parallelism (files follow the bucket frame's partitions, never one
    task) and the plane-literal plan-vs-execute time split."""
    import tempfile

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    # (a) RFM triple ntile at volume (q_rfm's shape, r5 pattern)
    from bigdata_retailrocket_recsys_spark.operators.windows import (
        global_ntile,
    )

    rows = (
        spark.range(n_rows)
        .repartition(64)
        .select(
            F.col("id").alias("user_id"),
            F.pmod(F.xxhash64("id"), F.lit(1000)).alias("r"),
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)).alias("fq"),
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(100000)).alias("m"),
        )
        .localCheckpoint()
    )
    print(f"[r14] rfm base materialized: {rows.count():,}", flush=True)
    t0 = time.time()
    out = rows
    for col in ("r", "fq", "m"):
        out = global_ntile(out, order_by=[F.col(col).asc()], k=5,
                           out_col=f"{col}_q")
    chk = out.agg(
        F.sum(F.col("r_q") + F.col("fq_q") + F.col("m_q"))
    ).collect()[0][0]
    print(
        f"[r14] rfm triple sharded ntile over {n_rows:,} rows: "
        f"checksum {chk} in {time.time() - t0:.1f}s",
        flush=True,
    )

    # (b) triangles + pagerank over a lazily DERIVED edge list (distinct
    # + self-filter upstream — the shape whose re-execution the r14
    # pagerank pin removes)
    from bigdata_retailrocket_recsys_spark.operators.graph import (
        pagerank,
        triangle_counts,
    )

    n_vtx = max(1000, n_edges // 6)
    edges = spark.range(n_edges).repartition(64).select(
        F.pmod(F.xxhash64("id"), F.lit(n_vtx)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(n_vtx)).alias("dst"),
    )
    t0 = time.time()
    n_tri = triangle_counts(edges).count()
    print(
        f"[r14] triangle_counts over {n_edges:,} edges / {n_vtx:,} "
        f"vertices: {n_tri:,} vertices in triangles "
        f"in {time.time() - t0:.1f}s",
        flush=True,
    )
    t0 = time.time()
    ranks = pagerank(edges, iters=10)
    mass = ranks.agg(F.sum("rank")).collect()[0][0]
    print(
        f"[r14] pagerank(10 iters) over {n_edges:,} edges: "
        f"mass {mass:.6f} in {time.time() - t0:.1f}s",
        flush=True,
    )

    # (c) embed apply tier at n_vecs: writer parallelism + batch apply
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        embed_bucket_table,
        semdedup_apply_vs_corpus,
    )

    comp = F.expr(
        "transform(sequence(0, 63), j -> "
        "CAST(pmod(xxhash64(CAST(vec_id AS BIGINT) * 64 + j), 2000000) "
        "AS DOUBLE) / 1000000.0 - 1.0)"
    )
    corpus = (
        spark.range(n_vecs)
        .repartition(64)
        .select(F.col("id").alias("vec_id"))
        .select("vec_id", comp.alias("embedding"))
        .localCheckpoint()
    )
    print(f"[r14] corpus vecs materialized: {corpus.count():,}", flush=True)
    bits = 24
    path = tempfile.mkdtemp(prefix="bdrr_r14_buckets_")
    t0 = time.time()
    embed_bucket_table(corpus, path, dim=64, bits=bits)
    t_write = time.time() - t0
    import glob

    n_files = len(glob.glob(path + "/part-*"))
    print(
        f"[r14] embed_bucket_table over {n_vecs:,} vecs (bits={bits}): "
        f"{n_files} part files in {t_write:.1f}s",
        flush=True,
    )
    batch = (
        spark.range(100_000)
        .select((F.col("id") + F.lit(3_000_000_000)).alias("vec_id"))
        .select("vec_id", comp.alias("embedding"))
    )
    t0 = time.time()
    surv = semdedup_apply_vs_corpus(
        batch,
        spark.read.parquet(path),
        corpus,
        dim=64,
        bits=bits,
        min_cosine=0.6,
    ).count()
    print(
        f"[r14] semdedup_apply_vs_corpus 100k batch vs {n_vecs:,}-vec "
        f"table: {surv:,} survivors in {time.time() - t0:.1f}s",
        flush=True,
    )


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument(
        "probe",
        choices=[
            "tpch", "ops", "corpus", "spans", "r10ops", "r10s3", "hotbucket",
            "prefix", "r11inc", "capfire", "r12embed", "r13embed", "r13ops",
            "r14",
        ],
    )
    p.add_argument("--family", type=int, default=10_000)
    p.add_argument("--copies", type=int, default=20)
    p.add_argument("--docs", type=int, default=1_000_000)
    p.add_argument("--edges", type=int, default=3_000_000)
    p.add_argument("--events", type=int, default=10_000_000)
    p.add_argument(
        "--queries",
        default="q_tpch_q2,q_tpch_q8,q_tpch_q9,q_tpch_q12,q_tpch_q17,"
        "q_tpch_q20,q_tpch_q21,q_tpch_q22",
    )
    a = p.parse_args()
    if a.probe == "tpch":
        probe_tpch(a.queries.split(","), a.copies)
    elif a.probe == "corpus":
        probe_corpus(a.docs)
    elif a.probe == "spans":
        probe_spans(a.docs)
    elif a.probe == "r10ops":
        probe_r10ops(a.docs)
    elif a.probe == "r10s3":
        probe_r10s3(a.docs, a.events)
    elif a.probe == "hotbucket":
        probe_hotbucket(a.family)
    elif a.probe == "prefix":
        probe_prefix(a.events)
    elif a.probe == "r11inc":
        probe_r11inc(a.docs)
    elif a.probe == "capfire":
        probe_capfire(a.docs, a.family)
    elif a.probe == "r12embed":
        probe_r12embed(a.docs)
    elif a.probe == "r13embed":
        probe_r13embed(a.docs)
    elif a.probe == "r13ops":
        probe_r13ops(a.docs)
    elif a.probe == "r14":
        probe_r14(a.events, a.edges, a.docs)
    else:
        probe_ops(a.docs, a.edges)


if __name__ == "__main__":
    main()
