"""Physical-plan shape regression tests.

Correctness tests prove the operators compute the right rows; these prove
the plans are the ones that survive a 100 TB scale-up (SURVEY §4.2-4.3):
filters and projections reach the parquet scan, small dims broadcast, top-k
never materializes a full sort, rank-limit pushes below the window, and no
row-at-a-time Python UDF sneaks into a hot path.
"""

from __future__ import annotations

import re

import pytest

from bigdata_retailrocket_recsys_spark.plans import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    """The same string df.explain(mode) prints."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_str(QUERIES["q_filter_ts_range"].fn(spark, SF_DIR))
    assert "PushedFilters: [" in plan
    # the ts-range predicate must actually be pushed, not just the node exist
    assert "IsNotNull" in plan or "GreaterThan" in plan


def test_column_pruning_reaches_scan(spark):
    plan = plan_str(QUERIES["q_project_cast"].fn(spark, SF_DIR))
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    # lineitem has 16 columns; the projection needs 4
    n_read = scan[scan.index("<") + 1 : scan.rindex(">")].count(",") + 1
    assert n_read <= 4, scan


def test_small_dim_join_broadcasts(spark):
    plan = plan_str(QUERIES["q_join_broadcast"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_global_topk_avoids_full_sort(spark):
    plan = plan_str(QUERIES["q_orderby_limit"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_rank_limit_pushes_below_window(spark):
    plan = plan_str(QUERIES["q_window_topk_per_group"].fn(spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_partitioned_sink_prunes_partitions(spark):
    """A predicate on the partition column must become a PartitionFilter
    (directory pruning), not a data filter over the full scan."""
    df = QUERIES["q_sink_partitioned"].fn(spark, SF_DIR)
    plan = plan_str(df)
    pf = plan[plan.index("PartitionFilters") :].splitlines()[0]
    assert "event_type" in pf, pf


def test_bucketed_join_has_no_exchange(spark):
    """Both sides bucketed by the join key ⇒ sort-merge join with zero
    shuffles — the pay-once co-location layout for 100 TB fact tables."""
    df = QUERIES["q_join_bucketed_colocated"].fn(spark, SF_DIR)
    plan = plan_str(df, "simple")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan


def test_sessionize_windows_share_one_shuffle(spark):
    """The lag + running-sum windows share PARTITION BY user ORDER BY ts —
    one Exchange, one Sort (SURVEY §4.3.1)."""
    plan = plan_str(QUERIES["q_sessionize"].fn(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning(user_id") == 1


@pytest.mark.parametrize(
    "name", [n for n in sorted(QUERIES) if n != "q_stream_session_window"]
)
def test_no_row_python_udf_in_any_plan(spark, name):
    """Row-at-a-time Python UDFs (BatchEvalPython) are banned engine-wide;
    Arrow-batched exchanges (ArrowEvalPython / MapInPandas) are the only
    sanctioned Python boundary (multimodal decode)."""
    df = QUERIES[name].fn(spark, SF_DIR)
    plan = plan_str(df, "simple")
    assert "BatchEvalPython" not in plan, name


def test_asof_join_is_one_window_no_join(spark):
    """asof_join must plan as union + ONE window shuffle — no join node at
    all (the SMJ-with-residual-inequality form fans out per-key history;
    the union+window form is why it survives 100 TB)."""
    plan = plan_str(QUERIES["q_join_asof_nearest"].fn(spark, SF_DIR), "simple")
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_band_join_is_equi_not_nested_loop(spark):
    """band_join's bucket trick must produce a partitionable equi join —
    never the quadratic BroadcastNestedLoopJoin/CartesianProduct a naive
    |a-b|<=eps predicate plans to."""
    plan = plan_str(QUERIES["q_join_range_band"].fn(spark, SF_DIR), "simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tfidf_topk_pushes_rank_limit(spark):
    plan = plan_str(QUERIES["q_tfidf"].fn(spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_range_clustered_sink_pushes_range_filter(spark):
    """The BETWEEN predicate on the cluster key must reach the parquet
    scan as PushedFilters (row-group min/max skipping); with
    repartitionByRange files hold disjoint key ranges, so the pushed
    filter prunes whole files too."""
    df = QUERIES["q_sink_sorted_pruning"].fn(spark, SF_DIR)
    plan = plan_str(df)
    pushed = plan[plan.index("PushedFilters") :].splitlines()[0]
    assert "GreaterThanOrEqual(user_id" in pushed, pushed
    assert "LessThanOrEqual(user_id" in pushed, pushed


def test_assoc_rules_dims_broadcast(spark):
    """Association-rule item counts and the 1-row total join the pair
    fact via broadcast — never a shuffled sort-merge join."""
    plan = plan_str(QUERIES["q_assoc_rules"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q5_fact_never_shuffles(spark):
    """All five dimensions broadcast; the lineitem fact reaches the
    aggregate without a single data shuffle (the only Exchange carries
    the 5-row partial agg)."""
    plan = plan_str(QUERIES["q_tpch_q5"].fn(spark, SF_DIR))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    tree = plan[: plan.index("(1) Scan")] if "(1) Scan" in plan else plan
    assert tree.count("BroadcastHashJoin") == 5
    # exactly one non-broadcast Exchange (the 5-row partial agg)
    assert tree.count("+- Exchange") == 1, tree


def test_gaps_islands_single_shuffle(spark):
    """Both row_number windows AND the final aggregate ride one user_id
    hash partitioning — exactly one Exchange in the whole plan."""
    plan = plan_str(QUERIES["q_window_gaps_islands"].fn(spark, SF_DIR))
    tree = plan[: plan.index("(1) Scan")] if "(1) Scan" in plan else plan
    assert tree.count("Exchange") == 1, tree
    assert tree.count("Window") == 2


def test_markov_transitions_two_data_shuffles(spark):
    """Lead window (hash by user) + pair-count agg are the only full-data
    exchanges; the probability window's exchange carries post-agg rows
    only — 3 exchanges total, no more."""
    plan = plan_str(QUERIES["q_markov_transitions"].fn(spark, SF_DIR))
    tree = plan[: plan.index("(1) Scan")] if "(1) Scan" in plan else plan
    assert tree.count("Exchange") == 3, tree


def test_interval_overlap_join_is_equi_not_nested_loop(spark):
    """The grid-cell rewrite must plan as an equi join — never the naive
    theta form's BroadcastNestedLoopJoin/Cartesian."""
    plan = plan_str(QUERIES["q_join_interval_overlap"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_text_chunk_and_redact_zero_shuffle(spark):
    """Chunking and redaction are pure narrow maps — a 100 TB corpus chunks
    with NO Exchange anywhere in either plan."""
    for q in ("q_text_chunk", "q_text_redact_pii"):
        plan = plan_str(QUERIES[q].fn(spark, SF_DIR))
        assert "Exchange" not in plan, q


def test_decontaminate_probe_has_no_fanout(spark):
    """Eval shingles probe the train set with ONE existence join that can
    never multiply rows: since r13 the probe is a LeftOuter marker join
    against the DISTINCT train-shingle set (≤1 match per row — same
    no-fan-out guarantee as the old LeftSemi, but total + matched counts
    now ride a single aggregate instead of two passes + a stitch join)."""
    plan = plan_str(QUERIES["q_text_decontaminate"].fn(spark, SF_DIR))
    assert "LeftOuter" in plan
    assert plan.count("Join") >= 1
    # no inner/cross pairing of shingles anywhere in the probe
    assert "Inner" not in plan and "Cross" not in plan


def test_minhash_persisted_no_shingle_recompute(spark):
    """The persisted-signature LSH plan reads ONLY the signature table:
    no documents scan, no tokenize window, no posexplode of tokens — the
    whole shingle→minhash pipeline is absent (that is the point of
    persisting signatures at warehouse scale). The only Generate left is
    the cheap band explode over the 16-element sig array."""
    plan = plan_str(QUERIES["q_dedup_minhash_persisted"].fn(spark, SF_DIR))
    assert "bdrr_minhash_sigs" in plan
    assert "documents" not in plan
    assert "Window" not in plan  # the lead()-window shingle stage
    assert "posexplode" not in plan  # the tokenizer


def test_jaccard_persisted_no_tokenize_recompute(spark):
    """The persisted-shingle Jaccard plan reads ONLY the shingle table:
    no documents scan, no tokenizer posexplode — tokenize-once is the
    point of persisting shingles at warehouse scale."""
    plan = plan_str(QUERIES["q_dedup_ngram_jaccard_persisted"].fn(spark, SF_DIR))
    assert "bdrr_shingles" in plan
    assert "documents" not in plan
    assert "posexplode" not in plan  # the tokenizer


def test_ivf_at_rest_probe_prunes_partitions(spark):
    """The persisted-IVF probe must scan ONLY the nprobe cell partitions:
    the probe-cell predicate becomes a PartitionFilter on the
    cell-partitioned vectors parquet (directory pruning), so at 100 TB a
    query reads nprobe/n_cells of the corpus, never all of it."""
    df = QUERIES["q_sim_topk_ivf_pinned"].fn(spark, SF_DIR)
    plan = plan_str(df)
    assert "ivf_pinned_index" in plan
    pf = plan[plan.index("PartitionFilters") :].splitlines()[0]
    assert "cell" in pf, pf
    # the filter must be partition-level, not a post-scan data filter:
    # an IN/equality over the partition column inside PartitionFilters
    assert "cell#" in pf or "cell IN" in pf or "(cell" in pf, pf


def test_zorder_sink_pushes_both_filters(spark):
    """The re-read of the z-ordered sink must push BOTH column predicates
    to the parquet scan (that is what turns the layout's per-file min/max
    locality into actual file/row-group skipping)."""
    plan = plan_str(QUERIES["q_sink_zorder_pruning"].fn(spark, SF_DIR))
    scan = plan[plan.index("PushedFilters"):].splitlines()[0]
    # Match the d-column predicate specifically: a comparison filter renders
    # as "...(d,value)" — a bare substring "d" would be vacuously true
    # whenever user_id (which contains a 'd') is pushed.
    assert "user_id" in scan, scan
    assert re.search(r"\(d,", scan), scan


def test_negative_sample_interval_lookup_is_broadcast(spark):
    """The cumulative-interval lookup must be a bucketed broadcast
    equi-join — never a nested-loop range join (O(catalog) per draw) and
    never a cartesian product."""
    plan = plan_str(QUERIES["q_negative_sample"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_exact_reads_digest_table(spark):
    """The incremental exact-dedup anti-join reads the persisted corpus
    DIGEST table (16 bytes/row), not corpus documents: the only documents
    scan in the plan is the batch side."""
    plan = plan_str(QUERIES["q_dedup_incremental_exact"].fn(spark, SF_DIR))
    assert "bdrr_corpus_digests" in plan


def test_incremental_minhash_broadcasts_batch(spark):
    """The batch-vs-corpus LSH join reads the persisted corpus SIGNATURE
    table and broadcasts the banded batch — the corpus side never
    shuffles."""
    plan = plan_str(QUERIES["q_dedup_incremental_minhash"].fn(spark, SF_DIR))
    assert "bdrr_corpus_sigs" in plan
    assert "BroadcastHashJoin" in plan


def test_dim_prefiltered_join_prunes_before_shuffle(spark):
    """The manual runtime filter must appear as a LeftSemi
    BroadcastHashJoin on the fact side BELOW the merge-hinted main join —
    unmatched fact rows die before the wide Exchange."""
    plan = plan_str(QUERIES["q_join_dim_prefiltered"].fn(spark, SF_DIR))
    assert "SortMergeJoin" in plan  # main join honored the merge hint
    semi_at = plan.find("LeftSemi")
    assert semi_at != -1 and "BroadcastHashJoin" in plan, plan[:2000]


def test_negative_sample_catalog_window_is_sharded(spark):
    """The negative-sampling cumulative-weight window must be partitioned
    (by __shard) — never a global single-reducer sort over the catalog."""
    from bigdata_retailrocket_recsys_spark.operators.features import (
        popularity_negative_samples,
    )
    from bigdata_retailrocket_recsys_spark.sources.readers import load_table

    ev = load_table(spark, SF_DIR, "events").selectExpr(
        "user_id", "CAST(get_json_object(props, '$.k') AS BIGINT) AS item"
    )
    df = popularity_negative_samples(ev, user_col="user_id", item_col="item")
    plan = plan_str(df)
    assert "windowspecdefinition(__shard" in plan


def test_exists_subquery_becomes_semi_join(spark):
    """q_tpch_q4's EXISTS must decorrelate to a semi join (RewritePredicate
    Subquery) — never a per-row subquery execution."""
    plan = plan_str(QUERIES["q_tpch_q4"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan, plan[:2000]


def test_not_in_is_null_aware_anti(spark):
    """NOT IN over a nullable subquery column needs the null-aware anti
    form (BroadcastNestedLoopJoin LeftAnti) to honor three-valued logic."""
    plan = plan_str(QUERIES["q_subquery_not_in"].fn(spark, SF_DIR))
    assert "LeftAnti" in plan, plan[:2000]


def test_correlated_scalar_subquery_decorrelates(spark):
    """q_subquery_correlated: both scalar subqueries become aggregates
    joined back — the plan has joins + aggregates, zero subquery nodes
    executing per-row (no 'Subquery' scalar exec in the final plan)."""
    plan = plan_str(QUERIES["q_subquery_correlated"].fn(spark, SF_DIR))
    assert "Join" in plan and "HashAggregate" in plan


def test_bm25_topk_avoids_full_sort(spark):
    plan = plan_str(QUERIES["q_text_bm25"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan  # df + corpus stats broadcast


def test_eval_candidates_broadcast(spark):
    """q_eval_nextitem: the 10-row popularity model must broadcast — the
    held-out facts never shuffle for the metric join."""
    plan = plan_str(QUERIES["q_eval_nextitem"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_global_ntile_never_single_partition_window(spark):
    """q_rfm: every row_number window must partition by __shard — a bare
    'Window [row_number() ... ORDER BY' with SinglePartition would be the
    single-reducer cliff global_ntile exists to avoid. The only
    SinglePartition windows allowed are over the n_shards-row offset
    table (bounded by construction)."""
    df = QUERIES["q_rfm"].fn(spark, SF_DIR)
    plan = plan_str(df, "simple")
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "__shard" in line, line


def test_vector_quantize_stats_broadcast(spark):
    """Per-dim min/max (64 rows) broadcasts back onto the exploded facts."""
    plan = plan_str(QUERIES["q_vector_quantize"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_lateral_decorrelates_to_window_group_limit(spark):
    """The correlated LATERAL ORDER BY+LIMIT must decorrelate to the
    rank-limit family (WindowGroupLimit pushes the top-1 below the
    window) — not a per-row nested-loop re-execution."""
    plan = plan_str(QUERIES["q_join_lateral"].fn(spark, SF_DIR))
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_null_safe_join_is_hash_join(spark):
    """<=> must plan as a hash join on the null-safe key, never a
    nested-loop fallback."""
    plan = plan_str(QUERIES["q_join_null_safe"].fn(spark, SF_DIR))
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q21_decorrelates_without_nested_loops(spark):
    """EXISTS + NOT EXISTS against the same fact: both must decorrelate
    to semi/anti hash joins (a nested-loop here is quadratic in the
    fact)."""
    plan = plan_str(QUERIES["q_tpch_q21"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"LeftSemi|ExistenceJoin", plan), plan[:500]
    assert "LeftAnti" in plan


def test_anomaly_mad_has_no_single_reducer_window(spark):
    """Both MAD rank passes must ride the sharded grouped global_rank —
    a Window whose partition spec is ONLY the (few-valued) group column
    would funnel each group through one reducer."""
    plan = plan_str(QUERIES["q_anomaly_mad"].fn(spark, SF_DIR), "simple")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in the MAD plan"
    # every spec must involve the shard column: data windows partition by
    # (shard, group); the offset-table window orders by shard over the
    # bounded n_shards-row table
    for spec in specs:
        assert "__shard" in spec, spec


def test_simhash_signature_has_no_bit_explode(spark):
    """The SWAR signature aggregation must not regress to the explode-bits
    vote form (64 rows per shingle — 1.9B agg inputs at 1M docs, the r7
    volume-probe cliff): exactly ONE explode in the pairs plan (the band
    fan-out), and no sequence(0, 63) bit enumeration anywhere."""
    plan = plan_str(QUERIES["q_dedup_simhash_pairs"].fn(spark, SF_DIR), "simple")
    assert "sequence(0, 63" not in plan, "bit-position explode is back"
    # one band fan-out per self-join side (the cached sigs subtree is
    # referenced twice) — anything more means a per-bit explode returned
    assert plan.lower().count("generate explode") <= 2, plan


def test_simhash128_band_join_is_equi_not_nested_loop(spark):
    """128-bit banded pairing must stay an equi join on (band, key) with
    the doc inequality as residual — a BroadcastNestedLoopJoin here means
    the band keys fell out of the join condition (quadratic at scale)."""
    plan = plan_str(
        QUERIES["q_dedup_simhash128_pairs"].fn(spark, SF_DIR), "simple"
    )
    assert "NestedLoop" not in plan, plan
    assert "sequence(0, 63" not in plan
    # the md5 tier shares the SWAR reducer: the map-side signature
    # aggregate is one count plus 16 lane-packed sums per 64-bit word
    # (33 functions at 128 bits), not one sum per bit (129). The plan
    # string elides long function lists as "... N more fields".
    sig_aggs = [
        line for line in plan.splitlines()
        if "HashAggregate" in line and "partial_try_sum(((h0" in line
    ]
    assert sig_aggs, plan
    for line in sig_aggs:
        more = re.search(r"\.\.\. (\d+) more fields", line)
        n_funcs = (
            line.count("partial_count(")
            + line.count("partial_try_sum(")
            + (int(more.group(1)) if more else 0)
        )
        assert n_funcs == 1 + 16 * 2, line
        assert "nibs" not in line, line


def test_lsh_exactint_broadcasts_queries(spark):
    """The exact-int LSH top-k must broadcast the (tiny) query side of
    the bucket join — a shuffle join on 3 query rows would add a full
    corpus exchange for nothing."""
    plan = plan_str(
        QUERIES["q_sim_topk_lsh_exactint"].fn(spark, SF_DIR), "simple"
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_bpe_counts_is_arrow_batched_not_row_udf(spark):
    """BPE token counting must ride mapInPandas (Arrow-batched) — never
    the banned row-at-a-time BatchEvalPython."""
    plan = plan_str(QUERIES["q_text_bpe_tokens"].fn(spark, SF_DIR), "simple")
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_corpus_pipeline_plan_shape(spark):
    """The end-to-end corpus pipeline must stay pure-JVM and
    exchange-lean: no Python eval anywhere (every stage is built-in
    expressions), no cartesian/nested-loop join, dedup-keeper and
    decontamination joins as semi/anti hash joins, and the
    twice-referenced frames actually served from cache (S7: Spark never
    reuses a twice-referenced exchange on its own)."""
    plan = plan_str(QUERIES["q_corpus_pipeline"].fn(spark, SF_DIR))
    assert "BatchEvalPython" not in plan, plan[:800]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r13: exact-dedup keeper = row_number()=1 over the digest key (ONE
    # exchange) — the old keeper semi-join paid digest agg + id join-back
    assert "row_number" in plan, plan[:800]
    assert "LeftAnti" in plan, plan[:800]
    assert "InMemoryTableScan" in plan, "shared frames must be cached"


def test_corpus_pipeline_neardup_plan_shape(spark):
    """The 7-stage pipeline must keep the 4-stage entry's discipline: no
    Python eval, no cartesian/nested-loop join (every crossJoin is a
    broadcast of a 1-row totals frame), semi/anti joins for keepers and
    decontamination, and the multiply-referenced frames served from
    cache. The CC labels are localCheckpoint-ed, so the returned plan is
    bounded even though the operator iterates."""
    plan = plan_str(QUERIES["q_corpus_pipeline_neardup"].fn(spark, SF_DIR))
    assert "BatchEvalPython" not in plan, plan[:800]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r13: window keeper for exact dedup; near-dup losers + decon stay
    # anti joins (candidate-bounded right sides)
    assert "row_number" in plan, plan[:800]
    assert "LeftAnti" in plan, plan[:800]
    assert "InMemoryTableScan" in plan, "shared frames must be cached"


def test_lm_score_broadcasts_totals_and_caches_lm(spark):
    """LM scoring joins the (term,count) LM table twice (totals + score
    join) — must come from cache; the 1-row totals frame rides a
    broadcast, never a shuffled cross join."""
    plan = plan_str(QUERIES["q_text_lm_score"].fn(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan, plan[:800]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_minhash_md5_banded_subtree_cached(spark):
    """The md5 twin must keep the main entry's plan discipline: the
    banded subtree feeds BOTH self-join sides from cache (Spark never
    reuses a twice-referenced exchange), and the band join stays an
    equi hash join."""
    plan = plan_str(QUERIES["q_dedup_minhash_md5"].fn(spark, SF_DIR))
    assert "InMemoryTableScan" in plan, plan[:600]
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_duplicated_spans_shingle_frame_cached(spark):
    """The shingle frame (tokenize + n−1 lead windows — the heaviest
    stage of the exact-substring pass) feeds BOTH the occurrence-count
    aggregate and the duplicated-start semi-join; Spark never reuses a
    twice-referenced exchange (S7), so the lazy island plan must show it
    served from cache in both branches (VERDICT r8 #1)."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        _span_islands_lazy,
        _span_tok_frame,
    )
    from bigdata_retailrocket_recsys_spark.operators.iterate import Iteration

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e")],
        "doc_id bigint, text string",
    )
    tok = _span_tok_frame(docs, id_col="doc_id", text_col="text")
    with Iteration() as it:
        plan = plan_str(_span_islands_lazy(it, tok, n=5, min_occurrences=2))
    assert plan.count("InMemoryTableScan") >= 2, plan[:1200]


@pytest.mark.fast
@pytest.mark.parametrize("op", ["pagerank", "pagerank_exact"])
def test_pagerank_round_is_one_exchange(spark, count_jobs, op):
    """A PageRank round carries each node's out-list, so it runs one
    shuffle and never joins or broadcasts the graph; ten rounds stay
    within 30 jobs (a node checkpoint, then a map stage and a fill per
    round)."""
    from pyspark.sql import functions as F

    from bigdata_retailrocket_recsys_spark.operators import graph

    edges = spark.range(300).select(
        F.pmod(F.col("id") * 7, F.lit(120)).alias("src"),
        F.pmod(F.col("id") * 13 + 5, F.lit(150)).alias("dst"),
    )
    ranks, jobs = count_jobs(lambda: getattr(graph, op)(edges, iters=10))
    _, jobs_collect = count_jobs(ranks.collect)
    assert jobs + jobs_collect <= 30, (jobs, jobs_collect)
    executed = plan_str(ranks, "simple").split("== Initial Plan ==")[0]
    assert executed.count("Exchange hashpartitioning") == 1, executed
    assert "BroadcastExchange" not in executed, executed
    assert "Join" not in executed, executed


@pytest.mark.fast
@pytest.mark.parametrize(
    "op, most",
    [("connected_components", 13), ("pagerank_exact", 11), ("k_core", 11)],
)
def test_message_passing_job_bounds(spark, count_jobs, op, most):
    """The iterative operators that carry their adjacency run a start
    checkpoint and two jobs per round: bounds on a call plus its collect,
    which a round that joins the graph exceeds (24, 19 and 20 jobs)."""
    from bigdata_retailrocket_recsys_spark.operators import dedup, graph

    # chain 0-4 and pair 10-11: five CC rounds; triangle with a 3-tail
    # for k_core, which peels in three rounds
    chain = spark.createDataFrame(
        [(1, 0), (1, 2), (3, 2), (3, 4), (10, 11)], "src bigint, dst bigint"
    )
    tail = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6)], "src bigint, dst bigint"
    )
    call = {
        "connected_components": lambda: dedup.connected_components(None, chain),
        "pagerank_exact": lambda: graph.pagerank_exact(chain, iters=4),
        "k_core": lambda: graph.k_core(tail, 2),
    }[op]
    out, jobs = count_jobs(call)
    _, jobs_collect = count_jobs(out.collect)
    assert jobs + jobs_collect <= most, (jobs, jobs_collect)


def test_epoch_shuffle_has_no_single_reducer_window(spark):
    """The epoch shuffle's global rank must ride the sharded
    global_rank — every window spec in the plan involves the shard
    column (an empty-partition window would funnel the corpus through
    one reducer)."""
    plan = plan_str(QUERIES["q_epoch_shuffle"].fn(spark, SF_DIR), "simple")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in the shuffle plan"
    for spec in specs:
        assert "__shard" in spec, spec


def test_strip_repeated_lines_one_doc_exchange_no_cache(spark):
    """The line strip must pay exactly ONE by-doc exchange (the single
    rebuild groupBy — the r9 form paid two: rebuilt + totals) and hold
    no session-lifetime cache: the bounded prevalent-digest set is an
    eagerly localCheckpoint-ed scan, not an InMemoryTableScan, so the
    corpus-sized line frame is never pinned in executor storage
    (VERDICT r9 #1)."""
    from bigdata_retailrocket_recsys_spark.operators.text import (
        strip_repeated_lines,
    )

    docs = spark.createDataFrame(
        [(i, "unique %d\nshared footer line" % i) for i in range(6)],
        "doc_id bigint, text string",
    )
    plan = plan_str(strip_repeated_lines(docs, min_docs=3), "simple")
    assert plan.count("hashpartitioning(__d") == 1, plan[:1500]
    assert "InMemoryTableScan" not in plan, plan[:1500]
    assert "BatchEvalPython" not in plan


def test_corpus_profile_two_corpus_scans(spark):
    """The report card fuses the digest + Gopher columns into ONE corpus
    projection (gopher_metric_exprs); only the LM token bag pays its own
    pass. Plan must show exactly 2 FULL-corpus scans (fused metrics + LM
    doc bag) — the only other parquet scans allowed are the reference
    split, pushed-filtered to source='src0' (its cached LM subtree
    prints once per reference) (VERDICT r9 #2)."""
    import re as _re

    plan = plan_str(QUERIES["q_corpus_profile"].fn(spark, SF_DIR), "simple")
    scans = _re.findall(r"FileScan parquet[^\n]*", plan)
    full = [s for s in scans if "src0" not in s]
    assert len(full) == 2, "\n".join(scans)
    assert all("src0" in s for s in scans[len(full):]) or len(scans) == len(
        full
    ), "\n".join(scans)
    assert "BatchEvalPython" not in plan


def test_corpus_pipeline_ccnet_and_surgical_plan_shape(spark):
    """The two r10 pipeline variants must keep the family's discipline:
    no Python eval, no cartesian/nested-loop join, keeper/decon joins as
    semi/anti hash joins, shared frames cached. The ccnet variant's
    line-prevalence set rides an eagerly-checkpointed scan (bounded),
    never a corpus-sized cache."""
    for name in ("q_corpus_pipeline_ccnet", "q_corpus_pipeline_surgical"):
        plan = plan_str(QUERIES[name].fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, (name, plan[:500])
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "row_number" in plan, (name, plan[:500])  # r13 window keeper
        assert "InMemoryTableScan" in plan, name


def test_fuzzy_pairs_is_equi_join(spark):
    """The blocked fuzzy join must plan as an EQUI join on the block key
    (Levenshtein + length prune as post-join filters) — never a
    quadratic nested loop over the whole table."""
    plan = plan_str(
        QUERIES["q_join_fuzzy_levenshtein"].fn(spark, SF_DIR), "simple"
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_overlap_matrix_digest_join_is_equi(spark):
    """source_overlap_matrix: the corpus-sized digest self-join must be
    an equi join; the ONE BroadcastNestedLoopJoin allowed is the
    intentional sources² pair grid (a sizes × sizes broadcast, bounded
    by source cardinality)."""
    plan = plan_str(
        QUERIES["q_corpus_overlap_matrix"].fn(spark, SF_DIR), "simple"
    )
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_attribution_one_conv_partitioning_no_bnlj(spark):
    """touch_attribution: conversions ⋈ touches must be an EQUI join on
    user (lookback band as residual, never a nested loop), and the
    three windows (count, first-rank, last-rank) must share ONE
    Exchange on conversion id."""
    plan = plan_str(QUERIES["q_attribution_touch"].fn(spark, SF_DIR), "simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange hashpartitioning(conv_id") == 1, plan


def test_hard_negatives_broadcast_terms_and_group_limit(spark, monkeypatch):
    """bm25_hard_negatives: the benchmark-sized query term set joins as
    a broadcast (never shuffling the corpus bag against it as SMJ on
    term alone... the tf/df joins may SMJ, but no quadratic shape), and
    the per-query top-k pushes below the window as WindowGroupLimit.
    Inspected on the frame going into the checkpoint — the production
    form checkpoints the bounded output (its visible plan is just the
    checkpoint scan) and frees the dl cache (ADVICE r10)."""
    from pyspark.sql import functions as F

    from bigdata_retailrocket_recsys_spark.operators.iterate import Iteration
    from bigdata_retailrocket_recsys_spark.operators.text import (
        bm25_hard_negatives,
    )
    from bigdata_retailrocket_recsys_spark.sources.readers import load_table

    checkpointed = []
    checkpoint = Iteration.checkpoint

    def spy(self, df, *metrics):
        checkpointed.append(df)
        return checkpoint(self, df, *metrics)

    monkeypatch.setattr(Iteration, "checkpoint", spy)
    docs = load_table(spark, SF_DIR, "documents")
    qd = (
        docs.filter(
            F.col("doc_id").isNotNull()
            & F.col("text").isNotNull()
            & (F.octet_length("text") >= 30)
        )
        .select(F.col("doc_id").alias("q_id"), F.col("text").alias("q_text"))
        .orderBy(F.col("q_id").asc())
        .limit(3)
    )
    bm25_hard_negatives(docs, qd)
    (pre,) = checkpointed
    plan = plan_str(pre, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    # production form: checkpointed output, dl cache released
    eager_plan = plan_str(
        QUERIES["q_mine_hard_negatives"].fn(spark, SF_DIR), "simple"
    )
    assert "ExistingRDD" in eager_plan or "LogicalRDD" in eager_plan, (
        eager_plan
    )
    spark.catalog.clearCache()


def test_rolling_distinct_equi_only(spark):
    """rolling_distinct_actives: the window-membership expansion must be
    the explode+semi-join equi shape — a trailing-days BAND join would
    plan as BroadcastNestedLoopJoin and melt at fact scale."""
    plan = plan_str(
        QUERIES["q_agg_rolling_distinct"].fn(spark, SF_DIR), "simple"
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_t_closeness_joinback_broadcasts(spark):
    """enforce_t_closeness: the per-group EMD verdict table is
    groups-bounded and must broadcast back to the fact rows (the
    k-anonymity/l-diversity join-back discipline)."""
    plan = plan_str(QUERIES["q_t_closeness"].fn(spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_max_concurrency_prefix_sum_is_sharded(spark):
    """concurrency_sweep: the boundary running sum must be the
    range-sharded prefix-sum shape (rangepartitioning exchange over the
    fact-sized boundary frame) — the only SinglePartition window allowed
    is the shard-count-bounded offset table."""
    plan = plan_str(QUERIES["q_max_concurrency"].fn(spark, SF_DIR), "simple")
    assert "rangepartitioning" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_privacy_release_joinbacks_broadcast(spark):
    """The composed k→l→t pipeline: every per-group verdict table is
    groups-bounded and must join back as a broadcast."""
    plan = plan_str(QUERIES["q_privacy_release"].fn(spark, SF_DIR), "simple")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_ks_prefix_sums_sharded_and_topk_bounded(spark):
    """ks_two_sample: both ECDF cumsums must be range-sharded (no
    single-reducer window over the unbounded value axis) and the
    argmax must compile to TakeOrderedAndProject, never a full sort."""
    plan = plan_str(QUERIES["q_stats_ks"].fn(spark, SF_DIR), "simple")
    assert "rangepartitioning" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rolling_quantile_equi_and_sharded(spark):
    """rolling_value_quantiles: the window-membership expansion must be
    the explode+semi-join EQUI shape (a trailing band join would plan a
    BroadcastNestedLoopJoin) and the per-end-day cumsum must ride the
    range-sharded prefix sum, never a single-reducer window."""
    plan = plan_str(
        QUERIES["q_window_rolling_quantile"].fn(spark, SF_DIR), "simple"
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "rangepartitioning" in plan, plan


def test_psi_quantile_sharded_edges_broadcast(spark):
    """psi_drift_quantile: decile edges come from the sharded prefix sum
    (rangepartitioning) and join back as a broadcast 1-row frame — no
    cartesian, no single-reducer value window."""
    plan = plan_str(
        QUERIES["q_stats_psi_quantile"].fn(spark, SF_DIR), "simple"
    )
    assert "rangepartitioning" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        plan
    )


def test_winnowing_single_exchange(spark):
    """winnowing_fingerprints must be ONE hash exchange (by doc)
    end-to-end: the window explode keeps doc in every downstream key,
    so the (doc, j) rightmost-min window and the final distinct both
    ride the doc partitioning via the subset-clustering rule — a second
    exchange appearing here means someone broke the key chain."""
    from bigdata_retailrocket_recsys_spark.operators.dedup import (
        winnowing_fingerprints,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x y z w v u")],
        "doc_id int, text string",
    )
    plan = plan_str(winnowing_fingerprints(docs, k=3, w=4), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
