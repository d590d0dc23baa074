"""Golden-count regression: the reference-shaped pipeline on a
hand-computed deterministic fixture (SURVEY §5.2.3).

Every asserted number below is derived BY HAND from the reference
semantics (30-min strict-> gap rule, strictly-before prefix predicates,
coalesce defaults, popularity over ALL event types — SURVEY §4.4), so a
regression in any stage shows up as a specific wrong count, not a diff.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_retailrocket_recsys_spark.pipelines.retailrocket import (
    PipelineConfig,
    build_candidates,
    build_features,
    extract_anchors,
    prefix_events,
    sessionize_events,
)

BASE_US = 1_704_880_800_000_000  # 2024-01-10 10:00:00 UTC, microseconds


@pytest.fixture(scope="module")
def fixture_frames(request):
    spark_fixture = request.getfixturevalue("spark")
    # (user, t_offset_sec, item, event)
    rows = [
        (1, 0, "A", "view"),
        (1, 60, "B", "view"),
        (1, 120, "B", "addtocart"),
        (1, 4000, "C", "view"),  # gap 3880s > 1800 → new session
        (2, 0, "D", "view"),
        (2, 1800, "D", "addtocart"),  # gap exactly 1800 → SAME session (>)
        (2, 7200, "A", "view"),  # new session
    ]
    item_ids = {"A": 10, "B": 11, "C": 12, "D": 13}
    cats = {10: 100, 11: 101, 12: 102, 13: 103}
    events = spark_fixture.createDataFrame(
        [
            (u, BASE_US + t * 1_000_000, item_ids[i], e)
            for u, t, i, e in rows
        ],
        "user_id bigint, ts_us bigint, item_id bigint, event string",
    ).select(
        "user_id", F.timestamp_micros("ts_us").alias("ts"), "item_id", "event"
    )
    item_cat = spark_fixture.createDataFrame(
        list(cats.items()), "item_id bigint, category_id bigint"
    )
    return spark_fixture, events, item_cat


START, END, CUTOFF = "2024-01-01", "2024-02-01", "2024-02-01"


def test_pipeline_golden_counts(fixture_frames):
    spark, events, item_cat = fixture_frames
    cfg = PipelineConfig()

    sess = sessionize_events(events, cfg)
    # u1: {0,60,120}, {4000}; u2: {0,1800} (exact gap stays), {7200}
    assert sess.select("session_id").distinct().count() == 4
    u2_first = [
        r.session_id
        for r in sess.filter("user_id = 2 and ts <= timestamp_micros(%d)"
                             % (BASE_US + 1_800_000_000)).collect()
    ]
    assert len(set(u2_first)) == 1, "exact-gap event must stay in session"

    events_cat = sess.join(item_cat, "item_id").select(
        "session_id", "user_id", "ts", "item_id", "category_id", "event"
    )
    anchors = extract_anchors(events_cat, start=START, end=END)
    assert anchors.count() == 2  # the two addtocart events

    prefix = prefix_events(anchors, events_cat)
    # anchor1 (u1@120): A@0, B@60 → 2; anchor2 (u2@1800): D@0 → 1
    assert prefix.count() == 3

    cands = build_candidates(anchors, events_cat, cfg, prefix=prefix)
    got = {
        (r.session_id.split("_")[0], r.category_id)
        for r in cands.collect()
    }
    # pop top-20 = all 4 cats for both anchors (popularity counts ALL
    # event types); prefix/userhist add nothing outside that set
    assert {c for (_, c) in got} == {100, 101, 102, 103}
    assert cands.count() == 8  # 2 anchors × 4 distinct cats

    feats = build_features(
        anchors, cands, events_cat, train_cutoff=CUTOFF, cfg=cfg, prefix=prefix
    )
    fr = {(r.user_id, r.cand_category): r for r in feats.collect()}
    assert len(fr) == 8

    # labels: anchor1 true cat = 101 (item B), anchor2 true = 103 (item D)
    assert sum(r.y for r in fr.values()) == 2
    assert fr[(1, 101)].y == 1 and fr[(2, 103)].y == 1

    # anchor1 prefix stats (events strictly before 120s: A@0, B@60)
    r = fr[(1, 101)]
    assert r.n_prefix_events == 2
    assert r.n_prefix_items == 2
    assert r.n_unique_cats_in_session == 2
    assert r.cat_count_in_prefix == 1  # B@60 only
    assert r.recency_sec == 60  # 120 - 60
    assert r.session_age_sec == 120  # 120 - 0
    assert r.cat_share_in_prefix == pytest.approx(0.5)

    r100 = fr[(1, 100)]
    assert r100.cat_count_in_prefix == 1 and r100.recency_sec == 120

    # candidate never seen in prefix → count 0, recency default (py:569)
    r102 = fr[(1, 102)]
    assert r102.cat_count_in_prefix == 0
    assert r102.recency_sec == cfg.recency_default

    # global popularity over ALL events (incl. post-anchor): A×2, B×2, C×1, D×2
    assert fr[(1, 100)].cat_popularity == 2
    assert fr[(1, 102)].cat_popularity == 1

    # user stats (u1: sessions 120s and 0s → avg 60s)
    assert fr[(1, 100)].total_sessions == 2
    assert fr[(1, 100)].avg_session_dur_us == pytest.approx(60_000_000.0)

    # anchor2: prefix = D@0 only; exact-gap event is the anchor itself
    r2 = fr[(2, 103)]
    assert r2.n_prefix_events == 1
    assert r2.cat_count_in_prefix == 1
    assert r2.recency_sec == 1800
    assert r2.session_age_sec == 1800


def test_valid_split_uses_only_train_history(spark):
    """The valid feature matrix anchors strictly AFTER the cutoff, yet its
    popularity dim is computed from strictly-before-cutoff events only —
    the reference's leak-prevention rule (py:629-630, README:246-251):
    any category first seen after the cutoff must carry the null-fill
    default popularity (=1), never a computed count."""
    from pyspark.sql import functions as F

    from bigdata_retailrocket_recsys_spark.pipelines.retailrocket import (
        run_events_pipeline,
    )

    cutoff = "2024-01-21"
    spark.catalog.clearCache()
    valid = run_events_pipeline(
        spark,
        "/root/testdata/sf0.001",
        train_cutoff=cutoff,
        with_embeddings=False,
        split="valid",
    ).cache()
    n = valid.count()
    assert n > 0
    cutoff_us = valid.select(
        F.unix_micros(F.lit(cutoff).cast("timestamp")).alias("c")
    ).first()["c"]
    # every anchor is at-or-after the cutoff (half-open valid window)
    assert valid.filter(F.col("atc_ts_us") < cutoff_us).count() == 0
    # both labels occur — the valid matrix is a real labeled set
    labels = {r.y for r in valid.select("y").distinct().collect()}
    assert labels == {0, 1}
    spark.catalog.clearCache()


def test_candidate_recall_matches_reference_claim(spark):
    """The reference claims '95%+ recall' of the true category within the
    candidate pool (README:244). Assert the same bound on our pipeline:
    fraction of anchors whose true category appears among their
    candidates (= mean of per-anchor max(y)). On the 20-category
    synthetic domain it is exactly 1.0; the bound locks the reference's
    claim as a regression."""
    from pyspark.sql import functions as F

    from bigdata_retailrocket_recsys_spark.pipelines.retailrocket import (
        run_events_pipeline,
    )

    spark.catalog.clearCache()
    f = run_events_pipeline(
        spark, "/root/testdata/sf0.001", with_embeddings=False
    )
    rec = (
        f.groupBy("session_id", "atc_ts_us")
        .agg(F.max("y").alias("hit"))
        .agg(F.avg("hit").alias("recall"))
        .first()["recall"]
    )
    assert rec >= 0.95, rec
    spark.catalog.clearCache()


def test_w2v_fit_and_candidates_failures_both_surface_promptly(spark, monkeypatch):
    """The W2V fit runs in a driver thread while the main thread writes
    the candidates. If that write fails while the fit is still running,
    the pipeline must cancel the fit's jobs and raise at once — the
    write's error with the fit's error chained — rather than wait out
    the fit and drop its failure."""
    import time

    from bigdata_retailrocket_recsys_spark.pipelines import retailrocket as rr
    from tests.conftest import SF_SMOKE

    fit_started = []

    def slow_failing_fit(train_ev, cfg):
        fit_started.append(time.monotonic())
        try:  # a 60 s job holding cores, as the real fit's jobs do
            spark.range(2).select(
                F.expr("reflect('java.lang.Thread', 'sleep', 60000L)")
            ).collect()
        finally:
            raise RuntimeError("w2v fit failed")

    def failing_candidates(anchors, *args, **kwargs):
        return anchors.limit(1).select(
            "session_id",
            "atc_ts",
            F.raise_error(F.lit("candidates write failed"))
            .cast("bigint")
            .alias("category_id"),
        )

    monkeypatch.setattr(rr, "train_category_embeddings", slow_failing_fit)
    monkeypatch.setattr(rr, "build_candidates", failing_candidates)
    spark.catalog.clearCache()
    with pytest.raises(Exception) as raised:
        rr.run_events_pipeline(spark, SF_SMOKE)
    elapsed = time.monotonic() - fit_started[0]
    spark.catalog.clearCache()
    chain, err = [], raised.value
    while err is not None:
        chain.append(str(err))
        err = err.__cause__ or err.__context__
    text = "\n".join(chain)
    assert "candidates write failed" in chain[0]
    assert "w2v fit failed" in text
    assert elapsed < 20, f"raised {elapsed:.1f} s after the fit started"
