"""The benchmark workloads: ``retail_features`` and ``corpus_graph``.

Each workload generates its seeded inputs, computes what its outputs must
be before any Spark work starts, runs one closed-loop iteration through
the engine's public API, checks an iteration's output, and runs the same
iteration as a traced composition of the engine's layer functions.
``corpus_graph`` runs two parts, ``CorpusNearDup`` and ``GraphEmbed``, in
one iteration: as separate workloads their single-iteration runs did not
fit the benchmark's time budget with a steady enough reading.

Layers are named by their module path inside the package, for example
``pipelines.retailrocket.build_features`` is
``bigdata_retailrocket_recsys_spark.pipelines.retailrocket.build_features``.
"""

from __future__ import annotations

import hashlib
import os
import re
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

import gen
from bigdata_retailrocket_recsys_spark.operators import dedup, graph, splits, text
from bigdata_retailrocket_recsys_spark.pipelines import retailrocket as rr
from bigdata_retailrocket_recsys_spark.plans import QUERIES
from bigdata_retailrocket_recsys_spark.sources.readers import load_table
from bigdata_retailrocket_recsys_spark.sources.scratch import session_scratch
from bigdata_retailrocket_recsys_spark.sources.writers import write_parquet


def materialized(sql: str) -> str:
    """``sql`` with every non-recursive CTE marked ``MATERIALIZED``.

    DuckDB 1.0 inlines a CTE at each reference; the corpus oracle refers
    to its recursive ``reach`` chain from several places and re-runs the
    whole MinHash subtree per reference (17 s at 600 docs). Materializing
    evaluates each CTE once (0.3 s) and returns the same rows."""
    return re.sub(r"\b([a-z_][a-z0-9_]*) AS \(", r"\1 AS MATERIALIZED (", sql)


def _oracle_rows(data_dir: str, sql: str, tables: list[str]) -> list[tuple]:
    """Run a catalog oracle in DuckDB over the generated tables; rows as
    sorted tuples of strings, columns in name order."""
    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        rel = con.sql(sql)
        idx = [rel.columns.index(c) for c in sorted(rel.columns)]
        return sorted(tuple(str(r[i]) for i in idx) for r in rel.fetchall())
    finally:
        con.close()


def _spark_rows(rows) -> list[tuple]:
    """Collected Spark rows in the same canonical form as ``_oracle_rows``."""
    if not rows:
        return []
    cols = sorted(rows[0].asDict())
    return sorted(tuple(str(r[c]) for c in cols) for r in rows)


def _digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def _materialize(df) -> tuple:
    """Cache ``df`` and run it; returns the cached frame and its rows."""
    df = df.cache()
    return df, df.count()


# ---------------------------------------------------------------------------
# retail_features
# ---------------------------------------------------------------------------


class RetailFeatures:
    """``run_events_pipeline(split="train")`` on seeded events, the
    feature matrix written as Parquet like the reference does."""

    name = "retail_features"
    why = (
        "the reference pipeline users run: windows, prefix theta-join, wide "
        "aggregations, serial W2V fit and Parquet write; no text, dedup or "
        "iterative code"
    )
    sizes = {"full": {"n_events": 8_000}, "quick": {"n_events": 2_000}}
    layers = [
        "sources.readers.load_table",
        "pipelines.retailrocket.sessionize_events",
        "pipelines.retailrocket.prefix_events",
        "pipelines.retailrocket.build_candidates",
        "pipelines.retailrocket.train_category_embeddings",
        "pipelines.retailrocket.build_features",
        "pipelines.retailrocket.attach_embeddings",
        "sources.writers.write_parquet",
    ]
    #: one split per iteration: a cold train-plus-valid iteration alone
    #: takes about 40 s on 4 cores, beyond the benchmark's time budget
    split = "train"
    anchor_window = ("2024-01-01", "2024-01-21")  # run_events_pipeline's train split
    cutoff = "2024-01-21"

    def generate(self, rng, data_dir: str, size: dict) -> dict:
        return gen.events(rng, data_dir, size["n_events"])

    def input_rows(self, props: dict) -> int:
        return props["events"]

    def expected(self, data_dir: str):
        return None  # the warm-up iteration's digest is the reference

    def iterate(self, spark, data_dir: str, out_dir: str):
        write_parquet(rr.run_events_pipeline(spark, data_dir, split=self.split), out_dir)
        return out_dir

    def check(self, out_dir: str, expected) -> tuple[bool, str]:
        """Invariants: rows exist, no NULL in any column, at most one
        positive label per anchor, one column per embedding dimension.
        Digest: order-independent hash of the non-embedding columns."""
        con = duckdb.connect()
        try:
            con.sql(f"CREATE VIEW m AS SELECT * FROM read_parquet('{out_dir}/*.parquet')")
            cols = con.sql("SELECT * FROM m").columns
            plain = ", ".join(c for c in cols if not c.startswith("emb_"))
            nulls = " OR ".join(f'"{c}" IS NULL' for c in cols)
            n, n_null, h = con.sql(
                f"SELECT count(*), count(*) FILTER (WHERE {nulls}), "
                f"sum(hash({plain})::HUGEINT) FROM m"
            ).fetchone()
            max_pos = con.sql(
                "SELECT max(p) FROM (SELECT sum(y) AS p FROM m GROUP BY session_id, atc_ts_us)"
            ).fetchone()[0]
            n_emb = sum(c.startswith("emb_") for c in cols)
            ok = n > 0 and n_null == 0 and max_pos <= 1
            return ok and n_emb == rr.PipelineConfig().embedding_dim, _digest([n, h])
        finally:
            con.close()

    def traced(self, spark, data_dir: str, out_dir: str, tr) -> str:
        """``run_events_pipeline`` + ``write_parquet``, each layer call
        materialized in its own span (same calls, same arguments)."""
        cfg = rr.PipelineConfig()
        with tr.layer("sources.readers.load_table") as o:
            raw, o["rows"] = _materialize(
                load_table(spark, data_dir, "events").select(
                    "user_id",
                    "ts",
                    F.get_json_object("props", "$.k").cast("bigint").alias("item_id"),
                    F.when(F.col("event_type") == "purchase", "addtocart")
                    .otherwise(F.col("event_type"))
                    .alias("event"),
                )
            )
        with tr.layer("pipelines.retailrocket.sessionize_events") as o:
            events_sess, o["rows"] = _materialize(rr.sessionize_events(raw, cfg))
        item_cat, _ = _materialize(
            raw.select("item_id")
            .distinct()
            .select("item_id", (F.col("item_id") % 20).alias("category_id"))
        )
        events_cat, _ = _materialize(
            events_sess.join(F.broadcast(item_cat), "item_id", "inner").select(
                "session_id", "user_id", "ts", "item_id", "category_id", "event"
            )
        )
        a_start, a_end = self.anchor_window
        anchors, _ = _materialize(
            events_cat.filter(F.col("event") == "addtocart")
            .filter(
                (F.col("ts") >= F.lit(a_start).cast("timestamp"))
                & (F.col("ts") < F.lit(a_end).cast("timestamp"))
            )
            .select(
                "session_id",
                "user_id",
                F.col("ts").alias("atc_ts"),
                "item_id",
                "category_id",
            )
        )
        with tr.layer("pipelines.retailrocket.prefix_events") as o:
            prefix, o["rows"] = _materialize(rr.prefix_events(anchors, events_cat))
        train_ev = events_cat.filter(F.col("ts") < F.lit(self.cutoff).cast("timestamp"))

        def fit():
            with tr.layer("pipelines.retailrocket.train_category_embeddings") as o:
                emb, o["rows"] = _materialize(rr.train_category_embeddings(train_ev, cfg))
            return emb

        # the shipped pipeline overlaps the fit with the candidates
        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(fit)
            with tr.layer("pipelines.retailrocket.build_candidates") as o:
                candidates, o["rows"] = _materialize(
                    rr.build_candidates(
                        anchors, events_cat, cfg, prefix=prefix, item_cat_dim=item_cat
                    )
                )
            emb = fut.result()
        with tr.layer("pipelines.retailrocket.build_features") as o:
            features, o["rows"] = _materialize(
                rr.build_features(
                    anchors,
                    candidates,
                    events_cat,
                    train_cutoff=self.cutoff,
                    cfg=cfg,
                    prefix=prefix,
                )
            )
        with tr.layer("pipelines.retailrocket.attach_embeddings") as o:
            out, n_out = _materialize(rr.attach_embeddings(features, emb, cfg))
            o["rows"] = n_out
        with tr.layer("sources.writers.write_parquet") as o:
            write_parquet(out, out_dir)
            o["rows"] = n_out
        return out_dir

    def workload_metrics(self, layer: dict) -> dict:
        return {}


# ---------------------------------------------------------------------------
# corpus_neardup
# ---------------------------------------------------------------------------


class CorpusNearDup:
    """``q_corpus_pipeline_neardup`` (the md5 MinHash tier) on seeded
    documents with planted exact and near duplicates: many small jobs in
    the text and dedup layers."""

    sizes = {"full": {"n_docs": 600}, "quick": {"n_docs": 200}}
    query = "q_corpus_pipeline_neardup"
    layers = [
        "operators.text.quality_filter",
        "operators.dedup.minhash_lsh_candidates",
        "operators.dedup.jaccard_verify",
        "operators.dedup.connected_components",
        "operators.dedup.strip_duplicated_spans",
        "operators.dedup.contamination_check",
        "operators.splits.token_budget_sample",
    ]

    def generate(self, rng, data_dir: str, size: dict) -> dict:
        return gen.documents(rng, data_dir, size["n_docs"])

    def input_rows(self, props: dict) -> int:
        return props["docs"]

    def expected(self, data_dir: str):
        return _oracle_rows(data_dir, materialized(QUERIES[self.query].oracle), ["documents"])

    def iterate(self, spark, data_dir: str, out_dir: str):
        return QUERIES[self.query].fn(spark, data_dir).collect()

    def check(self, rows, expected) -> tuple[bool, str]:
        got = _spark_rows(rows)
        return got == expected and len(got) > 0, _digest(got)

    def traced(self, spark, data_dir: str, out_dir: str, tr):
        """``pipelines.corpus.build_corpus`` with the catalog entry's
        arguments, one span per operator call."""
        idc, txt, dom = "doc_id", "text", "source"
        docs = load_table(spark, data_dir, "documents")
        base, _ = _materialize(
            docs.filter(F.col(idc).isNotNull() & F.col(txt).isNotNull()).select(idc, txt, dom)
        )
        with tr.layer("operators.text.quality_filter") as o:
            gated, o["rows"] = _materialize(
                text.quality_filter(base, text_col=txt, min_quality=0.5, min_tokens=5)
                .withColumn("__norm", text.normalize_text(txt))
            )
        w_dup = Window.partitionBy(F.md5(F.col("__norm"))).orderBy(F.col(idc).asc())
        train, _ = _materialize(
            gated.withColumn("__rn", F.row_number().over(w_dup))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .filter(F.col(dom).isNull() | (F.col(dom) != "src0"))
            .repartition(F.col(idc))
        )
        with tr.layer("operators.dedup.minhash_lsh_candidates") as o:
            cand, o["rows"] = _materialize(
                dedup.minhash_lsh_candidates(
                    train,
                    id_col=idc,
                    text_col=txt,
                    shingle_n=3,
                    num_hashes=16,
                    bands=4,
                    hash_fn="md5",
                    max_bucket=None,
                ).select("doc_a", "doc_b")
            )
        with tr.layer("operators.dedup.jaccard_verify") as o:
            edges = dedup.jaccard_verify(
                cand,
                train,
                id_col=idc,
                text_col=txt,
                shingle_n=3,
                min_jaccard=0.5,
                pairs_distinct=True,
            ).select("doc_a", "doc_b")
            o["rows"] = edges.count()
        with tr.layer("operators.dedup.connected_components") as o:
            cc, o["rows"] = _materialize(
                dedup.connected_components(
                    None, edges, node_col=idc, src_col="doc_a", dst_col="doc_b", edges_pinned=True
                )
            )
        train, _ = _materialize(
            train.join(cc.filter(F.col(idc) != F.col("cluster_id")).select(idc), idc, "left_anti")
        )
        with tr.layer("operators.dedup.strip_duplicated_spans") as o:
            stripped, o["rows"] = _materialize(
                dedup.strip_duplicated_spans(
                    train, id_col=idc, text_col=txt, n=5, min_occurrences=2
                )
            )
        train, _ = _materialize(
            train.select(idc, dom).join(
                stripped.filter(F.col("text_clean") != "").select(
                    idc, F.col("text_clean").alias(txt)
                ),
                idc,
            )
        )
        eval_docs = base.filter(F.col(dom) == "src0")
        with tr.layer("operators.dedup.contamination_check") as o:
            flags, o["rows"] = _materialize(
                dedup.contamination_check(eval_docs, train, id_col=idc, text_col=txt, shingle_n=3)
            )
        clean, _ = _materialize(
            train.join(flags.filter(F.col("contaminated") == 1).select(idc), idc, "left_anti")
        )
        with tr.layer("operators.splits.token_budget_sample") as o:
            rows = splits.token_budget_sample(
                clean, 700, id_col=idc, text_col=txt, domain_col=dom
            ).collect()
            o["rows"] = len(rows)
        return rows

    def workload_metrics(self, layer: dict) -> dict:
        cands = layer["operators.dedup.minhash_lsh_candidates.rows_out"]
        verified = layer["operators.dedup.jaccard_verify.rows_out"]
        return {"dedup.lsh_verified_share": verified / cands if cands else 0.0}


# ---------------------------------------------------------------------------
# graph_embed
# ---------------------------------------------------------------------------


def numpy_pagerank(src: np.ndarray, dst: np.ndarray, damping=0.85, iters=10):
    """Reference power iteration with ``operators.graph.pagerank``'s
    formulation: distinct edges, uniform start, dangling mass spread
    uniformly."""
    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    nodes, inv = np.unique(pairs.ravel(), return_inverse=True)
    s, d = inv.reshape(-1, 2).T
    n = len(nodes)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        inflow = np.bincount(d, weights=r[s] / outdeg[s], minlength=n)
        r = (1.0 - damping) / n + damping * (inflow + r[dangling].sum() / n)
    return nodes, r


class GraphEmbed:
    """``operators.graph.pagerank`` on a seeded edge list (the iterative
    fixpoint, with pinned storage), then ``q_dedup_embed_vs_corpus_apply``
    on seeded 64-dim embeddings (sign-LSH bucket table written, then read
    back)."""

    sizes = {
        "full": {"n_nodes": 2_000, "n_edges": 10_000, "n_vecs": 2_000},
        "quick": {"n_nodes": 500, "n_edges": 2_500, "n_vecs": 500},
    }
    query = "q_dedup_embed_vs_corpus_apply"
    layers = [
        "operators.graph.pagerank",
        "operators.dedup.embed_bucket_table",
        "operators.dedup.semdedup_apply_vs_corpus",
    ]

    def generate(self, rng, data_dir: str, size: dict) -> dict:
        props = gen.graph(rng, data_dir, size["n_nodes"], size["n_edges"])
        props.update(gen.embeddings(rng, data_dir, size["n_vecs"]))
        return props

    def input_rows(self, props: dict) -> int:
        return props["edges"] + props["vectors"]

    def expected(self, data_dir: str):
        e = pq.read_table(os.path.join(data_dir, "edges.parquet"))
        nodes, ranks = numpy_pagerank(e["src"].to_numpy(), e["dst"].to_numpy())
        apply_rows = _oracle_rows(data_dir, QUERIES[self.query].oracle, ["embeddings"])
        return dict(zip(nodes.tolist(), ranks.tolist())), apply_rows

    def _edges(self, spark, data_dir: str):
        return spark.read.parquet(os.path.join(data_dir, "edges.parquet"))

    def iterate(self, spark, data_dir: str, out_dir: str):
        ranks = graph.pagerank(self._edges(spark, data_dir)).collect()
        return ranks, QUERIES[self.query].fn(spark, data_dir).collect()

    def check(self, result, expected) -> tuple[bool, str]:
        """PageRank: total mass within 1e-9 of 1 and every rank within
        1e-9 relative of the NumPy power iteration. Apply: equal to the
        DuckDB oracle. The digest covers the apply rows and the node set;
        float ranks depend on reduction order, so they are compared by
        tolerance only."""
        ranks, apply_rows = result
        want_ranks, want_apply = expected
        got = {r["node"]: r["rank"] for r in ranks}
        ok = abs(sum(got.values()) - 1.0) <= 1e-9 and got.keys() == want_ranks.keys()
        ok = ok and all(
            abs(got[n] - r) <= 1e-9 * r for n, r in want_ranks.items()
        )
        rows = _spark_rows(apply_rows)
        ok = ok and rows == want_apply and len(rows) > 0
        return ok, _digest([sorted(got), rows])

    def traced(self, spark, data_dir: str, out_dir: str, tr):
        edges = self._edges(spark, data_dir)
        with tr.layer("operators.graph.pagerank") as o:
            ranks = graph.pagerank(edges).collect()
            o["rows"] = len(ranks)
        # the catalog entry's inputs: corpus = vec_id mod 5 >= 2, batch =
        # vec_id mod 5 == 0 plus exact copies of 20 corpus vectors
        emb = load_table(spark, data_dir, "embeddings").filter(F.col("vec_id").isNotNull())
        m = F.pmod(F.col("vec_id"), F.lit(5))
        corpus, _ = _materialize(emb.filter(m >= 2))
        copies = (
            corpus.filter(F.col("embedding").isNotNull())
            .orderBy(F.col("vec_id").asc())
            .limit(20)
            .select((F.col("vec_id") + F.lit(1000000)).alias("vec_id"), "embedding", "label")
        )
        batch, _ = _materialize(
            emb.filter(m == 0).select("vec_id", "embedding", "label").unionByName(copies)
        )
        path = session_scratch(spark, "embed_apply_buckets")
        with tr.layer("operators.dedup.embed_bucket_table") as o:
            dedup.embed_bucket_table(corpus, path, dim=64, bits=12)
            o["rows"] = pq.ParquetDataset(path).read(columns=[]).num_rows
        with tr.layer("operators.dedup.semdedup_apply_vs_corpus") as o:
            surv = dedup.semdedup_apply_vs_corpus(
                batch, spark.read.parquet(path), corpus, dim=64, bits=12, min_cosine=0.6
            ).select("vec_id", "label").collect()
            o["rows"] = len(surv)
        return ranks, surv


class CorpusGraph:
    """``CorpusNearDup`` then ``GraphEmbed``, one iteration running both."""

    name = "corpus_graph"
    why = (
        "text dedup and iterative layers: quality gate, LSH, Jaccard verify, "
        "connected components, span strip, PageRank, sign-LSH buckets; no "
        "sessionize, W2V or feature joins"
    )

    def __init__(self) -> None:
        self.parts = (CorpusNearDup(), GraphEmbed())
        self.sizes = {
            size: {k: v for p in self.parts for k, v in p.sizes[size].items()}
            for size in ("full", "quick")
        }
        self.layers = [name for p in self.parts for name in p.layers]

    def generate(self, rng, data_dir: str, size: dict) -> dict:
        props = {}
        for p in self.parts:
            props.update(p.generate(rng, data_dir, size))
        return props

    def input_rows(self, props: dict) -> int:
        return sum(p.input_rows(props) for p in self.parts)

    def expected(self, data_dir: str):
        return [p.expected(data_dir) for p in self.parts]

    def iterate(self, spark, data_dir: str, out_dir: str):
        return [p.iterate(spark, data_dir, out_dir) for p in self.parts]

    def check(self, results, expected) -> tuple[bool, str]:
        checks = [p.check(r, e) for p, r, e in zip(self.parts, results, expected)]
        return all(ok for ok, _ in checks), _digest([d for _, d in checks])

    def traced(self, spark, data_dir: str, out_dir: str, tr):
        return [p.traced(spark, data_dir, out_dir, tr) for p in self.parts]

    def workload_metrics(self, layer: dict) -> dict:
        return self.parts[0].workload_metrics(layer)


WORKLOADS = {w.name: w for w in (RetailFeatures(), CorpusGraph())}
