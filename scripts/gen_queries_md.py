#!/usr/bin/env python
"""Regenerate QUERIES.md from the declared catalog registry."""
import sys, os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bigdata_retailrocket_recsys_spark.plans import QUERIES

lines = [
    "# Query catalog index",
    "",
    "Auto-generated from `bigdata_retailrocket_recsys_spark/plans/` "
    "(regenerate: `python scripts/gen_queries_md.py`). One row per "
    "declared driver-contract query: ✓ = DuckDB-oracled (row count + "
    "schema + order-insensitive value hash at sf0.01), rows-only = "
    "genuinely non-SQL-expressible (each carries an invariant unit test "
    "instead). ★ = headline bench entry (sf0.1, BENCH_r{N}.json).",
    "",
    "| Query | Oracle | Summary |",
    "|---|---|---|",
]
for name in sorted(QUERIES):
    q = QUERIES[name]
    first = (q.doc or "").strip().split("\n\n")[0].replace("\n", " ")
    first = " ".join(first.split())
    if len(first) > 170:
        first = first[:167] + "..."
    mark = "✓" if q.oracle else "rows-only"
    star = " ★" if q.headline else ""
    lines.append(f"| `{name}`{star} | {mark} | {first} |")
lines.append("")
lines.append(f"Total: {len(QUERIES)} queries, "
             f"{sum(1 for q in QUERIES.values() if q.oracle)} oracled, "
             f"{sum(1 for q in QUERIES.values() if not q.oracle)} rows-only, "
             f"{sum(1 for q in QUERIES.values() if q.headline)} headline.")

# Rows-only exemption audit (VERDICT r2 #5): each non-SQL-expressible query
# with WHY it cannot be oracled and WHICH invariant test stands in for the
# value hash. The generator fails if a rows-only query is missing from this
# map, so new exemptions must document themselves here, and if an entry
# names a query that is oracled or gone, so graduations prune it.
ROWS_ONLY_AUDIT = {
    "q_dedup_minhash": ("xxhash64 signatures not DuckDB-expressible", "test_operators.py::test_minhash_estimates_jaccard"),
    "q_sim_topk_ivf": ("MLlib KMeans cell assignment is iterative/seeded", "test_operators.py::test_cosine_topk_ivf_recall"),
    "q_w2v_embed": ("MLlib Word2Vec floats are seed/impl-specific", "test_operators.py::test_w2v_embeddings_invariants"),
    "q_multimodal_meta": ("binary decode stubbed (no codec libs in sandbox)", "test_operators.py::test_multimodal_stub_paths"),
    "q_multimodal_resize": ("binary image payloads not comparable via DuckDB SQL; decode tier is environment-dependent (PIL when importable)", "test_operators.py::test_multimodal_resize_and_frames + test_resize_images_pil_real_decode"),
    "q_graph_pagerank": ("iterative fixpoint, no closed SQL form", "test_properties.py::test_pagerank_invariants"),
    "q_graph_kcore": ("fixpoint peeling needs aggregation inside the recursion — neither engine's recursive SQL allows it", "test_operators.py::test_k_core_peels_to_fixpoint (invariant + fixpoint + hand case)"),
    "q_multimodal_features_arrow": ("float byte-entropy + binary payloads not comparable via DuckDB SQL (mapInArrow twin)", "test_operators.py::test_extract_features_arrow_matches_pandas (exact-int + 1e-9 entropy equality vs the mapInPandas path)"),
    "q_dedup_simhash_pairs": ("xxhash64 signatures not DuckDB-expressible (pairing stage)", "test_properties.py::test_simhash_pairs_banding_recall_equals_bruteforce (exact recall vs brute force)"),
    "q_pack_sequences_bpe": ("packing charged against Python-side BPE counts; the relational cut is oracled via q_pack_sequences", "test_operators.py::test_pack_sequences_tiles_docs_and_sequences (tiling invariants) + test_bpe_token_counts_matches_reference_encoder"),
    "q_text_bpe_tokens": ("greedy-merge BPE tokenization is Python-side (mapInPandas), not SQL-expressible", "test_operators.py::test_bpe_token_counts_matches_reference_encoder (exact vs pure-Python encoder incl. NULL/empty docs)"),
    "q_budget_sample_bpe": ("budget charged against Python-side BPE counts; the relational cut is oracled via q_budget_sample", "test_operators.py::test_token_budget_sample_precomputed_counts (exact greedy-head replay)"),
}
rows_only = [n for n in sorted(QUERIES) if not QUERIES[n].oracle]
missing = [n for n in rows_only if n not in ROWS_ONLY_AUDIT]
assert not missing, f"rows-only queries missing an audit entry: {missing}"
stale = sorted(set(ROWS_ONLY_AUDIT) - set(rows_only))
assert not stale, f"audit entries for oracled or retired queries: {stale}"
lines.append("")
lines.append("## Rows-only exemption audit")
lines.append("")
lines.append("Why each non-oracled query cannot be value-hashed against "
             "DuckDB, and the invariant test standing in for the hash:")
lines.append("")
lines.append("| Query | Why no oracle | Invariant test |")
lines.append("|---|---|---|")
for n in rows_only:
    why, test = ROWS_ONLY_AUDIT[n]
    lines.append(f"| `{n}` | {why} | `{test}` |")
open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md"), "w").write("\n".join(lines) + "\n")
print(f"QUERIES.md: {len(QUERIES)} entries")
