#!/usr/bin/env python
"""Generate PLANS.md: formatted physical plans for the headline
queries, as reviewable evidence of scan pruning / pushdown /
broadcast / shuffle discipline.

Run: python tools/gen_plans.py   (writes PLANS.md at the repo root)

Dump mode: python tools/gen_plans.py --dump ROUND TAG name [name ...]
writes each named query's explain('formatted') to
plans/ROUND/<name>_<TAG>.txt (plan build only, no execution), e.g.
the before/after plan pairs of an optimization round.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from spark_app_twitter_spark.plans.explain import formatted_plan  # noqa: E402
from spark_app_twitter_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

SHOWCASE = [
    ("tpch_q1_pricing_summary", "pushed filter + pruned columns + partial/final agg"),
    ("tpch_q5_local_supplier_volume", "broadcast dimensions, shuffle joins on facts"),
    ("ingest_parse_events", "map-only projection, zero shuffles"),
    ("serving_hourly_window", "one shuffle between partial/final hash aggregate"),
    ("serving_latest_inputs", "TakeOrderedAndProject top-k"),
    ("dedup_minhash_lsh_pairs", "narrow banding shuffle + bucketed self-join"),
    ("sim_knn_bruteforce", "broadcast nested-loop over codegen'd vector math"),
    ("asof_purchases_last_click", "union + single sorted window (no range join)"),
    ("tpch_q21_sole_blame_suppliers", "EXISTS/NOT EXISTS rewritten to semi+anti joins"),
    ("tpch_q16_supplier_part_stats", "null-aware NOT IN anti join + distinct agg"),
    ("sem_dedup", "two-level cell assign (inline coarse + coarse-dispatched fine, ~2*sqrt(k) scores/vector) + capped keep-first"),
    ("text_decontaminate", "distinct-gram explode + broadcast semi join"),
    ("rag_retrieve", "ANN top-k -> tiny-key payload join -> map-side quality/redaction"),
    ("serving_session_paths", "one shared user_id shuffle for windows + session agg"),
    ("text_quality_rules", "per-rule array math, map-only"),
    ("text_common_ngrams", "doc-frequency partial agg + TakeOrderedAndProject"),
    ("sim_knn_ivf", "two-level index: inline hierarchical candidate assign (no data-side window), hierarchical probe"),
    ("sim_knn_ivf_quantized", "IVF probe bounds candidates, int8 integer-dot pre-rank, float rerank of RERANK_M survivors"),
    ("dedup_span_stats", "window-hash partial agg + equi-join membership, no pairwise scan"),
    ("text_bigram_lm_score", "broadcast model join, 1-row vocab scalar, map-side doc agg"),
    ("text_weighted_sample", "join-free per-row draws + one per-source ranking shuffle"),
    ("sim_embedding_covariance", "pair products collapse to d(d+1)/2 rows per partition pre-shuffle"),
    ("range_clicks_near_errors", "keyless range join blocked into bucket equi-join (no cartesian)"),
    ("sim_embedding_pca", "broadcast-literal axes: projection is map-only after training"),
    ("text_bpe_encode", "merge folds over the distinct-word vocabulary + one join back"),
    ("agg_salted_event_totals", "two-phase salted agg: (key, salt) shuffle then tiny merge"),
    ("pack_shuffle_export", "hash-derived shard + in-partition rank: shuffle without a global sort"),
    ("retrieval_inverted_index", "term-keyed rank caps postings in-aggregate (no unbounded collect)"),
    ("asof_nearest_click", "bidirectional as-of: one key shuffle, two sorted window passes, argmin map"),
    ("versioning_corpus_delta", "fingerprint projections + one co-partitioned full-outer join"),
    ("text_mixture_plan", "per-source partial agg; totals broadcast from the tiny relation"),
    ("sketch_hll_daily_users", "register map + bucket-max partial agg: |days|*256 shuffle rows"),
    ("text_decontaminate_bloom", "broadcast 8 KiB bit table prunes the corpus before the exact join"),
    ("sim_kmeans_cells_2level", "coarse inline assign + coarse-dispatched inline fine assign: 2*sqrt(k) scores/vector, zero data-side shuffle"),
    ("dedup_paragraphs", "segment digests: one window shuffle + doc rollup, no joins at all"),
    ("sketch_cms_top_terms", "2048-cell partial agg + broadcast sketch join for estimates"),
    ("layout_compaction_plan", "per-source running-sum window over listing rows, never data rows"),
    ("diag_key_skew", "key-count shuffle + 1-row totals broadcast + top-k"),
    ("retrieval_rag_ivf", "IVF-bounded stage 1 + k-per-query payload join (scale path of rag_retrieve)"),
    ("sketch_hist_quantiles", "|types|x1024 histogram shuffle; quantile read-off windows the sketch, not data"),
    ("text_mixture_apply", "|sources| multiplier broadcast + map-side epoch explode"),
    ("dedup_source_overlap", "distinct (digest, source) self-join bounded by |sources| per digest"),
    ("versioning_k_anonymous", "one release-key aggregation; suppression is a map-side projection"),
    ("sem_dedup_flat", "flat small-n variant: k-means cells -> intra-cell self-join -> keep-first"),
    ("dedup_cluster_best", "CC labels + quality argmax window per cluster (keep-best survivor)"),
    ("sim_ivf_index_append", "published-centroid literal assignment + |cells| rollup (no retrain)"),
    ("sim_embedding_drift", "(dim, cohort)-keyed quantized sums: 2*|dims| aggregate rows"),
    ("pack_efficiency", "one shard-keyed window + |shards| rollup over the packing frame"),
    ("dedup_paragraphs_rewrite", "digest-keyed keep-first + per-doc sort_array reassembly"),
    ("retrieval_bm25", "broadcast query-term filter BELOW the tf combine; doc-length count is the only corpus-wide reduction"),
    ("retrieval_hybrid_rrf", "two k-bounded retrievers; fusion full-outer join touches <=2k rows/query"),
    ("text_dsir_weights", "128-bucket profile broadcast into the token stream; one doc_id-keyed reduce"),
    ("pack_shard_manifest", "single shard-keyed reduce carrying ordered digest chains"),
    ("sim_knn_pq_adc", "constant-size integer lut broadcast onto 8-byte codes; no float math on the database side"),
    ("retrieval_index_delta", "delta docs only: fingerprint join gates the re-tokenize; (term, doc)-keyed full outer is delta-sized"),
    ("text_perplexity_buckets", "exact terciles with NO global sort: per-score spans + boundary-only tie ranks"),
    ("sim_coreset_kcenter", "farthest-point traversal: 1-row broadcast min-dist updates + distributed top-1 picks — composes to ZERO exchanges"),
    ("sim_knn_graph", "all-vectors top-k: cell-keyed candidate join under the SemDeDup linear cap + per-vector window"),
    ("sim_mmr_rerank", "brute shortlist then k-bounded fixed greedy: every post-shortlist stage touches <= M^2 rows/query"),
    ("multimodal_chunk_dedup", "binary chunk digests: digest-keyed buckets with DF cap, the exact-dedup discipline on blobs"),
    ("graph_kcore", "fixed peel rounds: per-round degree reduce + two semi-joins, lineage truncated to ONE live exchange"),
    ("serving_rfm_scores", "r10 distributed exact ntile: three range-balanced shuffles + bounded offset maps + partition-local windows — NO single-partition WindowExec on the |users| aggregate"),
    ("serving_power_users", "r10 distributed exact decile + broadcast triangular Lorenz cumulative: zero partition-less windows"),
    ("text_zipf_fit", "top-N via TakeOrderedAndProject BEFORE ranking: the vocabulary never totally sorts"),
    ("text_semdecon_sensitivity", "r11 threshold-sensitivity audit: ONE pass over the uncapped intra-cell pair relation; the 8-row grid broadcasts and map-side combine collapses each task to |grid| groups"),
    ("text_decon_screen_agreement", "r11 screen agreement: two bounded screens full-outer joined on doc_id, then a 3-class rollup — composition adds one keyed exchange"),
    ("dedup_soft_weights", "r11 soft dedup: the O(n) cluster chain + one cluster-keyed count/join pair on the SAME key (the join reuses the count's partitioning)"),
    ("dedup_url_canonical", "r15 URL dedup: map-only regex canonicalization inside codegen + ONE canon-keyed partial-combined exchange"),
    ("pack_unigram_sequences", "r15 tokenizer-aware packer: vocab-bounded Viterbi broadcast join + doc reduce + one shard-keyed running window"),
]


def _shrink(plan: str, max_lines: int = 60) -> str:
    # drop the verbose codegen ids and long field lists for readability
    plan = re.sub(r"#\d+L?", "", plan)
    lines = [ln.rstrip() for ln in plan.splitlines()]
    return "\n".join(lines[:max_lines])


def main() -> None:
    import __spark_entry__ as ent

    spark = get_spark("plans", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = ent.queries()
    out = [
        "# PLANS — physical-plan evidence for headline queries",
        "",
        f"Generated by `tools/gen_plans.py` at sf dir `{SF_DIR}`.",
        "Assertions over these properties live in `tests/test_plans.py`.",
        "",
    ]
    for name, why in SHOWCASE:
        df = qs[name](spark, SF_DIR)
        out += [
            f"## {name}",
            "",
            f"*Property under review: {why}*",
            "",
            "```",
            _shrink(formatted_plan(df)),
            "```",
            "",
        ]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


def dump(round_: str, tag: str, names: list[str]) -> None:
    import __spark_entry__ as ent

    spark = get_spark(f"plans_{round_}", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = ent.queries()
    out_dir = os.path.join(ROOT, "plans", round_)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            plan = formatted_plan(qs[name](spark, SF_DIR))
        except Exception as e:  # noqa: BLE001
            plan = f"PLAN BUILD FAILED: {e}"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", flush=True)
    spark.stop()


if __name__ == "__main__":
    if sys.argv[1:2] == ["--dump"]:
        if len(sys.argv) < 5:
            sys.exit("usage: gen_plans.py --dump ROUND TAG name [name ...]")
        dump(sys.argv[2], sys.argv[3], sys.argv[4:])
    else:
        main()
