"""Measure the THIRD decade: derive an "sf10"-scale dataset (100
key-shifted copies of the sf0.1 fact/corpus tables) and time the
scale-critical operators at derived-sf1 vs derived-sf10, appending the
decade ratio to SCALING.md.

Why: the 10× probe (tools/scale_probe_10x.py) puts the data term in
view; one MORE decade separates "the floor amortized" from "the slope
is real" — a plan whose sf1→sf10 ratio stays near its sf0.1→sf1 ratio
is genuinely linear, while super-linear terms compound visibly
(quadratic terms grow another 100×). The probe list is the subset of
the 10× list with real data terms (floor-bound sub-second rows would
only measure noise at 10× the cost), plus the production scale twins
the repo ships as escape hatches — sf10 is exactly where they must
prove themselves — and three e2e pipelines.

Content perturbation per copy (same rationale as the 10× derivation —
clones must NOT be mutual near-duplicates):

- documents: every word suffixed with the copy index → zero shared
  shingles across copies, within-copy duplicate relations preserved.
- embeddings: coordinate ROTATION by (k mod 64) positions PLUS a
  per-copy SIGN pattern for k >= 64 (rotation alone repeats after 64
  copies, which would plant exact cross-copy duplicates). A fixed
  diagonal ±1 pattern preserves every within-copy dot product and
  norm EXACTLY (d_j² = 1) while decorrelating the two copies that
  share a rotation — so ANN/dedup candidate counts still scale with
  data, not with construction artifacts.

    python tools/scale_probe_100x.py          # appends to SCALING.md
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from firstamerican_etl_spark.plans.registry import load_all
from firstamerican_etl_spark.session import get_spark
from firstamerican_etl_spark.sources.io import TABLES, staging_tag
from tools.scale_probe_10x import SCALED, _SHIFT, build_sf1

SRC = "/root/testdata/sf0.1"
COPIES = 100

#: r8: extended to (essentially) the full 10×-probe set so every slope
#: claim in PLANS.md carries a measured sf1→sf10 row (VERDICT r7 #8).
#: The one exclusion is the fixed-K `semdedup_cluster_prune` twin: its
#: N²/K pair term is DOCUMENTED quadratic (4.5× per decade measured at
#: 10×) and another 100× on the pair count is minutes of wall for a
#: number the 10× table already proves; its √N production twin runs
#: here instead.
PROBE = [
    "fa_flagship_merged",
    "q1_pricing_summary",           # floor contrast: should stay flat
    "q21_waiting_orders",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "boilerplate_segment_dedup",
    "corpus_pack_contiguous",
    "semdedup_cluster_prune_sqrtk",  # the production twin at 100×
    "semdedup_threshold_sweep",
    "jaccard_prefix_filter_pairs",
    "ngram_jaccard_pairs",
    "jaccard_df_capped_pairs",       # the df-cap slope drop, measured
    "leakage_safe_split_assign",
    "rolling_7d_median_value",       # window twin: heavy-hitter regime
    "rolling_7d_median_bucketed",    # skiplist at 100× per-user volume
    "graph_triangle_count",
    "graph_triangle_count_degree",   # O(m^1.5) orientation at 100×
    "graph_triangle_degree_50k",
    "kcore_peel_unrolled",
    "lpa_communities_unrolled",
    "pagerank_trade_graph",
    "bootstrap_mean_ci_poisson",     # pure map-side CPU: must be linear
    "tfidf_top_terms",
    "bm25_topk_retrieval",
    "contamination_ngram_overlap",
    "cosine_topk_bruteforce",
    "dsir_importance_weights",
    "duplicate_span_report",
    "duplicate_span_cut",
    "dedup_survivorship_report",
    "doc_containment_pairs",
    "cdc_chunk_dedup",
    "minhash_lsh_recall_eval",
    "heavy_hitters_cms",
    "corpus_drift_psi",
    "vocab_oov_rate",
    "markov_event_transitions",
    "cohort_retention_matrix",
    "pearson_correlation_matrix",
    "salted_skew_join",
    "zipf_rank_frequency",
    "token_budget_sample",
    "mad_outlier_zscores",
    "char_entropy_quality",
    "count_distinct_two_phase",
    "matryoshka_truncation_recall",
    "bpe_train_unrolled",
    "multimodal_knn_bucketed",
    "timeseries_gapfill_ffill",
    "rfm_user_segments",
    "event_path_trigrams",
    "sample_weighted_maxhash",
    "pmi_collocations",
    "winsorized_robust_mean",
    "quantile_bins_scalable",
    "global_row_index_scalable",
    # r9: the r8 additions queued by the 10× list (VERDICT r8 #4) +
    # the new image perceptual near-dup. (geo_point_in_polygon_join
    # was dropped in r10: its point side is `customer`, which this
    # derivation does NOT scale, so its row was construction-limited —
    # the geo family now gets real slopes from the point-scaled
    # 10×/100× sub-table in tools/scale_probe_10x.py --points.)
    "epoch_shuffle_shards",
    "ndcg_at_k_eval",
    "dedup_image_dhash_pairs",
]


def build_sf10(spark) -> str:
    out = os.path.join("/tmp", f"fa_sf10_derived_v1_{staging_tag(SRC, 'lineitem')}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        src = spark.read.parquet(os.path.join(SRC, f"{t}.parquet"))
        if t not in SCALED:
            src.write.mode("overwrite").parquet(os.path.join(out, f"{t}.parquet"))
            continue
        cols = [c for c in SCALED[t] if c in src.columns]
        # write copies in batches of 10 unions to bound plan size
        writer_mode = "overwrite"
        for base in range(0, COPIES, 10):
            parts = []
            for k in range(base, min(base + 10, COPIES)):
                d = src
                for c in cols:
                    d = d.withColumn(c, F.col(c) + F.lit(k * _SHIFT))
                if t == "documents" and k > 0:
                    d = d.withColumn(
                        "text",
                        F.array_join(
                            F.transform(
                                F.split(F.col("text"), " "),
                                lambda w: F.concat(w, F.lit(f"_{k}")),
                            ),
                            " ",
                        ),
                    )
                if t == "embeddings" and k > 0:
                    rot = k % 64
                    if rot:
                        d = d.withColumn(
                            "embedding",
                            F.concat(
                                F.slice(F.col("embedding"), rot + 1, 64 - rot),
                                F.slice(F.col("embedding"), 1, rot),
                            ),
                        )
                    if k // 64:  # second rotation lap: sign pattern
                        d = d.withColumn(
                            "embedding",
                            F.transform(
                                "embedding",
                                lambda x, i: F.when(i % 2 == 1, -x).otherwise(x),
                            ),
                        )
                parts.append(d)
            big = parts[0]
            for p in parts[1:]:
                big = big.unionByName(p)
            big.write.mode(writer_mode).parquet(os.path.join(out, f"{t}.parquet"))
            writer_mode = "append"
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def _force(df) -> None:
    cols = [F.col(c) for c in df.columns]
    df.select(F.sum(F.xxhash64(*[c.cast("string") for c in cols])).alias("h")).collect()


def main() -> None:
    # --only a,b: measure just those names and append an incremental
    # sub-table (keeps the hand-annotated full table intact; used when
    # a round adds operators without re-running all ~56 rows)
    only: list[str] | None = None
    if len(sys.argv) >= 3 and sys.argv[1] == "--only":
        only = [s for s in sys.argv[2].split(",") if s]
    probe = only if only else PROBE

    spark = get_spark(app_name="scale_probe_100x")
    registry = load_all()
    sf1 = build_sf1(spark)
    sf10 = build_sf10(spark)
    print(f"# derived sf1 at {sf1}, sf10 at {sf10}", file=sys.stderr)

    for name in probe:  # warm codegen/classloading at the small SF
        _force(registry[name].spark(spark, "/root/testdata/sf0.001"))

    def best_of(n, name, d):
        best = None
        for _ in range(n):
            t0 = time.perf_counter()
            _force(registry[name].spark(spark, d))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return best

    rows = []
    for name in probe:
        t1 = best_of(2, name, sf1)
        t10 = best_of(2, name, sf10)
        rows.append((name, t1, t10))
        print(f"# {name}: sf1 {t1:.2f}s sf10 {t10:.2f}s "
              f"x{t10 / max(t1, 1e-9):.1f}", file=sys.stderr)

    if only is None:
        import bench

        for name, fn in (
            ("corpus_build_e2e", bench._corpus_build_e2e),
            ("corpus_build_delta", bench._corpus_build_delta),
            ("ann_index_pipeline_e2e", bench._ann_pipeline_e2e),
        ):
            t1 = min(fn(spark, sf1) for _ in range(2))
            t10 = min(fn(spark, sf10) for _ in range(2))
            rows.append((name, t1, t10))
            print(f"# {name}: sf1 {t1:.2f}s sf10 {t10:.2f}s "
                  f"x{t10 / max(t1, 1e-9):.1f}", file=sys.stderr)

    if only is not None:
        lines = [
            "",
            "Incremental third-decade rows (same derivation, measured later",
            "for operators added after the full sweep):",
            "",
            "| query | sf1 s | sf10 s | × per 10× data |",
            "|---|---|---|---|",
        ]
        for name, a, b in rows:
            lines.append(
                f"| {name} | {a:.2f} | {b:.2f} | {b / max(a, 1e-9):.1f}× |"
            )
        lines.append("")
        dest = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "SCALING.md",
        )
        with open(dest, "a") as f:
            f.write("\n".join(lines))
        print(f"appended {len(rows)} incremental rows to {dest}")
        spark.stop()
        return

    lines = [
        "",
        "## The third decade: derived sf1 → derived sf10 (100× facts, measured)",
        "",
        "One more decade on top of the 10× table (same derivation recipe,",
        "100 key-shifted content-perturbed copies of sf0.1 — see",
        "`tools/scale_probe_100x.py`; embeddings get a per-copy sign",
        "pattern on the second rotation lap so no cross-copy exact",
        "duplicates exist). At sf10 the data term dominates everywhere,",
        "so these ratios are the real slopes: a linear plan should land",
        "near its sf0.1→sf1 ratio; compounding super-linear terms would",
        "blow past it.",
        "",
        "| query | sf1 s | sf10 s | × per 10× data |",
        "|---|---|---|---|",
    ]
    for name, a, b in rows:
        lines.append(f"| {name} | {a:.2f} | {b:.2f} | {b / max(a, 1e-9):.1f}× |")
    lines.append("")
    dest = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALING.md"
    )
    with open(dest, "a") as f:
        f.write("\n".join(lines))
    print(f"appended to {dest}")
    spark.stop()


if __name__ == "__main__":
    main()
