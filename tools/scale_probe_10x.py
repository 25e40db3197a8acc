"""Measure the NEXT 10× step: derive an "sf1"-scale dataset from
sf0.1 (10 deterministic key-shifted copies of the fact/corpus tables;
dimension tables shared) into a reuse-cached /tmp dir, then time the
scale-critical operators at sf0.1 vs the derived sf1 and append the
ratio table to SCALING.md.

Why this exists: at sf0.1 most queries sit on Spark's fixed per-query
floor, so the 100×-span table in SCALING.md mostly proves the floor.
One more decade puts the data term in view for the heavy operators —
the ratio that actually answers "would this survive another 10×?".

Key shifts preserve join relationships (l_orderkey tracks o_orderkey;
o_custkey is reused, so each customer simply has 10× orders — the
realistic direction of growth) and determinism (pure arithmetic on
ids; md5-hash sampling predicates stay well-distributed).

    python tools/scale_probe_10x.py          # appends to SCALING.md
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

SRC = "/root/testdata/sf0.1"
COPIES = 10
_SHIFT = 10_000_000

#: (table, shifted id columns) — fact/corpus tables replicated with
#: key shifts; everything else is shared via copy.
SCALED = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],  # tracks the orders shift
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id"],
}

PROBE = [
    "fa_flagship_merged",
    "q1_pricing_summary",
    "q21_waiting_orders",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "boilerplate_segment_dedup",
    "corpus_pack_contiguous",
    "global_row_index_scalable",
    "quantile_bins_scalable",
    "pagerank_trade_graph",
    "tfidf_top_terms",
    "bm25_topk_retrieval",
    "contamination_ngram_overlap",
    "cosine_topk_bruteforce",
    "semdedup_cluster_prune",
    "semdedup_cluster_prune_sqrtk",
    "dsir_importance_weights",
    "duplicate_span_report",
    "heavy_hitters_cms",
    "jaccard_prefix_filter_pairs",
    "ngram_jaccard_pairs",
    "minhash_lsh_recall_eval",
    "leakage_safe_split_assign",
    # r6 additions: the sweep twin, the span REMEDIATION pass, and the
    # remaining rotated-in window newcomers with data-sized plans
    "semdedup_threshold_sweep",
    "duplicate_span_cut",
    "dedup_survivorship_report",
    "corpus_drift_psi",
    "vocab_oov_rate",
    # r6 second batch: new dedup granularities, the backbone triangle
    # pass, analytics/stats newcomers with data-sized plans
    "doc_containment_pairs",
    "cdc_chunk_dedup",
    "graph_triangle_count",
    "kcore_peel_unrolled",
    "lpa_communities_unrolled",
    "markov_event_transitions",
    "cohort_retention_matrix",
    "pearson_correlation_matrix",
    "salted_skew_join",
    "zipf_rank_frequency",
    "token_budget_sample",
    # r6 third batch: robust stats + entropy gate + the two-phase
    # distinct recipe, all data-sized
    "rolling_7d_median_value",
    "mad_outlier_zscores",
    "char_entropy_quality",
    "count_distinct_two_phase",
    "matryoshka_truncation_recall",
    "bpe_train_unrolled",
    # r7: the skiplist rolling-median twin (vs the 2.4× window row
    # above it), degree-oriented triangles at both backbone caps, and
    # the LSH-bucketed multimodal kNN
    "rolling_7d_median_bucketed",
    "graph_triangle_count_degree",
    "graph_triangle_degree_50k",
    "multimodal_knn_bucketed",
    # r7 batch 2: data-sized newcomers (bootstrap = 64 partial sums on
    # one exchange; gapfill = calendar explode + ffill window; rfm =
    # per-user collapse + 3 rank probes; trigram = per-user window +
    # count; weighted sampling = pure projection + TakeOrdered)
    "bootstrap_mean_ci_poisson",
    "timeseries_gapfill_ffill",
    "rfm_user_segments",
    "event_path_trigrams",
    "sample_weighted_maxhash",
    "winsorized_robust_mean",
    "pmi_collocations",
    # r8 additions with real data terms (geo_point_in_polygon_join
    # moved to POINT_PROBE in r10 — the main derivation does not scale
    # its point side, so its row here was vacuous; VERDICT r9 #4)
    "jaccard_df_capped_pairs",
    "epoch_shuffle_shards",
    "ndcg_at_k_eval",
    # r9 additions (dedup_image_dhash_pairs is the contrast row —
    # measured 11.1x at the third decade, kept for the anti-pattern
    # table; the distinct twin is the production path)
    "dedup_image_dhash_pairs",
    "dedup_image_dhash_distinct",
    "url_normalize_dedup",
    "domain_registrable_profile",
    # r10 probe-coverage closure (VERDICT r9 #5): the two custom
    # source/sink roundtrips (fixture build is paid on the first call;
    # min-of-2 measures the steady-state scan/write) and the sessionized
    # burst dedup
    "fazip_source_roundtrip",
    "jsonlgz_sink_roundtrip",
    "events_burst_dedup",
]

#: Queries whose DATA side is the `customer`-derived point set. The
#: main derivation deliberately does NOT scale customer (o_custkey is
#: reused so each customer gets 10x orders — the realistic direction
#: for the TPC-H joins), which made these rows vacuous: the geo family
#: scans only points + broadcast polygon/grid metadata, so nothing
#: grew. They are measured against build_sf1_points() instead
#: (customer 10x key-shifted, everything else shared) and reported in
#: their own sub-table (VERDICT r9 #4).
POINT_PROBE = [
    "geo_point_in_polygon_join",
    "geo_haversine_knn",
    "geo_knn_grid_bucketed",
    "geo_morton_bucket",
]

#: End-to-end pipelines (not registry entries): (label, callable(spark,
#: sf_dir) -> seconds). The fa pipeline is parameterized by scale
#: factor (it generates its own raw zips), the corpus builds by table
#: dir — both time ONLY the pipeline, not input generation.
def _e2e_probes():
    import bench

    def fa(spark, d):
        sf = 1.0 if "sf1" in os.path.basename(d) else 0.1
        return bench._fa_pipeline_e2e(spark, sf, partition_staging_by_fips=True)

    def corpus_full(spark, d):
        return bench._corpus_build_e2e(spark, d)

    def corpus_delta(spark, d):
        return bench._corpus_build_delta(spark, d)

    def ann(spark, d):
        return bench._ann_pipeline_e2e(spark, d)

    return [
        ("fa_pipeline_e2e", fa),
        ("corpus_build_e2e", corpus_full),
        ("corpus_build_delta", corpus_delta),
        ("ann_index_pipeline_e2e", ann),
    ]


def build_sf1(spark) -> str:
    # cache key = source content tag + derivation version (v2: per-copy
    # content perturbation so clones are not mutual near-duplicates)
    out = os.path.join("/tmp", f"fa_sf1_derived_v2_{staging_tag(SRC, 'lineitem')}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        src = spark.read.parquet(os.path.join(SRC, f"{t}.parquet"))
        if t in SCALED:
            cols = [c for c in SCALED[t] if c in src.columns]
            parts = []
            for k in range(COPIES):
                d = src
                for c in cols:
                    d = d.withColumn(c, F.col(c) + F.lit(k * _SHIFT))
                # Perturb CONTENT per copy, not just keys: verbatim
                # clones would be mutual near-duplicates, inflating
                # dedup/ANN candidate counts ~45 pairs per group — the
                # probe would read super-linear for data-construction
                # reasons, the exact false flag it exists to catch.
                if t == "documents" and k > 0:
                    # suffix every word with the copy index: copies
                    # share ZERO shingles with the original, so MinHash/
                    # SimHash/Jaccard see no cross-copy similarity;
                    # within-copy duplicate relations are preserved
                    # (same rewrite applied to all rows of the copy)
                    # and per-doc word counts are unchanged.
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
                    # rotate coordinates by k positions per copy: norms
                    # and within-copy geometry are EXACTLY preserved
                    # (it's a permutation), value ranges unchanged (no
                    # overflow risk in the int-quantized kernels), and
                    # cross-copy cosine decorrelates to ~0 for random
                    # vectors — so cosine/LSH/IVF candidate counts
                    # scale with data, not with copy multiplicity
                    d = d.withColumn(
                        "embedding",
                        F.concat(
                            F.slice(F.col("embedding"), k + 1, 64 - k),
                            F.slice(F.col("embedding"), 1, k),
                        ),
                    )
                parts.append(d)
            big = parts[0]
            for p in parts[1:]:
                big = big.unionByName(p)
            big.write.mode("overwrite").parquet(os.path.join(out, f"{t}.parquet"))
        else:
            src.write.mode("overwrite").parquet(os.path.join(out, f"{t}.parquet"))
    open(os.path.join(out, "_DONE"), "w").close()
    return out


#: Per-copy key shift for the POINT derivation. NOT the fact-table
#: _SHIFT: the geo family derives coordinates as
#: (c_custkey*104729 % 36000, c_custkey*7919 % 18000), and a shift of
#: 10,000,000 makes the per-copy coordinate offsets cycle with period
#: NINE (k*10M*104729 % 36000 repeats every 9 copies — verified
#: numerically), so copies 9..99 would duplicate earlier point layouts
#: and distinct-coordinate work would saturate at 9x: exactly the
#: construction artifact this probe exists to avoid. 10,000,001 is
#: coprime to 2/3/5 (the moduli's only prime factors) and both
#: multipliers are primes > the moduli, so all 100 copies land on
#: distinct, well-distributed offsets (also verified numerically in
#: tests/test_probe_coverage.py).
_PT_SHIFT = 10_000_001


def build_points_scaled(spark, sf1: str, copies: int) -> str:
    """Point-scaling variant of the derivation: CUSTOMER is replicated
    ``copies``x with key shifts (every derived c_custkey yields a
    distinct, well-distributed synthetic point — the geo family's
    coordinates are pure arithmetic on the key; see _PT_SHIFT); every
    other table is shared with the main sf1 derivation via symlink.
    Used only for POINT_PROBE — the TPC-H join probes keep the main
    derivation's deliberate choice of NOT scaling dimensions. customer
    is tiny (~15k rows at sf0.1), so 10x points stays under the
    per-query floor; the 100x variant is what actually exposes the
    per-point data term."""
    out = os.path.join(
        "/tmp", f"fa_pts{copies}_derived_v2_{staging_tag(SRC, 'customer')}"
    )
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    src = spark.read.parquet(os.path.join(SRC, "customer.parquet"))
    writer_mode = "overwrite"
    for base in range(0, copies, 10):  # batches of 10 bound plan size
        parts = [
            src.withColumn("c_custkey", F.col("c_custkey") + F.lit(k * _PT_SHIFT))
            for k in range(base, min(base + 10, copies))
        ]
        big = parts[0]
        for p in parts[1:]:
            big = big.unionByName(p)
        big.write.mode(writer_mode).parquet(os.path.join(out, "customer.parquet"))
        writer_mode = "append"
    for t in [t for t in TABLES if t != "customer"]:
        os.symlink(
            os.path.join(sf1, f"{t}.parquet"), os.path.join(out, f"{t}.parquet")
        )
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def _force(df) -> None:
    cols = [F.col(c) for c in df.columns]
    df.select(F.sum(F.xxhash64(*[c.cast("string") for c in cols])).alias("h")).collect()


def main() -> None:
    # --only a,b: measure just those names and append an incremental
    # sub-table (keeps the hand-annotated full table intact; used when
    # a round adds operators without re-running the full sweep).
    # --points: measure POINT_PROBE against the point-scaled derivation
    # and append its sub-table.
    only: list[str] | None = None
    points_only = "--points" in sys.argv
    if len(sys.argv) >= 3 and sys.argv[1] == "--only":
        only = [s for s in sys.argv[2].split(",") if s]
        # the main derivation does not scale the point side — measuring
        # a geo/PIP query against it silently re-creates the vacuous
        # rows r10 removed (VERDICT r9 #4)
        bad = [n for n in only if n in POINT_PROBE]
        if bad:
            sys.exit(
                f"--only {','.join(bad)}: point-side queries must be "
                "measured with --points (customer-scaling derivation), "
                "not the main sf1 derivation"
            )

    spark = get_spark(app_name="scale_probe_10x")
    registry = load_all()
    sf1 = build_sf1(spark)
    print(f"# derived sf1 at {sf1}", file=sys.stderr)

    probe = only if only else ([] if points_only else PROBE)

    # warm every probe at the small SF so codegen/classloading is paid
    for name in probe + (POINT_PROBE if points_only or not only else []):
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
        # min-of-2, like bench.py: a single sample absorbs whatever GC/
        # JIT/host noise hits that second; the min is the plan cost
        t_small = best_of(2, name, SRC)
        t_big = best_of(2, name, sf1)
        rows.append((name, t_small, t_big))
        print(f"# {name}: sf0.1 {t_small:.2f}s sf1 {t_big:.2f}s "
              f"x{t_big / max(t_small, 1e-9):.1f}", file=sys.stderr)

    if only is None and not points_only:
        # e2e pipelines: min-of-2 like the registry rows (each sample
        # regenerates its inputs untimed, so the resume skip never fires)
        for name, fn in _e2e_probes():
            t_small = min(fn(spark, SRC) for _ in range(2))
            t_big = min(fn(spark, sf1) for _ in range(2))
            rows.append((name, t_small, t_big))
            print(f"# {name}: sf0.1 {t_small:.2f}s sf1 {t_big:.2f}s "
                  f"x{t_big / max(t_small, 1e-9):.1f}", file=sys.stderr)

    # the point-scaled sub-table rides the full sweep and --points
    pt_rows = []
    if only is None:
        pts10 = build_points_scaled(spark, sf1, 10)
        pts100 = build_points_scaled(spark, sf1, 100)
        print(f"# derived point sets at {pts10}, {pts100}", file=sys.stderr)
        for name in POINT_PROBE:
            t_small = best_of(2, name, SRC)
            t_10 = best_of(2, name, pts10)
            t_100 = best_of(2, name, pts100)
            pt_rows.append((name, t_small, t_10, t_100))
            print(
                f"# {name}: sf0.1 {t_small:.2f}s 10xpts {t_10:.2f}s "
                f"100xpts {t_100:.2f}s x{t_100 / max(t_small, 1e-9):.1f}/2dec",
                file=sys.stderr,
            )

    def table(rws):
        out = ["| query | sf0.1 s | sf1 s | × per 10× data |", "|---|---|---|---|"]
        for name, a, b in rws:
            out.append(f"| {name} | {a:.2f} | {b:.2f} | {b / max(a, 1e-9):.1f}× |")
        return out

    lines: list[str] = []
    if rows and only is not None:
        lines += [
            "",
            "Incremental next-decade rows (same derivation, measured later",
            "for operators added after the full sweep):",
            "",
            *table(rows),
        ]
    elif rows:
        lines += [
            "",
            "## The next decade: sf0.1 → derived sf1 (10× facts, measured)",
            "",
            "Derived sf1 = 10 key-shifted copies of the sf0.1 fact/corpus",
            "tables (join relationships preserved, dimensions shared;",
            "document text and embeddings are perturbed per copy so clones",
            "are NOT mutual near-duplicates — dedup/ANN ratios measure",
            "data growth, not construction artifacts) — see",
            "`tools/scale_probe_10x.py`. At this size the data term clears",
            "Spark's fixed per-query floor for the heavy operators, so the",
            "ratio is a real slope, not floor noise. 10× data on the same",
            "32 cores: linear-work plans should land well under 10× wall",
            "(the floor amortizes); super-10× ratios would flag a",
            "super-linear stage (the thing the plan shapes are designed to",
            "prevent).",
            "",
            *table(rows),
        ]
    if pt_rows:
        lines += [
            "",
            "### Point-scaled decades: the geo family vs 10×/100× points",
            "",
            "The main derivation reuses `customer` (each customer gets 10×",
            "orders — the realistic TPC-H growth direction), which left the",
            "geo family's point side unscaled and its probe row vacuous",
            "(VERDICT r9 #4). These rows measure sf0.1 → point-scaled",
            "derivations (`build_points_scaled`: customer 10× and 100×",
            "key-shifted, all other tables shared), so the ratios are real",
            "slopes over the point count — the geo family's only data term",
            "(polygons/grid cells are broadcast metadata). customer is tiny",
            "(~15k rows at sf0.1): the 10× step stays under the per-query",
            "floor by design; the 100× column (~1.5M points) is where the",
            "per-point work must show, and a plan with any super-linear",
            "stage would blow past the two-decade budget.",
            "",
            "| query | sf0.1 s | 10× pts s | 100× pts s | × per 2 decades |",
            "|---|---|---|---|---|",
            *[
                f"| {n} | {a:.2f} | {b:.2f} | {c:.2f} |"
                f" {c / max(a, 1e-9):.1f}× |"
                for n, a, b, c in pt_rows
            ],
        ]
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
