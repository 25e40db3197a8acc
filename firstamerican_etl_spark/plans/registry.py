"""Query registry: every operator from SURVEY.md §2 (plus the
training-data-pipeline extensions) gets a named (PySpark plan, oracle
SQL) pair here. The driver contract (/root/repo/__spark_entry__.py)
exposes this as ``queries()`` / ``oracle_sql()``.

Conventions enforced by the harness (tests/test_oracle.py):
- Column names in the Spark result and the oracle SQL match exactly
  (the driver sorts columns by name before value-hashing).
- Double-typed aggregates are wrapped in round(x, N) on BOTH sides so
  summation-order differences between engines can't flip the hash.
- Sorts that feed a LIMIT carry a unique tie-break key, so the row set
  is deterministic.
- Queries whose semantics are not ANSI-SQL-expressible (MinHash bands,
  SimHash, streaming state) register ``oracle=None`` → the driver
  records a rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str | None
    tags: tuple[str, ...] = field(default=())
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None, tags: tuple[str, ...] = (), doc: str = ""
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a (spark_fn, oracle_sql) pair under ``name``."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, spark=fn, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


# The driver's CORRECTNESS harness verifies the FIRST 50 entries of
# load_all() in dict-insertion order. This explicit priority window
# pins those 50 slots to a curated set: one proving query per
# SURVEY.md §2 operator family PLUS the LLM-data-pipeline flagships
# (dedup, deterministic sampling, multimodal, corpus prep, streaming
# batch-twin, TF-IDF) and the round-3 scale operators. Everything
# outside the window keeps full local oracle coverage in
# tests/test_oracle.py — the window only chooses which 50 get the
# driver's independent green row. tests/test_registry_window.py pins
# the window's size, existence, and ordering.
DRIVER_WINDOW: tuple[str, ...] = (
    # ------------------------------------------------------------------
    # r16 WINDOW — fifth round of the STANDING RE-PROVE ROTATION,
    # computed from the artifacts tracked through r15 (CORRECTNESS_r15,
    # commit 73ba284): exactly 5 pinned veterans + 45 rotation slots.
    #
    # Rotation policy (VERDICT r11 #4, extended r15):
    #
    #   slots  1-5   PINNED VETERANS, never rotated: the three FA
    #                anchors (the reference's own pipeline), the TPC-H
    #                aggregation flagship, and the corpus e2e — proven
    #                fresh EVERY round so the core contract can never
    #                silently drift.
    #   slots  6-50  (a) eligible NEVER-PROVEN queries first, then
    #                (b) CODE-TOUCHED since last green: any query whose
    #                registered function's same-module AST-closure
    #                fingerprint changed between its last green round's
    #                artifact commit and the latest round boundary
    #                (driver_sim.code_touched_since_green) — a
    #                rewritten query re-proves NEXT round instead of
    #                waiting for its staleness slot; then (c) the
    #                stalest PROVEN eligible queries by MOST RECENT
    #                green driver row across the GIT-TRACKED
    #                CORRECTNESS_r*.json, ties alphabetical.
    #
    # This round (a) and (b) are both empty, so all 45 rotation slots
    # are the staleness fill: the 30 eligible queries last green in
    # r10, then the first 15 (alphabetical) last green in r11.
    #
    # The r15 SimHash/MinHash numpy rewrites are NOT in this window,
    # and cannot be: the queries they changed (dedup_simhash,
    # dedup_simhash_pairs, dedup_minhash_lsh and the minhash_bands
    # helper behind it) are rows-only, and the window takes only
    # full-value-oracle queries (test_window_entries_have_oracles).
    # Their value-oracled twins (dedup_simhash_oracled,
    # dedup_minhash_lsh_oracled) are separate md5-hash plans the
    # rewrite did not touch, so the empty code-touched set is correct.
    # The numpy paths' evidence is the local bit-identity pins in
    # tests/test_scale.py and tests/test_multimodal.py.
    #
    # Regenerate per round: `python tools/driver_sim.py --rotation`
    # prints the COMPLETE 50-line tuple body (veterans included) —
    # paste it verbatim, then `--rotation-note` writes the
    # ROTATION_r{N}.json provenance artifact (VERDICT r14 #9) so the
    # driver's window diff is never read as dropped queries.
    # tests/test_registry_window.py::
    # test_window_is_veterans_plus_stalest_eligible pins the result.
    # ------------------------------------------------------------------
    # — pinned veterans (5) —
    "fa_ranked_deed",
    "fa_valhist_cascade",
    "fa_flagship_merged",
    "q1_pricing_summary",
    "corpus_clean_pipeline",
    # — oldest-first re-prove rotation (45), keyed on MOST RECENT green —
    # last green r10:
    "global_running_sum_scalable",
    "grouping_sets_agg",
    "histogram_width_bucket",
    "jaccard_prefix_filter_pairs",
    "join_null_safe",
    "key_skew_report",
    "merge_upsert_snapshot",
    "multimodal_binaryfile_ingest",
    "multimodal_featurize_knn",
    "multimodal_frame_sample",
    "multimodal_ppm_pixel_decode",
    "multimodal_resize_chain",
    "ngram_jaccard_pairs",
    "ntile_price_quartiles",
    "orc_source_roundtrip",
    "pivot_status_by_year",
    "posexplode_tokens",
    "salted_skew_agg",
    "scan_merge_schema",
    "scd2_value_intervals",
    "share_of_total_window",
    "streaming_sliding_window",
    "streaming_static_enrich",
    "text_normalize",
    "union_by_name",
    "unpivot_part_attrs",
    "url_normalize_dedup",
    "window_percent_rank",
    "window_range_frame",
    "yoy_revenue_change",
    # last green r11:
    "agg_arg_extremes",
    "array_higher_order",
    "basket_cooccurrence_pairs",
    "bpe_pair_counts",
    "chi2_lang_source",
    "cohort_retention_matrix",
    "corpus_byte_histogram",
    "corpus_snapshot_diff",
    "doc_chunk_windows",
    "dq_constraint_report",
    "drift_ks_two_sample",
    "embedding_centroid_per_label",
    "embedding_quantize_int8",
    "event_mix_gini_by_weekday",
    "ewma_truncated_k8",
)

# (The retired r8/r9 window generations and their per-slot retirement
# rationale live in git history — `git show eb35e5a:.../registry.py`
# for r9, the r8 tag for r8. Nothing imports them, so they are not
# kept as dead constants here.)


def load_all() -> dict[str, QuerySpec]:
    """Import all plan modules (side-effect: fills REGISTRY), then
    order the result so DRIVER_WINDOW occupies the first 50 slots
    (the driver's correctness harness checks exactly those); the
    remaining queries follow in module-registration order."""
    from firstamerican_etl_spark.plans import (  # noqa: F401
        core,
        fa,
        textplans,
        vectorplans,
        eventplans,
        dedupplans,
        streamingplans,
        multimodalplans,
        extplans,
        tpchplans,
        tpchplans3,
        trainplans,
        etlplans,
        funcplans,
        analyticsplans,
        timeseriesplans,
        arrayplans,
        statsplans,
        corpusplans,
        retrievalplans,
        geoplans,
        graphplans,
        webplans,
    )

    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    if missing:
        raise KeyError(f"DRIVER_WINDOW names not registered: {missing}")
    ordered = {name: REGISTRY[name] for name in DRIVER_WINDOW}
    ordered.update(
        (name, spec) for name, spec in REGISTRY.items() if name not in ordered
    )
    return ordered
