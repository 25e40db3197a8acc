"""End-to-end training-corpus build — the LLM-data twin of the FA ETL
pipeline (``pipeline/run.py``): raw documents in, training-ready
splits out, as ONE composed Spark job.

Stages (every step a documented operator elsewhere in the repo — this
module only composes them):

1. normalize      — whitespace-collapse + lowercase (dedupplans._NORM)
2. exact dedup    — md5(normalized) fingerprint, keep min doc_id
3. near dedup     — MinHash+LSH candidate pairs
                    (dedupplans.minhash_lsh_pairs) → connected
                    components (operators/graph.py) → keep the min
                    doc_id of each near-dup cluster
4. quality gate   — Gopher-style bounds: token count, char length,
                    alphabetic-token fraction
5. PII redaction  — email/URL placeholder substitution
                    (textplans.redact_pii, the oracled text_redact_pii
                    query's expression)
6. sequence pack  — distributed prefix-sum over token counts
                    (operators/scale.global_running_sum), bin id =
                    floor(token_offset / budget)
7. split assign   — deterministic md5 hash-range 90/5/5
                    train/val/test (trainplans.split_col), reproducible
                    under any partitioning/retry
8. write          — parquet partitioned by split (train readers scan
                    only their split's files)

Scale shape: stages 1-5 and 7 are pure map work over one scan (the
dedup anti-joins are against fingerprint/label frames that are
|survivors|-sized); the only heavyweight exchanges are the LSH band
groupBy, the prefix-sum's single hash-clustered exchange, and the
final partitioned write. Nothing collects to the driver except the
prefix-sum's per-shard totals (metadata-sized).
"""

from __future__ import annotations

import glob
import logging
import os
import time
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from firstamerican_etl_spark.operators.graph import connected_components
from firstamerican_etl_spark.operators.scale import (
    concurrent_actions,
    global_running_sum,
)
from firstamerican_etl_spark.plans.dedupplans import (
    _NORM,
    MINHASH_SCHEME_VERSION,
    minhash_bands,
    minhash_lsh_pairs_from_bands,
    span_cut_clean,
)
from firstamerican_etl_spark.plans.textplans import redact_pii
from firstamerican_etl_spark.plans.trainplans import dsir_logweights, split_col
from firstamerican_etl_spark.sources.io import replace_dir

log = logging.getLogger("corpus_build")

#: Index-sidecar layouts, fixed by the writers in this module. Reads
#: declare them: the scheme stamp already fail-louds a cross-version
#: index, and schema inference only added one footer-read driver job
#: per read (r15, measured in the job trace).
_FP_SCHEMA = "_fp string, doc_id bigint"
_BANDS_SCHEMA = "doc_id bigint, band_id int, band_hash bigint"


def _index_dir(out_dir: str) -> str:
    # under the corpus dir but underscore-prefixed: Spark/Hadoop
    # readers treat _-prefixed paths as hidden metadata, so reading
    # the corpus parquet/jsonl never picks the index up
    return os.path.join(out_dir, "_index")


def _write_scheme_stamp(spark: SparkSession, idx: str) -> None:
    """Persist the MinHash signature-scheme version next to the band
    sidecar. The r7 permutation fix (outer pmod) changed every band
    hash, which would make a delta against a pre-fix index silently
    miss ALL cross-batch near-dups — the stamp turns that silent
    contamination into a loud contract failure (ADVICE r7)."""
    from firstamerican_etl_spark.sources.io import local_df

    local_df(
        spark, [(int(MINHASH_SCHEME_VERSION),)], "minhash_scheme_version INT"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(idx, "scheme"))


def _check_scheme_stamp(spark: SparkSession, idx: str) -> None:
    """Fail loudly if the persisted index's signature scheme differs
    from (or predates) the one this code computes — mixing schemes in
    the (band_id, band_hash) join yields zero cross-batch candidates
    with no error, exactly the contamination the delta contract
    exists to prevent. Recovery is always a full rebuild."""
    path = os.path.join(idx, "scheme")
    try:
        # explicit one-column schema: without it the read runs a
        # footer-inference job before the collect — two driver round
        # trips for a one-row stamp (r15, guide §2.6 job floors)
        rows = spark.read.schema("minhash_scheme_version int").parquet(
            path
        ).collect()
        got = int(rows[0]["minhash_scheme_version"]) if rows else None
    except FileNotFoundError:
        got = None  # stamp genuinely absent -> pre-versioning index
    except AnalysisException as e:
        # ONLY path-missing means "unstamped"; any other analysis
        # failure (UNABLE_TO_INFER_SCHEMA from a mid-write dir, access
        # errors) is a transient/operational fault that must propagate
        # rather than masquerade as "needs full rebuild"
        if "PATH_NOT_FOUND" not in (
            (e.getErrorClass() or "") + str(e)
        ):
            raise
        got = None
    if got != MINHASH_SCHEME_VERSION:
        raise ValueError(
            f"dedup index at {idx} carries MinHash signature scheme "
            f"{got if got is not None else '<unstamped/pre-versioning>'} "
            f"but this build computes scheme {MINHASH_SCHEME_VERSION}; "
            "band hashes are incompatible and cross-batch near-dups "
            "would be silently missed — run a FULL rebuild "
            "(build_corpus) to refresh the corpus and its index"
        )


@dataclass(frozen=True)
class CorpusBuildStats:
    n_raw: int
    n_after_exact: int
    n_after_near: int
    n_after_quality: int
    n_bins: int
    n_train: int
    n_val: int
    n_test: int
    seconds: float
    #: delta mode only: components where a NEW doc LSH-bridged >=2
    #: previously-disconnected indexed survivors — the case where
    #: append-only delta output diverges from a full rebuild (the
    #: rebuild would drop the larger-id old doc; the delta cannot
    #: remove already-written docs). Nonzero means a compaction pass
    #: is owed; the bridged labels are recorded in the index sidecar.
    #: LOWER BOUND: bridges mediated purely by intra-index edges
    #: through a build-time loser are invisible to the delta graph —
    #: compact_corpus(force=True) resolves those from the full band
    #: graph on a schedule.
    n_bridged_components: int = 0


# Stage helpers shared by build_corpus and build_corpus_delta: the delta
# runs the same cascade on a new batch, so each stage has one copy.


def _counted_checkpoint(df: DataFrame, name: str) -> tuple[DataFrame, int]:
    """Materialize ``df`` (eager localCheckpoint) and return it with its
    row count. The count is an OBSERVED METRIC fired by the checkpoint
    action itself, not a dedicated count() job."""
    obs = Observation(name)
    df = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return df, int(obs.get["n"])


def _keep_min_per_fp(normed: DataFrame, name: str) -> tuple[DataFrame, int]:
    """Exact dedup: keep the min doc_id per ``_fp`` fingerprint.

    _fp RIDES THE CHECKPOINT: the index sidecar needs (fp, keeper)
    rows, and deriving them from the un-checkpointed keep-min frame
    would re-run normalize+md5+groupBy over the RAW input, one full
    extra scan just to persist a narrow table. Survivor rows are one
    per fingerprint, so select(_fp, doc_id) of the result IS the
    keep-min frame."""
    keep = normed.groupBy("_fp").agg(F.min("doc_id").alias("doc_id"))
    return _counted_checkpoint(normed.join(keep, ["_fp", "doc_id"]), name)


def _near_losers(labels: DataFrame) -> DataFrame:
    """Docs whose component label is not their own id: redundant
    near-dups under the keep-the-min rule."""
    return labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )


def _drop_near_losers(
    exact: DataFrame, labels: DataFrame, name: str
) -> tuple[DataFrame, int]:
    """Near dedup: anti-join the component losers out of ``exact``.

    The near-survivor checkpoint STAYS (r14 note): an elision variant
    (observation riding the prefix-sum staging write) was measured
    slightly SLOWER at sf0.1 (build min 4.49 → 4.84 s in-process,
    confirmed by a bench --only A/B) — the saved materialization pass
    did not pay for the wider staging-write plan."""
    return _counted_checkpoint(
        exact.join(_near_losers(labels), "doc_id", "left_anti"), name
    )


def _quality_gate(
    df: DataFrame, min_tokens: int, max_chars: int, min_alpha_frac: float
) -> DataFrame:
    """Gopher-style bounds, all scan-side expressions: token count,
    char length, alphabetic-token fraction."""
    toks = F.split(F.col("text"), " ", -1)
    alpha_frac = (
        F.size(F.filter(toks, lambda w: w.rlike("^[A-Za-z]+$")))
        / F.greatest(F.size(toks), F.lit(1))
    )
    return df.filter(
        (F.size(toks) >= min_tokens)
        & (F.length("text") <= max_chars)
        & (alpha_frac >= min_alpha_frac)
    )


def _pack_and_split(df: DataFrame, token_budget: int) -> DataFrame:
    """Sequence packing via the distributed prefix sum (bin id =
    floor(token_offset / budget)), then the deterministic 90/5/5
    hash-range split of trainplans.split_col."""
    with_tok = df.withColumn("n_tokens", F.size(F.split("text", " ", -1)))
    return (
        global_running_sum(with_tok, "doc_id", "n_tokens", out_col="_run_tok")
        .withColumn(
            "bin_id",
            F.floor((F.col("_run_tok") - F.col("n_tokens")) / float(token_budget)),
        )
        .drop("_run_tok")
        .withColumn("split", split_col(F.col("doc_id")))
    )


def _split_counts() -> list:
    """Per-split row sums, observed on the corpus write action (no
    re-read of the output for counts)."""
    return [
        F.sum(F.when(F.col("split") == s, 1).otherwise(0)).alias(f"n_{s}")
        for s in ("train", "val", "test")
    ]


def build_corpus(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    token_budget: int = 256,
    min_tokens: int = 10,
    max_chars: int = 5000,
    min_alpha_frac: float = 0.5,
    output_format: str = "parquet",
    weight_target_lang: str | None = None,
    span_cut: bool = False,
    write_index: bool = True,
) -> CorpusBuildStats:
    """Run the full build over ``docs`` (doc_id, text, ...) and write
    train/val/test output under ``out_dir`` partitioned by split.
    ``output_format``: ``parquet`` (default — columnar, predicate
    pushdown for downstream analytics) or ``jsonl`` (gzipped
    line-delimited JSON, the interchange format LLM training loaders
    consume directly). Returns per-stage survivor counts (the counts
    run the lazy plan stage-by-stage; the final write re-uses the
    composed plan)."""
    if output_format not in ("parquet", "jsonl"):
        raise ValueError(f"unsupported output_format: {output_format!r}")
    t0 = time.perf_counter()

    # Diagnostic counts ride along as OBSERVED METRICS
    # (CollectMetrics nodes) on actions the pipeline already runs,
    # instead of dedicated count() passes. At 100 TB the difference is
    # material: counting the raw input was a full extra scan of the
    # corpus, and the split counts were a full re-read of the written
    # output. An observation is computed by the tasks that execute the
    # plan anyway and ships one aggregated row to the driver.
    obs_raw = Observation("corpus_raw")
    obs_quality = Observation("corpus_quality")
    obs_split = Observation("corpus_split")

    # 1+2: normalize + exact dedup (keep the min doc_id per fingerprint).
    # localCheckpoint truncates lineage at each survivor frame: the
    # per-stage diagnostic counts AND the downstream consumers (LSH
    # signature mining, the final write) each reuse the materialized
    # stage instead of re-running normalize/fingerprint/anti-join per
    # action — without it the write re-executes the whole upstream
    # three more times. The eager checkpoint is also the action that
    # fires the raw-count observation.
    normed = docs.observe(obs_raw, F.count(F.lit(1)).alias("n")).withColumn(
        "_fp", F.md5(_NORM(F.col("text")))
    )
    exact_fp, n_after_exact = _keep_min_per_fp(normed, "corpus_exact")
    exact = exact_fp.drop("_fp")

    # 3: near-dup clustering on the exact survivors; a doc whose
    # component label differs from its own id is a redundant near-dup.
    # Bands are checkpointed because TWO consumers read them — the
    # pair expansion here and the index sidecar write below — and the
    # MinHash signature pipeline is the expensive part; one
    # materialization, |docs|·8 narrow rows.
    bands = minhash_bands(exact).localCheckpoint(eager=True)
    pairs = minhash_lsh_pairs_from_bands(bands).select("doc_a", "doc_b")
    near, n_after_near = _drop_near_losers(
        exact, connected_components(pairs), "corpus_near"
    )

    # 3.5 (optional): duplicate-SPAN removal (arXiv:2107.06499 §3.1) on
    # the whole-doc survivors — excises duplicated 8-token runs that
    # whole-doc dedup can't touch, keeping one canonical occurrence
    # corpus-wide (see plans/dedupplans.span_cut_clean). The checkpoint
    # above means the marking pass runs over the materialized
    # survivors, not the re-derived dedup cascade; docs cut down below
    # min_tokens fall to the quality gate next.
    if span_cut:
        cleaned = span_cut_clean(near).select(
            "doc_id", F.col("text_clean").alias("_text_clean")
        )
        near = (
            near.join(cleaned, "doc_id")
            .withColumn("text", F.col("_text_clean"))
            .drop("_text_clean")
            .localCheckpoint(eager=True)
        )

    # 4+5: quality gate, then PII redaction (placeholder substitution,
    # pure map). The quality count fires on the prefix-sum's staging
    # write below — no dedicated pass over the survivors.
    redacted = (
        _quality_gate(near, min_tokens, max_chars, min_alpha_frac)
        .observe(obs_quality, F.count(F.lit(1)).alias("n"))
        .withColumn("text", redact_pii(F.col("text")))
    )

    # 5.5 (optional): DSIR importance weights against a target-language
    # slice (arXiv:2302.03169) — annotates every survivor with its
    # hashed-bigram logweight so the training loader can importance-
    # sample the mix. Pure doc-keyed join; the distribution frames are
    # ≤256 rows (see plans/trainplans.dsir_logweights). Docs without
    # bigram evidence (<2 words) weight 0.
    if weight_target_lang is not None:
        if "lang" not in redacted.columns:
            raise ValueError(
                "weight_target_lang requires a 'lang' column on the input docs"
            )
        weights = dsir_logweights(redacted, target_lang=weight_target_lang).select(
            "doc_id", "logweight_scaled"
        )
        redacted = redacted.join(weights, "doc_id", "left").withColumn(
            "logweight_scaled",
            F.coalesce(F.col("logweight_scaled"), F.lit(0).cast("long")),
        )

    # 6+7: sequence packing + split assign; 8: write partitioned by
    # split (train readers scan only their split's files), the write
    # action firing the per-split observed sums
    observed = _pack_and_split(redacted, token_budget).observe(
        obs_split, *_split_counts()
    )
    writer = observed.write.mode("overwrite").partitionBy("split")
    if output_format == "jsonl":
        writer.option("compression", "gzip").json(out_dir)
        # explicit one-column schema: schema INFERENCE over gzipped
        # json would decompress-scan the whole corpus once before the
        # distinct count re-reads it (json has no column pruning, but
        # skipping the inference pass halves the post-write cost)
        out = spark.read.schema("bin_id BIGINT").json(out_dir)
    else:
        writer.parquet(out_dir)
        # explicit schema: a gate configuration that drops EVERY doc
        # writes only _SUCCESS, and schema inference over zero data
        # files raises UNABLE_TO_INFER_SCHEMA instead of returning
        # zero-count stats (r10 review); the jsonl branch above was
        # already immune for the same reason
        out = spark.read.schema(observed.schema).parquet(out_dir)
    # Dedup INDEX sidecar — what an incremental refresh (delta mode,
    # build_corpus_delta) dedups new batches against WITHOUT re-reading
    # the corpus text: the (fingerprint, keeper) table of every
    # distinct normalized fingerprint, and the LSH band rows of every
    # EXACT survivor (near-dup losers included — the delta's cross-
    # batch candidate graph must see the same nodes the full rebuild's
    # intra-corpus graph does, or transitive chains through dropped
    # docs get lost). Written AFTER the corpus (the overwrite above
    # would clobber it); both frames are narrow (2-3 int/str columns).
    # Tail sinks run on CONCURRENT driver threads (r14, guide §2.6):
    # the two index-sidecar writes read already-checkpointed frames,
    # the scheme stamp is a one-row write, and the n_bins count reads
    # the just-written output — four independent jobs that were four
    # serial job floors. They all must START after the corpus write
    # above (overwrite would clobber _index inside out_dir), but
    # nothing orders them against each other.
    # (n_bins needs a DISTINCT count, which observed metrics disallow —
    # a column-pruned scan of just the written bin_id column is the
    # remaining read.)
    sinks = []
    if write_index:
        idx = _index_dir(out_dir)
        sinks = [
            lambda: exact_fp.select("_fp", "doc_id")
            .write.mode("overwrite")
            .parquet(os.path.join(idx, "fingerprints")),
            lambda: bands.write.mode("overwrite").parquet(os.path.join(idx, "bands")),
            lambda: _write_scheme_stamp(spark, idx),
        ]
    *_, n_bins = concurrent_actions(
        *sinks, lambda: out.select("bin_id").distinct().count()
    )
    split_row = obs_split.get
    return CorpusBuildStats(
        n_raw=int(obs_raw.get["n"]),
        n_after_exact=n_after_exact,
        n_after_near=n_after_near,
        n_after_quality=int(obs_quality.get["n"]),
        n_bins=n_bins,
        n_train=int(split_row["n_train"] or 0),
        n_val=int(split_row["n_val"] or 0),
        n_test=int(split_row["n_test"] or 0),
        seconds=time.perf_counter() - t0,
    )


def build_corpus_delta(
    spark: SparkSession,
    new_docs: DataFrame,
    out_dir: str,
    token_budget: int = 256,
    min_tokens: int = 10,
    max_chars: int = 5000,
    min_alpha_frac: float = 0.5,
) -> CorpusBuildStats:
    """Incremental corpus refresh: flow a NEW batch of documents
    through the same dedup → quality → redact → pack → split cascade
    WITHOUT recomputing the existing corpus — new docs dedup against
    the index sidecar a prior ``build_corpus`` (or delta) run wrote,
    and survivors are APPENDED to ``out_dir``.

    Full-rebuild equivalence (asserted by test_corpus_build): with
    monotone doc_ids (every new id > every indexed id — the natural
    ingest contract), delta-run survivors equal a from-scratch rebuild
    over old ∪ new:

    - exact: a new doc whose normalized fingerprint exists in the
      index is the non-min member of its fp group in the rebuild —
      dropped; within-batch groups keep their min.
    - near: the candidate graph of the rebuild restricted to edges
      touching the new batch = within-batch LSH pairs (minhash_lsh_
      pairs on the batch) ∪ cross pairs (batch bands ⋈ indexed bands
      on (band_id, band_hash) — the indexed bands cover ALL exact
      survivors, near-dup losers included, so transitive chains
      through previously-dropped docs are preserved). Connected
      components over that union: a new doc whose component label is
      not itself (an indexed id, or a smaller batch id) is dropped —
      exactly the rebuild's keep-the-min rule.
    - quality/redaction/split are per-doc and batch-local by nature.
    - packing is order-dependent corpus state, so delta packs the new
      survivors into FRESH bins numbered after the existing max —
      bin_ids are the one field a rebuild would assign differently.

    KNOWN DIVERGENCE (audited, not silent): if a new doc LSH-bridges
    two previously-DISCONNECTED indexed components, a rebuild would
    merge them and drop the larger-id old survivor — append-only
    delta cannot remove already-written docs. The delta detects this
    (components whose label set holds >=2 indexed ids), logs a
    warning, reports ``n_bridged_components`` in the stats, and
    records the bridged labels under ``_index/bridged_components``
    for a compaction pass. Zero bridged components ⇒ full rebuild
    equivalence holds exactly.

    Corpus-global stages (span_cut, DSIR weights) are rebuild-only by
    construction and not offered here. The index sidecar is extended
    with the batch's exact survivors so later deltas compose.

    Scale shape: nothing re-reads the existing corpus TEXT — the delta
    touches only the narrow index frames (|distinct fps| +
    8·|survivors| band rows) and the new batch. The cross-pair join
    keys on (band_id, band_hash) with no broadcast assumption; at
    steady state the index side is corpus-sized, the batch side
    small — exactly the asymmetric join AQE handles.
    """
    idx = _index_dir(out_dir)
    fp_path = os.path.join(idx, "fingerprints")
    bands_path = os.path.join(idx, "bands")
    t0 = time.perf_counter()
    # delta appends are parquet-only; against a jsonl-built corpus the
    # parquet reader would fail opaquely (or worse, the append would
    # leave a mixed-format corpus) — fail as a contract violation
    if glob.glob(os.path.join(out_dir, "**", "*.json*"), recursive=True):
        raise ValueError(
            f"existing corpus at {out_dir} was built with "
            "output_format='jsonl'; delta mode appends parquet only — "
            "rebuild full with parquet output (or refresh full in jsonl)"
        )
    _check_scheme_stamp(spark, idx)
    idx_fp = spark.read.schema(_FP_SCHEMA).parquet(fp_path)
    idx_bands = spark.read.schema(_BANDS_SCHEMA).parquet(bands_path)

    # The delta is ACTION-FLOOR-bound at small batch sizes (~14 fixed
    # driver round-trips; SCALING.md's crossover note) — so actions
    # with no mutual dependency run on concurrent driver threads (the
    # same lever that cut the FA pipeline's floor in half; Spark job
    # submission is thread-safe). Three independent preflight
    # aggregates launch together: index max id, batch min+count (one
    # fused scan), existing-corpus max bin_id.
    # (a zero-doc existing corpus — only _SUCCESS on disk — would fail
    # schema inference here; acceptable fail-loud for now, since a
    # delta against an empty corpus has nothing to dedup against and
    # the full build's post-write read is the guarded path)
    existing = spark.read.parquet(out_dir)
    max_indexed, pre, max_bin = concurrent_actions(
        lambda: idx_fp.agg(F.max("doc_id").alias("m")).first()["m"],
        lambda: new_docs.agg(
            F.min("doc_id").alias("m"), F.count(F.lit(1)).alias("n")
        ).first(),
        lambda: existing.agg(F.max("bin_id").alias("m")).first()["m"],
    )
    # None-check, not truthiness: an existing corpus whose packing
    # fit everything into bin 0 has max(bin_id) == 0, which `or`
    # would treat as "no bins" and collide the delta's bins with it
    bin_base = (max_bin if max_bin is not None else -1) + 1
    min_new, n_raw = pre["m"], int(pre["n"])
    # the equivalence contract above needs monotone ids; a violation
    # would silently flip keep-the-min decisions, so fail loud
    if max_indexed is not None and min_new is not None and min_new <= max_indexed:
        raise ValueError(
            f"delta batch doc_ids must exceed every indexed id "
            f"(min new {min_new} <= max indexed {max_indexed})"
        )

    normed = new_docs.withColumn("_fp", F.md5(_NORM(F.col("text"))))
    # exact: drop fps already in the corpus, then keep-min within batch.
    # _fp stays on the checkpointed frame so the index-sidecar write at
    # the end reads the cached rows instead of recomputing the
    # fresh-join (the final select(*existing.columns) strips it from
    # the corpus output).
    fresh = normed.join(
        idx_fp.select("_fp").distinct(), "_fp", "left_anti"
    )
    exact, n_after_exact = _keep_min_per_fp(fresh, "delta_exact")

    # near: within-batch pairs ∪ cross pairs against the indexed bands
    # (one signature pass: both pair generators read the checkpointed
    # band rows)
    batch_bands = minhash_bands(exact).localCheckpoint(eager=True)
    within = minhash_lsh_pairs_from_bands(batch_bands).select("doc_a", "doc_b")
    cross = (
        batch_bands.alias("nb")
        .join(idx_bands.alias("ib"), ["band_id", "band_hash"])
        .select(
            F.col("ib.doc_id").alias("doc_a"), F.col("nb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    labels = connected_components(within.unionByName(cross))
    # Bridge audit: a NEW doc can LSH-bridge two previously-
    # DISCONNECTED indexed components into one. If BOTH components'
    # keepers were written to the corpus, a full rebuild would now
    # drop the larger-id one — but append-only delta can never remove
    # already-written docs: the one divergence from rebuild
    # equivalence. Detection covers every bridge visible through the
    # delta graph (within-batch edges + DIRECT batch<->index
    # collisions) — a LOWER BOUND: a chain that merges two written
    # survivors only through intra-index edges via a build-time
    # near-dup LOSER (new doc collides with the loser, the loser's
    # old edge reaches the other survivor) is invisible here, because
    # the delta graph deliberately carries no intra-index edges
    # (re-mining those every batch would make delta cost track the
    # CORPUS, not the batch). compact_corpus re-derives divergence
    # from the FULL band graph, so a compaction pass (triggered by
    # this record, or force=True on a schedule) restores rebuild
    # equivalence including any unrecorded loser-mediated case.
    # One aggregate over the already-computed labels joined against a
    # column-pruned doc_id scan of the corpus. Runs on its OWN DRIVER
    # THREAD so it overlaps the losers/quality/pack chain; the
    # sidecar APPEND is deferred until the corpus write commits — an
    # aborted batch must never record bridges it never shipped.
    def _bridge_audit():
        written_ids = existing.select(F.col("doc_id").alias("node")).distinct()
        bridged, n = _counted_checkpoint(
            labels.filter(F.col("node") <= F.lit(max_indexed))
            .join(written_ids, "node")
            .groupBy("label")
            .agg(F.count_distinct("node").alias("n_indexed_survivors"))
            .filter(F.col("n_indexed_survivors") >= 2),
            "delta_bridge",
        )
        return n, bridged

    # Not concurrent_actions: the audit is a background future that is
    # awaited only after commit, and it is cancelled on error.
    from concurrent.futures import ThreadPoolExecutor

    audit_pool = ThreadPoolExecutor(max_workers=1)
    try:
        f_bridge = audit_pool.submit(_bridge_audit)
        near, n_after_near = _drop_near_losers(exact, labels, "delta_near")
        redacted, n_after_quality = _counted_checkpoint(
            _quality_gate(near, min_tokens, max_chars, min_alpha_frac).withColumn(
                "text", redact_pii(F.col("text"))
            ),
            "delta_quality",
        )
        # pack into fresh bins after the existing corpus's max bin_id
        # (bin_base came from the concurrent preflight aggregate — a
        # column-pruned scan of one int column, not a corpus re-read)
        packed = _pack_and_split(redacted, token_budget).withColumn(
            "bin_id", F.col("bin_id") + F.lit(bin_base)
        )
        # align delta columns to the existing corpus schema (a full
        # build may carry extra columns like logweight_scaled; the
        # delta cannot compute corpus-global weights, so those builds
        # must refresh full)
        extra = set(existing.columns) - set(packed.columns)
        if extra:
            raise ValueError(
                f"existing corpus carries corpus-global columns {sorted(extra)} "
                "a delta cannot compute (e.g. DSIR weights) — rebuild full"
            )
        # one observation on the write action carries all four
        # diagnostics (same no-extra-pass discipline as the full build)
        obs = Observation("delta_split")
        observed = packed.select(*existing.columns).observe(
            obs, *_split_counts(), F.size(F.collect_set("bin_id")).alias("n_bins")
        )
        # THREE independent sinks (corpus append + the two index-sidecar
        # appends, all reading cached/checkpointed frames) commit on
        # concurrent driver threads; obs.get blocks until the corpus
        # write's own action fires.
        concurrent_actions(
            lambda: observed.write.mode("append").partitionBy("split").parquet(out_dir),
            lambda: exact.select("_fp", "doc_id").write.mode("append").parquet(fp_path),
            lambda: batch_bands.write.mode("append").parquet(bands_path),
        )
        row = obs.get
        # the corpus + sidecar writes committed — NOW the bridge record
        # may land (an aborted batch never records phantom bridges)
        n_bridged, bridged_df = f_bridge.result()
        if n_bridged:
            log.warning(
                "delta batch bridged %d previously-disconnected indexed "
                "component(s) — output diverges from a full rebuild until "
                "a compaction pass; bridged labels recorded in %s",
                n_bridged, os.path.join(idx, "bridged_components"),
            )
            bridged_df.write.mode("append").parquet(
                os.path.join(idx, "bridged_components")
            )
    finally:
        # an exception anywhere above must not leave the audit thread
        # running (nor delay the error until it finishes); the deferred
        # record write happens only on the success path
        audit_pool.shutdown(wait=False, cancel_futures=True)

    return CorpusBuildStats(
        n_raw=n_raw,
        n_after_exact=n_after_exact,
        n_after_near=n_after_near,
        n_after_quality=n_after_quality,
        n_bins=int(row["n_bins"] or 0),
        n_train=int(row["n_train"] or 0),
        n_val=int(row["n_val"] or 0),
        n_test=int(row["n_test"] or 0),
        seconds=time.perf_counter() - t0,
        n_bridged_components=n_bridged,
    )


def compact_corpus(
    spark: SparkSession, out_dir: str, force: bool = False
) -> int:
    """Resolve bridge divergences — the COMPACTION PASS that restores
    exact full-rebuild equivalence.

    A delta batch that LSH-bridges two previously-disconnected written
    survivors leaves the corpus holding a doc a rebuild would drop
    (append-only output can't remove rows); the delta detects the
    directly-visible cases and records them under
    ``_index/bridged_components`` as the TRIGGER. Compaction itself
    does not trust that record's completeness (the delta graph carries
    no intra-index edges, so a bridge mediated by a build-time
    near-dup LOSER can go unrecorded — and the recorded label is a
    delta-graph component min that need not equal the full-graph
    label). Instead it re-derives divergence from first principles:

    1. Re-derive the corpus-wide near-dup components from the INDEX
       BANDS alone (they cover every exact survivor ever seen,
       near-dup losers included, so the graph equals the one a full
       rebuild would mine — no corpus text is re-read).
    2. Drop EVERY written doc that is not its full-graph component
       minimum. In rebuild semantics written docs are exactly the
       component minima, so any written non-minimum IS a divergence —
       recorded or not.
    3. The surviving corpus is rewritten as a new generation and
       swapped in with ``sources/io.replace_dir`` (the ``_index``
       sidecar is copied across); a failed rewrite or promotion leaves
       the live corpus in place. When no written doc is dropped the
       rewrite is skipped. The bridged-components record is cleared
       after the swap.

    Doc SETS after compaction equal a from-scratch rebuild's exactly
    (bin_ids/splits of surviving rows are untouched — packing is the
    one field a rebuild numbers differently, same caveat as delta
    mode). Returns the number of docs removed; with no recorded
    bridges and ``force=False`` the corpus is untouched (the pass is
    idempotent and cheap to call unconditionally). Production runs
    that want a hard equivalence guarantee against unrecorded
    loser-mediated bridges schedule ``force=True`` periodically — it
    pays the full-graph derivation even when nothing was recorded.

    Scale shape: the component re-derivation is the rebuild's own
    banded candidate graph (one groupBy on (band_id, band_hash) over
    the narrow index frame); the rewrite is one anti-join against the
    (usually tiny) drop list and a partitioned write. Nothing reads
    corpus text."""
    import shutil

    idx = _index_dir(out_dir)
    bridged_path = os.path.join(idx, "bridged_components")
    if not os.path.isdir(bridged_path) and not force:
        return 0
    bands = spark.read.schema(_BANDS_SCHEMA).parquet(os.path.join(idx, "bands"))
    pairs = minhash_lsh_pairs_from_bands(bands).select("doc_a", "doc_b")
    # full-graph rule, independent of the recorded labels: any written
    # doc that is not its component min would not exist after a
    # rebuild (covers unrecorded loser-mediated bridges, and recorded
    # labels that a delta-restricted graph numbered differently)
    drop = _near_losers(connected_components(pairs))
    existing = spark.read.parquet(out_dir)
    # count only WRITTEN docs: the drop list also holds build-time
    # losers that never reached the corpus, so a non-empty drop list
    # need not change a single row
    n_removed = existing.join(drop, "doc_id", "left_semi").count()

    def _write(gen: str) -> None:
        kept = existing.join(drop, "doc_id", "left_anti")
        kept.select(*existing.columns).write.partitionBy("split").parquet(gen)
        # the index sidecar (inside out_dir, _-prefixed) rides across.
        # COPY it rather than move it: a crash between a move and the
        # swap would leave the LIVE corpus without its index —
        # unreadable by delta's scheme check and not re-runnable; a copy
        # leaves the old generation complete until the swap lands, at
        # the cost of duplicating a narrow 2-3-column sidecar.
        shutil.copytree(
            os.path.join(out_dir, "_index"), os.path.join(gen, "_index")
        )

    if n_removed:  # a clean corpus skips the rewrite, swap and _index copy
        replace_dir(out_dir, _write)
    # the bridged record is cleared LAST, so a crash before this point
    # leaves a re-runnable state, never a corrupt one
    shutil.rmtree(
        os.path.join(_index_dir(out_dir), "bridged_components"),
        ignore_errors=True,  # force=True may run with nothing recorded
    )
    log.info("compact_corpus removed %d bridged doc(s) from %s", n_removed, out_dir)
    return n_removed


def main(argv: list[str] | None = None) -> CorpusBuildStats:
    """CLI twin of ``pipeline/run.py main`` for the corpus build:

        python -m firstamerican_etl_spark.pipeline.corpus_build \\
            --input_parquet /data/docs.parquet --out_dir /data/corpus \\
            --token_budget 2048

    Prints the per-stage stats as one JSON line (the same contract as
    bench.py: machine-readable, one line, stderr free for progress)."""
    import argparse
    import dataclasses
    import json
    import sys

    from firstamerican_etl_spark.session import get_spark

    p = argparse.ArgumentParser(description="training-corpus build")
    p.add_argument("--input_parquet", required=True,
                   help="documents parquet (doc_id, text, ... columns)")
    p.add_argument("--out_dir", required=True)
    p.add_argument("--token_budget", type=int, default=2048)
    p.add_argument("--min_tokens", type=int, default=10)
    p.add_argument("--max_chars", type=int, default=5000)
    p.add_argument("--min_alpha_frac", type=float, default=0.5)
    p.add_argument("--output_format", choices=["parquet", "jsonl"],
                   default="parquet")
    p.add_argument("--weight_target_lang", default=None,
                   help="attach DSIR importance weights against this "
                        "target-language slice (requires a lang column)")
    p.add_argument("--span_cut", action="store_true",
                   help="excise duplicated 8-token spans from survivors "
                        "(keep one canonical occurrence corpus-wide)")
    p.add_argument("--compact_files", action="store_true",
                   help="run small-files compaction on the written corpus "
                        "(measure -> coalesce-glue -> atomic swap; no-op "
                        "when mean file size is already healthy — the "
                        "maintenance pass for delta-append fragmentation)")
    a = p.parse_args(argv)

    spark = get_spark(app_name="corpus_build")
    docs = spark.read.parquet(a.input_parquet)
    stats = build_corpus(
        spark,
        docs,
        a.out_dir,
        token_budget=a.token_budget,
        min_tokens=a.min_tokens,
        max_chars=a.max_chars,
        min_alpha_frac=a.min_alpha_frac,
        output_format=a.output_format,
        weight_target_lang=a.weight_target_lang,
        span_cut=a.span_cut,
    )
    if a.compact_files and a.output_format == "parquet":
        from firstamerican_etl_spark.sources.io import compact_parquet_dir

        rep = compact_parquet_dir(spark, a.out_dir)
        print(f"# compaction: {rep}", file=sys.stderr)
    print(json.dumps(dataclasses.asdict(stats)))
    print(f"# corpus written to {a.out_dir}", file=sys.stderr)
    return stats


if __name__ == "__main__":
    main()
