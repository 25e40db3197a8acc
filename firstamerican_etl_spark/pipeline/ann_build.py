"""ANN index build + serve pipeline: the vector-retrieval e2e that
turns the registry's individual pieces (Lloyd step, IVF cells, recall
eval) into the artifact a serving system actually loads.

    build_ann_index(spark, sf_dir, out_dir)   # train + write index
    query_ann_index(spark, out_dir, sf_dir)   # probe + recall report

Design (IVF-Flat, the 100 TB workhorse):

- **Train** k centroids with a deterministic Lloyd loop: seeds are the
  k vectors with the smallest md5(vec_id) (hash order — reproducible
  under any partitioning, no RNG), each round is ONE aggregate over
  the points (64 per-dimension means × k cells = metadata) with the
  centroids riding in as a broadcast 16-row DataFrame (data, not
  literals — see _assign_cells for why). Centroid state lives on the
  driver between rounds — it is k×64 doubles, not data.
- **Index layout**: `centroids.parquet` (k rows) and
  `assignments.parquet` PARTITIONED BY cell_id — the partition column
  IS the index: a query that probes nprobe cells prunes to nprobe/k
  of the corpus at the FILE level (Spark shows it as PartitionFilters,
  pinned by test), which is what makes IVF sub-linear at scale.
  Embeddings are stored alongside the assignment so serving never
  joins back to the source table.
- **Query**: probe vectors pick their nprobe nearest centroids
  DRIVER-side (k×nprobe floats — metadata), candidates come from the
  pruned partitions only, exact cosine re-ranks within candidates,
  and the report grades recall@k against the brute-force truth
  computed in the same job.

The quadratic-looking steps are all bounded: probes×centroids and
probes×candidates ride broadcast single-digit-MB frames; nothing
all-pairs ever touches the corpus side (same discipline as
plans/vectorplans.py throughout).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from firstamerican_etl_spark.sources.io import load_table

_DIM = 64


@dataclass
class AnnIndexStats:
    n_vectors: int
    n_cells: int
    lloyd_rounds: int
    min_cell: int
    max_cell: int
    out_dir: str


def _cent_df(spark: SparkSession, centroids: list[tuple[int, list[float]]]):
    # Arrow path (pandas in, explicit schema): the plain list-of-rows
    # createDataFrame falls back to RDD pickling, which spins a Python
    # worker per call — measured ~3.5 s for 16 rows on local[32],
    # and this constructor runs once per Lloyd round. Arrow ships the
    # same 16 rows in ~0.15 s with an identical LocalTableScan plan.
    import pandas as pd

    pdf = pd.DataFrame(
        {"cell_id": [c for c, _ in centroids], "centroid": [v for _, v in centroids]}
    )
    return spark.createDataFrame(pdf, "cell_id int, centroid array<double>")


def _assign_cells(emb: DataFrame, cent_df: DataFrame) -> DataFrame:
    """(vec_id, v, cell_id) with cell_id = argmin squared-L2 centroid
    (cell_id tiebreak). Centroids ride as broadcast DATA, not as
    literals: an earlier literal formulation inlined k×dim constants
    into the expression tree, and since the literals change every
    Lloyd round, Catalyst re-analyzed and janino re-compiled a fresh
    giant plan per round — ~4 s of COMPILE per round against <0.1 s of
    actual arithmetic at bench scale. With centroids as data the plan
    shape is identical every round, so codegen is compiled once and
    cached. The k× crossJoin inflation never reaches the wire:
    map-side partial aggregation collapses the k candidate rows of
    each vector back to one inside the task (the broadcast keeps all
    k copies co-located), so the exchange carries one row per
    vector."""
    d2 = F.aggregate(
        F.zip_with("v", "centroid", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = emb.crossJoin(F.broadcast(cent_df)).select(
        "vec_id", "v", "cell_id", d2.alias("d")
    )
    return (
        pairs.groupBy("vec_id")
        .agg(F.min(F.struct("d", "cell_id")).alias("m"), F.first("v").alias("v"))
        .select("vec_id", "v", F.col("m.cell_id").alias("cell_id"))
    )


def build_ann_index(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_cells: int = 16,
    lloyd_rounds: int = 3,
    where: str | None = None,
) -> AnnIndexStats:
    """Train an IVF-Flat index over the embeddings table and write it
    to ``out_dir`` (centroids + cell-partitioned assignments).
    ``where`` (a SQL condition string) restricts the indexed vectors —
    the batch-1 half of an append test, or a production partition."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    if where:
        emb = emb.filter(where)
    return _train_index(spark, emb, out_dir, n_cells, lloyd_rounds)


def _train_index(
    spark: SparkSession,
    emb: DataFrame,
    out_dir: str,
    n_cells: int,
    lloyd_rounds: int,
) -> AnnIndexStats:
    """Lloyd-train + write an index from a (vec_id, v) frame — shared
    by the fresh build (source table) and the drift refresh (re-train
    from the index's own assignments). Also stamps
    ``train_meta.parquet`` (one row: n_trained, n_cells, lloyd_rounds)
    so the maintenance policy can compute appended-mass fractions
    without re-deriving history."""
    # Deterministic seeds: the n_cells hash-smallest vectors. A
    # TakeOrdered of k rows — no sort of the corpus.
    seed_rows = (
        emb.select("vec_id", "v", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(n_cells)
        .collect()
    )
    centroids = [(i, [float(x) for x in r["v"]]) for i, r in enumerate(seed_rows)]

    for _ in range(lloyd_rounds):
        assigned = _assign_cells(emb, _cent_df(spark, centroids))
        # per-cell per-dimension means as a TALL (cell, dim) aggregate
        # instead of one 64-column-wide agg: the wide form's 65-entry
        # expression tree paid ~1 s of Catalyst analysis + codegen per
        # round (measured; the arithmetic itself is sub-0.1 s), while
        # posexplode's 4-expression plan analyzes instantly. At scale
        # the explode's ×dim row fan-out never reaches the wire —
        # map-side partial agg collapses it to k×dim rows per task.
        rows = (
            assigned.select("cell_id", F.posexplode("v").alias("dim", "x"))
            .groupBy("cell_id", "dim")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(r["cell_id"], {})[r["dim"]] = float(r["m"])
        centroids = [
            (
                cid,
                [by_cell[cid][i] for i in range(_DIM)]
                if cid in by_cell
                else c,  # empty cell keeps its previous centroid
            )
            for cid, c in centroids
        ]

    cent_df = _cent_df(spark, centroids)
    final = _assign_cells(emb, cent_df)
    sizes: list = []

    # The three tail actions are independent driver-side jobs (tiny
    # centroid write ∥ partitioned assignment write ∥ size report);
    # running them on threads folds three job floors into one wall
    # (the pipeline/run.py concurrency pattern). The size aggregate
    # reads the just-written files so the report reflects what is ON
    # DISK, and is ordered after the assignment write's barrier.
    from concurrent.futures import ThreadPoolExecutor

    def _write_cent() -> None:
        cent_df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out_dir, "centroids.parquet")
        )

    def _write_assign_and_sizes() -> None:
        final.write.mode("overwrite").partitionBy("cell_id").parquet(
            os.path.join(out_dir, "assignments.parquet")
        )
        sizes.extend(
            spark.read.schema("vec_id bigint, v array<double>, cell_id int")
            .parquet(os.path.join(out_dir, "assignments.parquet"))
            .groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(_write_cent)
        f2 = pool.submit(_write_assign_and_sizes)
        f1.result()
        f2.result()
    ns = [r["n"] for r in sizes]
    # training provenance for the maintenance policy
    # (ann_refresh_decision): appended mass is measured against
    # n_trained, which only a stamp written AT TRAIN TIME can know.
    # sum(ns) re-reads the just-written index, so the stamp records
    # what is ON DISK — no extra corpus scan.
    import pandas as pd

    spark.createDataFrame(
        pd.DataFrame(
            {
                "n_trained": [int(sum(ns))],
                "n_cells": [int(n_cells)],
                "lloyd_rounds": [int(lloyd_rounds)],
            }
        ),
        "n_trained bigint, n_cells int, lloyd_rounds int",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "train_meta.parquet")
    )
    return AnnIndexStats(
        n_vectors=sum(ns),
        n_cells=len(centroids),
        lloyd_rounds=lloyd_rounds,
        # empty cells write no partition, so the size report only
        # holds NON-empty cells: a missing row means min is 0 — the
        # degenerate-cell signal a balance monitor must see
        min_cell=min(ns) if ns and len(ns) == len(centroids) else 0,
        max_cell=max(ns) if ns else 0,
        out_dir=out_dir,
    )


@dataclass
class AnnAppendStats:
    n_appended: int
    n_cells_touched: int
    max_cell: int
    skew_ratio: float


def append_ann_index(
    spark: SparkSession,
    out_dir: str,
    sf_dir: str | None = None,
    where: str | None = None,
    batch: DataFrame | None = None,
) -> AnnAppendStats:
    """Delta-ingest new vectors into an EXISTING IVF index — the
    vector-side analogue of the corpus pipeline's delta mode
    (pipeline/corpus_build.py): at 100 TB the corpus arrives in
    batches and a full k-means retrain per batch is the thing you
    cannot afford, so the standard IVF contract applies — centroids
    are FROZEN at append time (FAISS ``add`` semantics), new vectors
    are assigned to their nearest existing cell, and the rows land in
    the cell-partitioned layout with ``mode("append")`` so the
    partition-pruned serve path sees them immediately. Retraining is a
    rebuild, deliberately.

    Guards, in the fail-loud style of the corpus delta:

    - an append against a missing/uncommitted index raises (there is
      nothing safe to assign against);
    - vec_id collisions with the existing index raise — replaying a
      batch would double-serve those vectors with no error, the exact
      silent-corruption class the corpus delta's scheme stamp exists
      to prevent. The check is a column-pruned (vec_id-only) semi-join
      scan of the index, ~8 bytes/vector — index-metadata-sized, not
      embedding-sized.

    Returns append stats including ``skew_ratio`` (max cell size over
    mean after the append): frozen centroids slowly go stale under
    data drift, and a rising skew ratio is the rebuild signal — the
    caller's cue, reported rather than auto-acted-on.

    Concurrency contract: one writer at a time (same as any
    FileOutputCommitter append); serving readers are safe throughout
    because task files become visible atomically per partition."""
    cent_path = os.path.join(out_dir, "centroids.parquet")
    assign_path = os.path.join(out_dir, "assignments.parquet")
    # COMMIT check, not existence: an aborted build leaves both dirs
    # present with partial part-files and no _SUCCESS — appending onto
    # that (with a dup guard that can't see the missing rows) is the
    # silent-corruption class this guard exists to stop
    if not all(
        os.path.exists(os.path.join(p, "_SUCCESS"))
        for p in (cent_path, assign_path)
    ):
        raise ValueError(
            f"no committed ANN index at {out_dir} (missing _SUCCESS); "
            "build_ann_index first"
        )
    if batch is not None:
        # production appends arrive as a DataFrame, not as a filter on
        # the training table; accept (vec_id, embedding) or (vec_id, v)
        new = (
            batch.select(
                "vec_id",
                F.transform("embedding", lambda x: x.cast("double")).alias("v"),
            )
            if "embedding" in batch.columns
            else batch.select("vec_id", "v")
        )
    else:
        if sf_dir is None:
            raise ValueError("append_ann_index needs sf_dir or batch")
        new = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
        if where:
            new = new.filter(where)

    # duplicates WITHIN the batch double-serve exactly like index
    # collisions — ONE fused aggregate catches batch count, batch
    # distinct count AND index collisions in a single pass (r15,
    # VERDICT r14 #7: the r14 shape ran batch-dup and the collision
    # semi-join as two jobs on threads; the left join folds them into
    # one scan of the batch). Should the index ever carry a duplicate
    # vec_id, the left join fans out and n != nd, so the collision
    # check runs first and blames the index. Explicit schemas on both
    # index reads skip the footer-inference driver jobs (guide §2.6
    # job floors).
    # The remaining two preflight actions (fused guard, centroid
    # collect) share no ordering — concurrent driver threads; the
    # guard exceptions are re-raised in the original order below.
    from concurrent.futures import ThreadPoolExecutor

    ids = new.select("vec_id")
    existing_ids = spark.read.schema(
        "vec_id bigint, v array<double>, cell_id int"
    ).parquet(assign_path).select("vec_id")
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_guard = pool.submit(
            lambda: ids.join(
                existing_ids.withColumn("_hit", F.lit(1)), "vec_id", "left"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("vec_id").alias("nd"),
                F.count("_hit").alias("ndup"),
            )
            .collect()[0]
        )
        f_cent = pool.submit(
            lambda: spark.read.schema(
                "cell_id int, centroid array<double>"
            ).parquet(cent_path).collect()
        )
        guard = f_guard.result()
        n_rows, n_distinct, n_dup = (
            int(guard["n"]), int(guard["nd"]), int(guard["ndup"])
        )
        cent_rows = f_cent.result()
    if n_dup:
        raise ValueError(
            f"{n_dup} vec_ids in the append batch already exist in the "
            f"index at {out_dir}; appending them would double-serve — "
            "deduplicate the batch or rebuild the index"
        )
    if n_rows != n_distinct:
        raise ValueError(
            f"append batch carries {n_rows - n_distinct} duplicated "
            "vec_ids within itself; appending would double-serve them — "
            "deduplicate the batch first"
        )
    centroids = [
        (int(r["cell_id"]), [float(x) for x in r["centroid"]]) for r in cent_rows
    ]
    # one materialization of the batch (batch-sized, not index-sized):
    # the write, the appended count and the touched-cells count all
    # read it, and Catalyst would re-run the assignment join per action
    assigned = _assign_cells(new, _cent_df(spark, centroids)).localCheckpoint(
        eager=True
    )
    assigned.write.mode("append").partitionBy("cell_id").parquet(assign_path)

    # post-write stats: the on-disk size report and the batch stats are
    # independent — overlap them (§2.6); appended + touched fuse into
    # ONE aggregate over the checkpointed batch (two jobs before r14)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_sizes = pool.submit(
            lambda: spark.read.schema("vec_id bigint, v array<double>, cell_id int").parquet(assign_path)
            .groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        f_batch_stats = pool.submit(
            lambda: assigned.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("cell_id").alias("t"),
            ).collect()[0]
        )
        sizes = f_sizes.result()
        batch_stats = f_batch_stats.result()
    ns = [int(r["n"]) for r in sizes]
    appended = int(batch_stats["n"])
    touched = int(batch_stats["t"])
    return AnnAppendStats(
        n_appended=appended,
        n_cells_touched=touched,
        max_cell=max(ns),
        # mean over ALL cells (empty ones write no partition and are
        # absent from the counts) — dividing by the non-empty count
        # would understate skew exactly when it's worst
        skew_ratio=round(max(ns) / (sum(ns) / len(cent_rows)), 3),
    )


@dataclass
class AnnRefreshDecision:
    n_trained: int
    n_total: int
    appended_frac: float
    skew_ratio: float
    refresh: bool
    reasons: list[str]


def ann_refresh_decision(
    spark: SparkSession,
    out_dir: str,
    appended_frac_threshold: float = 0.5,
    skew_threshold: float = 4.0,
) -> AnnRefreshDecision:
    """The centroid-refresh POLICY HOOK (VERDICT r9 #6): frozen-centroid
    appends (``append_ann_index``) slowly go stale under data drift —
    drifted vectors pile into the few cells nearest the new mass, which
    degrades the serve path's partition pruning (probing nprobe cells
    stops meaning nprobe/k of the corpus) long before recall visibly
    moves. This reads two metadata-sized signals and recommends a
    retrain when either crosses its threshold:

    - ``appended_frac`` = (rows on disk − rows at train time) / rows at
      train time, from the ``train_meta.parquet`` stamp. The FAISS-folk
      rule of thumb: retrain when appends exceed ~half the trained
      mass, regardless of drift — quantization error grows with mass
      the centroids never saw.
    - ``skew_ratio`` = max cell size / mean cell size over ALL trained
      cells. Balanced kmeans cells sit near 1–2; drift shows up here
      mechanically because appended vectors assign to their nearest
      FROZEN centroid.

    Cost: one column-pruned count-by-cell over assignment metadata and
    a one-row stamp read — safe to run after every append. The
    decision is returned, not auto-acted: the caller schedules
    ``refresh_ann_index`` (serving pauses during the generation swap)."""
    meta_path = os.path.join(out_dir, "train_meta.parquet")
    if not os.path.exists(os.path.join(meta_path, "_SUCCESS")):
        raise ValueError(
            f"no train_meta stamp at {out_dir} — index predates the "
            "maintenance policy; run refresh_ann_index (or rebuild with "
            "build_ann_index) once to stamp it"
        )
    meta = spark.read.parquet(meta_path).collect()[0]
    n_trained, n_cells = int(meta["n_trained"]), int(meta["n_cells"])
    sizes = (
        spark.read.parquet(os.path.join(out_dir, "assignments.parquet"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    ns = [int(r["n"]) for r in sizes]
    n_total = sum(ns)
    appended_frac = (n_total - n_trained) / n_trained if n_trained else 0.0
    skew_ratio = max(ns) / (n_total / n_cells) if ns and n_total else 0.0
    reasons = []
    if appended_frac > appended_frac_threshold:
        reasons.append(
            f"appended_frac {appended_frac:.2f} > {appended_frac_threshold}"
        )
    if skew_ratio > skew_threshold:
        reasons.append(f"skew_ratio {skew_ratio:.2f} > {skew_threshold}")
    return AnnRefreshDecision(
        n_trained=n_trained,
        n_total=n_total,
        appended_frac=round(appended_frac, 4),
        skew_ratio=round(skew_ratio, 3),
        refresh=bool(reasons),
        reasons=reasons,
    )


def refresh_ann_index(
    spark: SparkSession,
    out_dir: str,
    n_cells: int | None = None,
    lloyd_rounds: int = 3,
) -> AnnIndexStats:
    """Retrain the index over EVERYTHING it currently serves (original
    + appended vectors, read straight from the cell-partitioned
    assignments — no join back to any source table) and swap the new
    generation in. This is the action ``ann_refresh_decision``
    recommends; after it, appended_frac is 0 by construction and cell
    sizes re-balance around the drifted mass.

    Generation protocol: train into a sibling ``.gen-*`` dir, then
    swap via two renames (old index parked at ``.old`` until the new
    one is in place, then removed). The swap window is two directory
    renames; this is a MAINTENANCE operation — pause serving for it,
    same as any FAISS retrain. Writing the new generation never reads
    and overwrites the same files (the read-own-input hazard), because
    training reads the OLD dir and writes the sibling."""
    import shutil
    import uuid

    # a trailing slash would nest the sibling generation INSIDE the
    # live index ("x/.gen-..." under "x/") and break the swap renames
    out_dir = os.path.normpath(out_dir)
    assign_path = os.path.join(out_dir, "assignments.parquet")
    meta_path = os.path.join(out_dir, "train_meta.parquet")
    if not os.path.exists(os.path.join(assign_path, "_SUCCESS")):
        raise ValueError(f"no committed ANN index at {out_dir}")
    if n_cells is None:
        if os.path.exists(os.path.join(meta_path, "_SUCCESS")):
            n_cells = int(spark.read.parquet(meta_path).collect()[0]["n_cells"])
        else:  # pre-policy index: fall back to the centroid count
            n_cells = spark.read.parquet(
                os.path.join(out_dir, "centroids.parquet")
            ).count()
    emb = spark.read.parquet(assign_path).select("vec_id", "v")
    gen = f"{out_dir}.gen-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        stats = _train_index(spark, emb, gen, n_cells, lloyd_rounds)
    except BaseException:
        # a failed retrain (OOM, disk full, interrupt) must not leak an
        # index-sized partial generation next to the live index; the
        # live index itself is untouched at this point
        shutil.rmtree(gen, ignore_errors=True)
        raise
    # Swap: park the live index, promote the new generation, drop the
    # parked copy. If parking succeeded but promotion did NOT, restore
    # the parked live index — and only ever delete `gen` once a
    # complete index is back at out_dir. The earlier unconditional
    # finally-rmtree(gen) could destroy the ONLY complete generation
    # when an interrupt landed between the two renames (r10 review,
    # sixth pass), leaving nothing at out_dir.
    old = f"{out_dir}.old-{uuid.uuid4().hex[:8]}"
    try:
        os.rename(out_dir, old)
        os.rename(gen, out_dir)
    finally:
        # Both renames are inside the protected region (r10 review,
        # seventh/eighth passes): a failure or interrupt at EITHER
        # must leave a complete index at out_dir and no index-sized
        # leak. Progress is read from the FILESYSTEM, never a flag —
        # a flag assignment after a rename leaves a bytecode window
        # where an interrupt strands state the finally then misreads.
        # rename(gen, out_dir) is the only way `gen` vanishes, so:
        if not os.path.isdir(gen):
            # promoted (exceptionally or not): the new index is live;
            # the parked copy is the only thing left to retire
            shutil.rmtree(old, ignore_errors=True)
        elif os.path.isdir(old):
            # parked but not promoted: restore the live index, and
            # only delete the generation once restoration succeeded
            try:
                os.rename(old, out_dir)
            except OSError:
                # restoration itself failed: leave BOTH survivors
                # (old + gen) on disk for manual recovery — deleting
                # either could drop the last complete index
                pass
            else:
                shutil.rmtree(gen, ignore_errors=True)
        else:
            # parking never happened: out_dir is untouched; the
            # trained generation is the only thing to clean
            shutil.rmtree(gen, ignore_errors=True)
    return AnnIndexStats(
        n_vectors=stats.n_vectors,
        n_cells=stats.n_cells,
        lloyd_rounds=stats.lloyd_rounds,
        min_cell=stats.min_cell,
        max_cell=stats.max_cell,
        out_dir=out_dir,
    )


def query_ann_index(
    spark: SparkSession,
    out_dir: str,
    sf_dir: str,
    n_probes: int = 20,
    nprobe: int = 4,
    k: int = 10,
    probes_df: DataFrame | None = None,
) -> DataFrame:
    """Serve ``n_probes`` hash-chosen probe vectors against the index
    and return the recall report: one row per probe with its IVF
    top-k hit count vs the exact brute-force top-k (cosine, vec_id
    tiebreak; the probe itself is excluded from both sides).

    Returns columns (probe_id, n_hits, recall_at_k).

    ``probes_df`` overrides the default table-sampled probes with an
    explicit (vec_id, v) frame — how the maintenance tests grade the
    index against drifted-batch probes; the exact ground truth is then
    brute-forced over the INDEX contents (what serving can actually
    return), not the source table."""
    if probes_df is not None:
        # ground truth = what serving can actually return
        emb = spark.read.schema("vec_id bigint, v array<double>, cell_id int").parquet(
            os.path.join(out_dir, "assignments.parquet")
        ).select("vec_id", "v")
        probe_src = probes_df.select("vec_id", "v")
    else:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
        probe_src = emb
    # probe selection and centroid fetch are independent driver jobs —
    # overlap them (r14, guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_probes = pool.submit(
            lambda: probe_src.select(
                "vec_id", "v", F.md5(F.col("vec_id").cast("string")).alias("h")
            )
            .orderBy(F.col("h").desc(), "vec_id")  # disjoint from the seed end
            .limit(n_probes)
            .collect()
        )
        f_cents = pool.submit(
            lambda: spark.read.schema("cell_id int, centroid array<double>").parquet(
                os.path.join(out_dir, "centroids.parquet")
            ).collect()
        )
        probes = f_probes.result()
        cents = {
            r["cell_id"]: [float(x) for x in r["centroid"]]
            for r in f_cents.result()
        }

    def _near_cells(pv: list[float]) -> list[int]:
        d = sorted(
            (sum((a - b) * (a - b) for a, b in zip(pv, c)), cid)
            for cid, c in cents.items()
        )
        return [cid for _dist, cid in d[:nprobe]]

    probe_cells = [
        (int(r["vec_id"]), [float(x) for x in r["v"]], _near_cells([float(x) for x in r["v"]]))
        for r in probes
    ]
    wanted = sorted({c for _pid, _v, cells in probe_cells for c in cells})
    # Arrow path for the probe frame (same rationale as _cent_df: the
    # list-of-rows constructor pays an RDD-pickle Python worker).
    import pandas as pd

    probe_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "probe_id": [pid for pid, _v, _c in probe_cells],
                "pv": [v for _pid, v, _c in probe_cells],
                "cells": [cells for _pid, _v, cells in probe_cells],
            }
        ),
        "probe_id bigint, pv array<double>, cells array<int>",
    )

    # candidate side: partition-pruned scan of ONLY the probed cells
    cand = spark.read.schema("vec_id bigint, v array<double>, cell_id int").parquet(
        os.path.join(out_dir, "assignments.parquet")
    ).filter(
        F.col("cell_id").isin(wanted)
    )
    dot = F.aggregate(
        F.zip_with("pv", "v", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    pairs = (
        cand.join(F.broadcast(probe_df), F.array_contains("cells", F.col("cell_id")))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            (dot / (norm(F.col("pv")) * norm(F.col("v")))).alias("cos"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), "vec_id")
    ivf_topk = pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)

    # exact truth: brute force over the full corpus for the same probes
    exact_pairs = (
        emb.crossJoin(F.broadcast(probe_df.select("probe_id", "pv")))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            (dot / (norm(F.col("pv")) * norm(F.col("v")))).alias("cos"),
        )
    )
    exact_topk = exact_pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )
    hits = (
        ivf_topk.select("probe_id", "vec_id")
        .join(exact_topk.select("probe_id", "vec_id"), ["probe_id", "vec_id"])
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        probe_df.select("probe_id")
        .join(hits, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0).cast("long")) / F.lit(float(k))).alias(
                "recall_at_k"
            ),
        )
    )
