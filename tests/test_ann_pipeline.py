"""ANN index pipeline: build determinism, partition-pruned serving,
recall floor."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from firstamerican_etl_spark.pipeline.ann_build import (
    build_ann_index,
    query_ann_index,
)


@pytest.fixture(scope="module")
def index_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ann") / "idx")
    stats = build_ann_index(spark, sf_dir, d, n_cells=16, lloyd_rounds=3)
    assert stats.n_cells == 16
    assert stats.n_vectors > 0
    return d


def test_build_is_deterministic(spark, sf_dir, index_dir, tmp_path):
    d2 = str(tmp_path / "idx2")
    build_ann_index(spark, sf_dir, d2, n_cells=16, lloyd_rounds=3)

    def sig(d):
        a = spark.read.parquet(os.path.join(d, "assignments.parquet"))
        return (
            a.select(
                F.sum(F.xxhash64(F.col("vec_id").cast("string"),
                                 F.col("cell_id").cast("string"))).alias("h")
            ).collect()[0]["h"],
            a.count(),
        )

    assert sig(index_dir) == sig(d2)


def test_index_covers_every_vector_once(spark, sf_dir, index_dir):
    from firstamerican_etl_spark.sources.io import load_table

    n_src = load_table(spark, sf_dir, "embeddings").count()
    a = spark.read.parquet(os.path.join(index_dir, "assignments.parquet"))
    assert a.count() == n_src
    assert a.select("vec_id").distinct().count() == n_src


def test_query_prunes_partitions(spark, sf_dir, index_dir):
    """The candidate scan must read ONLY the probed cells — partition
    pruning is the sub-linearity of IVF; a full scan here means the
    layout regressed."""
    rep = query_ann_index(spark, index_dir, sf_dir, n_probes=5, nprobe=4)
    rep.collect()
    cand = spark.read.parquet(
        os.path.join(index_dir, "assignments.parquet")
    ).filter(F.col("cell_id").isin([0, 1, 2, 3]))
    plan = cand._sc._jvm.PythonSQLUtils.explainString(
        cand._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    assert "cell_id" in plan.split("PartitionFilters")[1][:200]


def test_recall_beats_random_and_reports_all_probes(spark, sf_dir, index_dir):
    k, n_probes = 10, 20
    rep = query_ann_index(
        spark, index_dir, sf_dir, n_probes=n_probes, nprobe=4, k=k
    ).collect()
    assert len(rep) == n_probes
    mean_recall = sum(r["recall_at_k"] for r in rep) / n_probes
    # nprobe/k = 4/16 of cells scanned; random assignment would give
    # recall ~0.25 — the trained index must do meaningfully better.
    assert mean_recall >= 0.4, f"mean recall@{k} = {mean_recall}"


def test_full_probe_is_perfect_recall(spark, sf_dir, index_dir):
    """nprobe = n_cells degenerates IVF to exact search: recall must
    be exactly 1.0 for every probe — the end-to-end correctness pin
    (any mismatch means the index lost or duplicated vectors)."""
    rep = query_ann_index(
        spark, index_dir, sf_dir, n_probes=8, nprobe=16, k=5
    ).collect()
    assert all(r["recall_at_k"] == 1.0 for r in rep), rep


def test_append_ingests_and_serves_new_vectors(spark, sf_dir, tmp_path):
    """Delta ingest: build on even vec_ids, append the odds with the
    frozen centroids, then (a) the index covers every vector exactly
    once, (b) appended rows carry the assignment the frozen centroids
    dictate, and (c) an exact-mode serve (nprobe = n_cells) reaches
    recall 1.0 against the FULL corpus — the appended vectors are
    genuinely served, not just stored."""
    from firstamerican_etl_spark.pipeline.ann_build import (
        _assign_cells,
        _cent_df,
        append_ann_index,
    )
    from firstamerican_etl_spark.sources.io import load_table

    d = str(tmp_path / "idx_delta")
    build_ann_index(
        spark, sf_dir, d, n_cells=8, lloyd_rounds=2, where="vec_id % 2 = 0"
    )
    stats = append_ann_index(spark, d, sf_dir, where="vec_id % 2 = 1")
    emb = load_table(spark, sf_dir, "embeddings")
    n_all = emb.count()
    n_odd = emb.filter("vec_id % 2 = 1").count()
    assert stats.n_appended == n_odd
    assert 1 <= stats.n_cells_touched <= 8
    assert stats.skew_ratio >= 1.0

    a = spark.read.parquet(os.path.join(d, "assignments.parquet"))
    assert a.count() == n_all
    assert a.select("vec_id").distinct().count() == n_all

    # appended assignments match a fresh frozen-centroid assignment
    cents = [
        (int(r["cell_id"]), [float(x) for x in r["centroid"]])
        for r in spark.read.parquet(os.path.join(d, "centroids.parquet")).collect()
    ]
    want = {
        r["vec_id"]: r["cell_id"]
        for r in _assign_cells(
            emb.filter("vec_id % 2 = 1").select(
                "vec_id",
                F.transform("embedding", lambda x: x.cast("double")).alias("v"),
            ),
            _cent_df(spark, cents),
        ).collect()
    }
    got = {
        r["vec_id"]: r["cell_id"]
        for r in a.filter("vec_id % 2 = 1").select("vec_id", "cell_id").collect()
    }
    assert got == want

    rep = query_ann_index(spark, d, sf_dir, n_probes=10, nprobe=8, k=5)
    assert all(r["recall_at_k"] == 1.0 for r in rep.collect())


def test_append_guards_fail_loudly(spark, sf_dir, tmp_path):
    """Replayed batches (vec_id collisions) and appends against a
    missing index raise instead of silently corrupting the serve."""
    from firstamerican_etl_spark.pipeline.ann_build import append_ann_index

    with pytest.raises(ValueError, match="no committed ANN index"):
        append_ann_index(spark, str(tmp_path / "nope"), sf_dir)

    d = str(tmp_path / "idx_guard")
    build_ann_index(
        spark, sf_dir, d, n_cells=8, lloyd_rounds=1, where="vec_id % 2 = 0"
    )
    with pytest.raises(ValueError, match="already exist in the index"):
        append_ann_index(spark, d, sf_dir, where="vec_id % 4 = 0")  # subset replay

    # duplicates WITHIN one batch double-serve exactly like replays —
    # an upstream fold of two deliveries into one embeddings file
    from firstamerican_etl_spark.sources.io import load_table

    dup_dir = str(tmp_path / "dup_sf")
    os.makedirs(dup_dir)
    odd = load_table(spark, sf_dir, "embeddings").filter("vec_id % 2 = 1")
    odd.union(odd.limit(3)).write.parquet(
        os.path.join(dup_dir, "embeddings.parquet")
    )
    with pytest.raises(ValueError, match="within itself"):
        append_ann_index(spark, d, dup_dir)


def test_append_guard_blames_index_side_duplicate(spark, sf_dir, tmp_path):
    """A vec_id duplicated in the INDEX fans the guard's left join out.
    The collision check runs first, so the error names the index, not
    the (duplicate-free) batch."""
    import glob
    import shutil

    from firstamerican_etl_spark.pipeline.ann_build import append_ann_index

    d = str(tmp_path / "idx_dup")
    build_ann_index(
        spark, sf_dir, d, n_cells=8, lloyd_rounds=1, where="vec_id % 2 = 0"
    )
    part = sorted(
        glob.glob(os.path.join(d, "assignments.parquet", "cell_id=*", "part-*"))
    )[0]
    shutil.copy(part, os.path.join(os.path.dirname(part), "part-dup.parquet"))
    with pytest.raises(ValueError, match="already exist in the index"):
        append_ann_index(spark, d, sf_dir, where="vec_id % 2 = 0")


def test_append_then_compact_preserves_serving(spark, sf_dir, tmp_path):
    """The maintenance composition a long-lived index actually runs:
    delta appends leave small files inside every cell partition;
    compact_parquet_dir must glue them per-partition with the
    cell_id=N directory layout (the partition IS the index) and
    content preserved verbatim — pinned by exact-mode serve recall 1.0
    after the compaction swap."""
    from firstamerican_etl_spark.pipeline.ann_build import append_ann_index
    from firstamerican_etl_spark.sources.io import compact_parquet_dir

    d = str(tmp_path / "idx_compact")
    build_ann_index(
        spark, sf_dir, d, n_cells=8, lloyd_rounds=1, where="vec_id % 3 = 0"
    )
    append_ann_index(spark, d, sf_dir, where="vec_id % 3 = 1")
    append_ann_index(spark, d, sf_dir, where="vec_id % 3 = 2")
    apath = os.path.join(d, "assignments.parquet")
    before = spark.read.parquet(apath)
    n_before = before.count()
    h_before = before.select(
        F.sum(F.xxhash64(F.col("vec_id").cast("string"),
                         F.col("cell_id").cast("string"))).alias("h")
    ).collect()[0]["h"]

    # tiny target forces the trigger at test scale
    report = compact_parquet_dir(spark, apath, target_bytes=1 << 30)
    assert report["compacted"], report
    assert report["files_after"] < report["files_before"]
    assert report["partition_keys"] == ["cell_id"]
    # cell_id=N dirs survive verbatim (partition values never re-typed)
    dirs = sorted(
        e.name for e in os.scandir(apath) if e.is_dir() and "=" in e.name
    )
    assert dirs and all(x.startswith("cell_id=") for x in dirs)

    after = spark.read.parquet(apath)
    assert after.count() == n_before
    h_after = after.select(
        F.sum(F.xxhash64(F.col("vec_id").cast("string"),
                         F.col("cell_id").cast("string"))).alias("h")
    ).collect()[0]["h"]
    assert h_after == h_before

    rep = query_ann_index(spark, d, sf_dir, n_probes=10, nprobe=8, k=5)
    assert all(r["recall_at_k"] == 1.0 for r in rep.collect())


def test_refresh_policy_fires_and_rebalances(spark, sf_dir, tmp_path):
    """Centroid maintenance policy (VERDICT r9 #6), the full
    composition: build → drifted append → the decision FIRES on both
    signals → refresh → the decision CLEARS and the index re-balances.

    The drift construction is deliberate: appended vectors are
    |x| + 0.25 of the originals (all-positive orthant — a genuinely
    shifted distribution), so under FROZEN centroids the whole batch
    piles into the 2 cells nearest the new mass. The measured
    consequence is NOT a recall drop — concentrated mass means the
    probes that matter scan those mega-cells and recall stays perfect —
    it is the DEATH OF PRUNING: serving pays a ~84%-of-index candidate
    scan per probe. The refresh restores task-sized cells; recall then
    recovers through nprobe at a fraction of the scan cost
    (nprobe=6/16 → 1.0 here, vs the pre-refresh 2 mega-cells holding
    84% of all rows). Values are deterministic (md5 seeds, fixed Lloyd
    rounds, arithmetic drift)."""
    from firstamerican_etl_spark.operators.relational import is_empty
    from firstamerican_etl_spark.pipeline.ann_build import (
        ann_refresh_decision,
        append_ann_index,
        refresh_ann_index,
    )
    from firstamerican_etl_spark.sources.io import load_table

    d = str(tmp_path / "idx")
    build_ann_index(spark, sf_dir, d, n_cells=16, lloyd_rounds=2)
    dec0 = ann_refresh_decision(spark, d)
    assert not dec0.refresh and dec0.appended_frac == 0.0
    assert dec0.skew_ratio < 2.0  # freshly-trained cells are balanced

    drift = load_table(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: F.abs(x.cast("double")) + F.lit(0.25)
        ).alias("v"),
    )
    ap = append_ann_index(spark, d, batch=drift)
    assert ap.n_appended == dec0.n_trained  # equal-mass drifted batch
    assert ap.n_cells_touched <= 3  # the drift concentration itself

    dec1 = ann_refresh_decision(spark, d)
    assert dec1.refresh
    assert any("appended_frac" in r for r in dec1.reasons)
    assert any("skew_ratio" in r for r in dec1.reasons)
    assert dec1.appended_frac == 1.0
    assert dec1.skew_ratio > 4.0
    pre_max_cell = ap.max_cell

    # recall on the drifted probes BEFORE refresh: perfect, but only
    # because pruning is dead (mega-cells)
    pre = (
        query_ann_index(spark, d, sf_dir, n_probes=10, nprobe=4, probes_df=drift)
        .agg(F.avg("recall_at_k").alias("r"))
        .collect()[0]["r"]
    )
    assert pre == 1.0

    rst = refresh_ann_index(spark, d)
    assert rst.n_vectors == dec1.n_total  # nothing lost in the swap
    dec2 = ann_refresh_decision(spark, d)
    assert not dec2.refresh and dec2.appended_frac == 0.0
    assert dec2.skew_ratio < dec1.skew_ratio / 2  # re-balanced
    assert rst.max_cell < pre_max_cell / 2  # pruning restored

    # recall recovers through nprobe at a fraction of the scan cost:
    # 6 of 16 balanced cells beat 2 mega-cells holding 84% of rows
    post = (
        query_ann_index(spark, d, sf_dir, n_probes=10, nprobe=6, probes_df=drift)
        .agg(F.avg("recall_at_k").alias("r"))
        .collect()[0]["r"]
    )
    assert post == 1.0
    # even the cheap nprobe=4 stays within 15% of truth post-refresh
    post4 = (
        query_ann_index(spark, d, sf_dir, n_probes=10, nprobe=4, probes_df=drift)
        .agg(F.avg("recall_at_k").alias("r"))
        .collect()[0]["r"]
    )
    assert post4 >= 0.85
    # the index still serves its original probes end-to-end
    assert not is_empty(query_ann_index(spark, d, sf_dir, n_probes=5, nprobe=8))


def test_refresh_policy_guards(spark, sf_dir, tmp_path):
    """Fail-loud edges: deciding against an unstamped (pre-policy)
    index raises with the rebuild hint; refreshing a missing index
    raises; a stamped index straight after build needs no refresh."""
    import shutil

    import pytest as _pytest

    from firstamerican_etl_spark.pipeline.ann_build import (
        ann_refresh_decision,
        refresh_ann_index,
    )

    d = str(tmp_path / "idx")
    build_ann_index(spark, sf_dir, d, n_cells=8, lloyd_rounds=1)
    # simulate a pre-policy index: drop the stamp
    shutil.rmtree(os.path.join(d, "train_meta.parquet"))
    with _pytest.raises(ValueError, match="train_meta"):
        ann_refresh_decision(spark, d)
    # refresh falls back to the centroid count for n_cells and stamps
    rst = refresh_ann_index(spark, d)
    assert rst.n_cells == 8
    dec = ann_refresh_decision(spark, d)  # stamped now
    assert not dec.refresh
    with _pytest.raises(ValueError, match="no committed ANN index"):
        refresh_ann_index(spark, str(tmp_path / "nope"))


def test_refresh_swap_failure_restores_live_index(spark, sf_dir, tmp_path, monkeypatch):
    """The r10 sixth-review hazard: promotion (rename gen -> out_dir)
    failing AFTER the live index was parked must restore the parked
    index and must NOT delete the trained generation until a complete
    index is back at out_dir. Inject a failure into exactly that
    rename and require (a) the error propagates, (b) the ORIGINAL
    index is back at out_dir and still serves, (c) no .old debris."""
    import glob as _glob

    from firstamerican_etl_spark.pipeline.ann_build import refresh_ann_index

    d = str(tmp_path / "idx")
    build_ann_index(spark, sf_dir, d, n_cells=8, lloyd_rounds=1)
    before = sorted(
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(d, "assignments.parquet"))
        .select("vec_id").limit(5).collect()
    )

    real_rename = os.rename

    def failing_rename(src, dst):
        if dst == d and ".gen-" in src:  # the promotion rename only
            raise OSError(28, "No space left on device (injected)")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        refresh_ann_index(spark, d)
    monkeypatch.undo()

    # live index restored at out_dir, identical content, still serves
    assert os.path.exists(os.path.join(d, "assignments.parquet", "_SUCCESS"))
    after = sorted(
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(d, "assignments.parquet"))
        .select("vec_id").limit(5).collect()
    )
    assert after == before
    assert _glob.glob(d + ".old-*") == []  # no parked debris left behind


def test_refresh_accepts_trailing_slash(spark, sf_dir, tmp_path):
    """A trailing slash must not nest the sibling generation inside
    the live index (the swap renames would then fail or corrupt)."""
    from firstamerican_etl_spark.pipeline.ann_build import refresh_ann_index

    d = str(tmp_path / "idx")
    build_ann_index(spark, sf_dir, d, n_cells=8, lloyd_rounds=1)
    rst = refresh_ann_index(spark, d + "/")
    assert rst.n_cells == 8
    assert os.path.exists(os.path.join(d, "assignments.parquet", "_SUCCESS"))
