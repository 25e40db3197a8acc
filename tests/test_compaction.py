"""Small-files compaction: content preservation, trigger policy,
idempotence."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from firstamerican_etl_spark.sources.io import compact_parquet_dir, load_table


def _value_hash(df) -> int:
    cols = [F.col(c).cast("string") for c in sorted(df.columns)]
    return df.select(F.sum(F.xxhash64(*cols)).alias("h")).collect()[0]["h"]


def test_compaction_preserves_content_and_reduces_files(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "events")
    d = str(tmp_path / "frag")
    # fragment: many tiny files
    src.repartition(64).write.parquet(d)
    before_files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(before_files) == 64
    n0, h0 = src.count(), _value_hash(spark.read.parquet(d))

    rep = compact_parquet_dir(spark, d, target_bytes=1 << 30)
    assert rep["compacted"] is True
    after_files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(after_files) < 64
    got = spark.read.parquet(d)
    assert got.count() == n0
    assert _value_hash(got) == h0
    # no leftover generation or parked copy, whatever its name
    assert os.listdir(tmp_path) == ["frag"]


def test_compaction_noop_when_files_already_big(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "events")
    d = str(tmp_path / "ok")
    src.coalesce(1).write.parquet(d)
    rep = compact_parquet_dir(spark, d, target_bytes=1 << 20, trigger_ratio=0.001)
    assert rep["compacted"] is False
    assert rep["files_before"] == rep["files_after"]


def test_compaction_idempotent(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "events")
    d = str(tmp_path / "twice")
    src.repartition(32).write.parquet(d)
    r1 = compact_parquet_dir(spark, d, target_bytes=1 << 30)
    assert r1["compacted"] is True
    r2 = compact_parquet_dir(spark, d, target_bytes=1 << 30)
    assert r2["compacted"] is False  # second pass: already compact


def test_compaction_preserves_partition_layout(spark, sf_dir, tmp_path):
    """A hive-partitioned dir keeps its key=value layout (the index!)
    through compaction, with fewer files and identical content."""
    src = load_table(spark, sf_dir, "events").withColumnRenamed(
        "event_type", "split"
    )
    d = str(tmp_path / "part")
    src.repartition(16).write.partitionBy("split").parquet(d)
    n0, h0 = src.count(), _value_hash(spark.read.parquet(d))
    before = len([f for r, _d, fs in os.walk(d) for f in fs if f.endswith(".parquet")])

    rep = compact_parquet_dir(spark, d, target_bytes=1 << 30)
    assert rep["compacted"] is True
    assert rep["partition_keys"] == ["split"]
    # layout survived
    subdirs = [e for e in os.listdir(d) if e.startswith("split=")]
    assert len(subdirs) >= 2
    after = len([f for r, _d, fs in os.walk(d) for f in fs if f.endswith(".parquet")])
    assert after < before
    got = spark.read.parquet(d)
    assert got.count() == n0
    assert _value_hash(got) == h0


def test_compaction_preserves_ambiguous_partition_values(spark, tmp_path):
    """Type-ambiguous partition values must survive compaction
    VERBATIM (ADVICE r7): with default type inference the rewrite
    re-read would turn split=05 into int 5 and date-like strings into
    dates, silently renaming directories and retyping the column.
    Also pins that the inference conf is restored afterwards."""
    df = spark.range(2000).select(
        F.col("id"),
        F.format_string("%02d", (F.col("id") % 3).cast("int")).alias("split"),
    )
    d = str(tmp_path / "amb")
    df.repartition(16).write.partitionBy("split").parquet(d)
    dirs_before = sorted(e for e in os.listdir(d) if e.startswith("split="))
    assert dirs_before == ["split=00", "split=01", "split=02"]
    conf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    old = spark.conf.get(conf_key, "true")

    rep = compact_parquet_dir(spark, d, target_bytes=1 << 30)
    assert rep["compacted"] is True
    assert spark.conf.get(conf_key, "true") == old  # conf restored
    dirs_after = sorted(e for e in os.listdir(d) if e.startswith("split="))
    assert dirs_after == dirs_before  # zero-padded values intact
    got = spark.read.parquet(d)
    assert got.count() == 2000
    assert sorted(
        r["split"] for r in got.select("split").distinct().collect()
    ) == [0, 1, 2]  # downstream readers re-infer exactly as before


def test_compaction_keeps_a_column_added_by_a_later_append(spark, tmp_path):
    """An unpartitioned dir whose later append added a column keeps
    that column through compaction: the rewrite must read the schema
    merged over every file, not the one footer Spark's default read
    takes (the first file by path). The appended file is named to sort
    last, as sequence-numbered landings do, so that footer is a
    pre-append one."""
    import glob

    d = str(tmp_path / "evolved")
    spark.range(200).repartition(8).write.parquet(d)
    spark.range(200, 210).coalesce(1).withColumn(
        "extra", F.col("id") * 2
    ).write.mode("append").parquet(d)
    before = set(glob.glob(os.path.join(d, "part-*.parquet")))
    wide = [f for f in before if len(spark.read.parquet(f).columns) == 2]
    assert len(before) == 9 and len(wide) == 1
    os.rename(wide[0], os.path.join(d, "part-99999-appended.parquet"))

    rep = compact_parquet_dir(spark, d, target_bytes=1 << 30)
    assert rep["compacted"] is True
    got = spark.read.option("mergeSchema", "true").parquet(d)
    assert sorted(got.columns) == ["extra", "id"]
    assert got.count() == 210
    assert got.filter(F.col("extra") == F.col("id") * 2).count() == 10


def test_failed_promotion_restores_the_original_dir(spark, tmp_path, monkeypatch):
    """A promotion rename that fails after the live dir was parked must
    put the original dir back: the error propagates, every row still
    reads at the original path, and no generation or parked copy is
    left next to it."""
    import pytest

    d = str(tmp_path / "frag")
    spark.range(500).repartition(16).write.parquet(d)

    real_rename = os.rename
    fired = []

    def failing_rename(src, dst):
        if dst == d and not fired:  # the first rename onto the live path
            fired.append(src)
            raise OSError(28, "No space left on device (injected)")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        compact_parquet_dir(spark, d, target_bytes=1 << 30)
    monkeypatch.undo()

    assert fired
    assert spark.read.parquet(d).count() == 500
    assert os.listdir(tmp_path) == ["frag"]
