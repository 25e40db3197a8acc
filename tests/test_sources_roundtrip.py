"""Source/sink round-trip contracts: a table written through each
supported sink and read back must be value-identical and keep its
schema. Covers csv (read_csv with explicit schema) and partitioned
parquet re-read; the ORC round trip is the registered query
``orc_source_roundtrip``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from firstamerican_etl_spark.sources.io import (
    load_table,
    read_csv,
    write_parquet,
)


def _sorted_rows(df, key):
    return [tuple(r) for r in df.orderBy(key).collect()]


def write_range_clustered(df, path: str, cluster_by: list[str], num_files: int):
    """Range-clustered parquet layout: repartitionByRange on the
    cluster keys + sortWithinPartitions before writing, so each output
    file covers a narrow, (near-)disjoint key range. Parquet row-group
    min/max stats then make selective scans skip whole files — the
    layout-level complement to predicate pushdown, and the standard
    answer for time-series/fact tables queried by key range. Unlike
    hive partitionBy (one DIRECTORY per value), the file count stays
    fixed on a high-cardinality column."""
    (
        df.repartitionByRange(num_files, *cluster_by)
        .sortWithinPartitions(*cluster_by)
        .write.mode("overwrite")
        .parquet(path)
    )


def test_csv_roundtrip_pipe_delimited(spark, sf_dir, tmp_path):
    n = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_csv")
    n.write.mode("overwrite").option("sep", "|").option("header", True).csv(path)
    back = read_csv(spark, path, schema=n.schema)
    assert back.schema == n.schema
    assert _sorted_rows(back, "n_nationkey") == _sorted_rows(n, "n_nationkey")


def test_partitioned_parquet_roundtrip(spark, sf_dir, tmp_path):
    c = load_table(spark, sf_dir, "customer")
    path = str(tmp_path / "cust_part")
    write_parquet(c, path, partition_by=["c_mktsegment"])
    back = spark.read.parquet(path).select(*c.columns)
    assert sorted(back.columns) == sorted(c.columns)
    assert back.count() == c.count()


def test_range_clustered_layout_prunes(spark, sf_dir, tmp_path):
    """write_range_clustered must produce files with (near-)disjoint
    key ranges: each file's [min, max] span of the cluster key may
    overlap the union of other files' spans on at most boundary
    values, and a narrow range predicate must row-group-skip (verified
    via per-file min/max from parquet footers)."""
    import pyarrow.parquet as pq
    from pathlib import Path

    o = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_ranged")
    write_range_clustered(o, path, ["o_orderkey"], num_files=8)

    spans = []
    for f in sorted(Path(path).glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "o_orderkey"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    assert len(spans) >= 4  # range partitioner actually split the data
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"file ranges overlap: [{lo1},{hi1}] vs [{lo2},{hi2}]"

    # round-trip integrity
    back = spark.read.parquet(path)
    assert back.count() == o.count()


def test_read_parquet_ignore_corrupt(spark, sf_dir, tmp_path):
    """Recovery-read mode: a garbage file in the dataset fails the
    strict read but is skipped under ignore_corrupt=True, with all
    healthy rows intact."""
    import pytest as _pytest

    from firstamerican_etl_spark.sources.io import read_parquet

    n = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_with_garbage")
    n.write.mode("overwrite").parquet(path)
    with open(f"{path}/part-99999-garbage.parquet", "wb") as f:
        f.write(b"not a parquet file at all")

    with _pytest.raises(Exception):
        read_parquet(spark, path).count()
    assert read_parquet(spark, path, ignore_corrupt=True).count() == n.count()


def test_parquet_schema_evolution_merge(spark, sf_dir, tmp_path):
    """Schema evolution on a growing dataset: files written before a
    column existed must read back with nulls for it once mergeSchema
    unifies the footers — the append-only warehouse pattern (new
    extract vintages gain columns; history is never rewritten)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolving")
    old = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    old.write.parquet(path)  # vintage 1: two columns
    new = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", F.lit("v2").alias("vintage")
    )
    new.write.mode("append").parquet(path)  # vintage 2: adds a column

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"n_nationkey", "n_name", "vintage"}
    n = old.count()
    assert merged.count() == 2 * n
    # vintage-1 rows surface the new column as null, not an error
    assert merged.filter(F.col("vintage").isNull()).count() == n
    assert merged.filter(F.col("vintage") == "v2").count() == n


def test_jsonlgz_writer_roundtrip(spark, sf_dir, tmp_path):
    """Custom Python DataSource WRITER: documents exported as sharded
    .jsonl.gz on executors, read back via Spark's native gzip-aware
    JSON reader with an explicit schema — values round-trip exactly
    and the _SUCCESS manifest lists every committed shard."""
    import gzip
    import os

    from pyspark.sql import functions as F

    from firstamerican_etl_spark.sources.jsonlgz import JsonlGzDataSource

    spark.dataSource.register(JsonlGzDataSource)
    src = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    out = str(tmp_path / "docs_jsonl_gz")
    src.write.format("jsonlgz").mode("overwrite").option("path", out).save()

    shards = [f for f in os.listdir(out) if f.endswith(".jsonl.gz")]
    assert shards, "no shards written"
    with open(os.path.join(out, "_SUCCESS")) as f:
        manifest = f.read().splitlines()
    assert sorted(shards) == manifest
    with gzip.open(os.path.join(out, shards[0]), "rt") as f:
        first = f.readline()
    assert first.startswith("{")

    back = spark.read.schema(src.schema).json(out)
    assert back.count() == src.count()
    # order-insensitive exact content equality
    a = src.exceptAll(back).count()
    b = back.exceptAll(src).count()
    assert a == 0 and b == 0


def test_wds_tar_shard_roundtrip(spark, tmp_path):
    """WebDataset tar shards: binary + string member columns survive
    the pack→manifest→unpack round trip byte-for-byte, the _SUCCESS
    manifest lists every committed shard, and the reader honors the
    manifest (an uncommitted orphan shard is invisible)."""
    import os
    import tarfile

    from firstamerican_etl_spark.sources.wds import WdsDataSource

    spark.dataSource.register(WdsDataSource)
    src = spark.range(20).select(
        F.col("id").cast("string").alias("__key__"),
        F.col("id").cast("string").cast("binary").alias("ppm"),
        F.concat(F.lit('{"v":'), F.col("id"), F.lit("}")).alias("json"),
    )
    out = str(tmp_path / "wds")
    src.repartition(3).write.format("wds").mode("overwrite").option(
        "path", out
    ).save()

    shards = sorted(f for f in os.listdir(out) if f.endswith(".tar"))
    with open(os.path.join(out, "_SUCCESS")) as f:
        manifest = f.read().splitlines()
    assert sorted(shards) == manifest
    assert len(shards) == 3

    # an orphan shard NOT in the manifest must be invisible to readers
    with tarfile.open(os.path.join(out, "shard-orphan.tar"), "w") as tar:
        import io as _io

        info = tarfile.TarInfo("999.ppm")
        info.size = 1
        tar.addfile(info, _io.BytesIO(b"x"))

    back = (
        spark.read.format("wds")
        .option("path", out)
        .option("columns", "ppm:binary,json:string")
        .load()
    )
    rows = {r["__key__"]: r for r in back.collect()}
    assert len(rows) == 20 and "999" not in rows
    for i in range(20):
        r = rows[str(i)]
        assert bytes(r["ppm"]) == str(i).encode()
        assert r["json"] == '{"v":%d}' % i


def test_wds_schema_inference_from_first_sample(spark, tmp_path):
    """Without a columns option the reader infers one column per
    member extension of the first sample (.json as string, unknown
    extensions as binary)."""
    from firstamerican_etl_spark.sources.wds import WdsDataSource

    spark.dataSource.register(WdsDataSource)
    src = spark.range(5).select(
        F.col("id").cast("string").alias("__key__"),
        F.lit(b"\x00\x01").alias("img"),
        F.lit('{"a":1}').alias("json"),
    )
    out = str(tmp_path / "wds2")
    src.coalesce(1).write.format("wds").mode("overwrite").option("path", out).save()
    back = spark.read.format("wds").option("path", out).load()
    kinds = dict(back.dtypes)
    assert kinds["img"] == "binary" and kinds["json"] == "string"
    assert back.count() == 5


def test_wds_overwrite_is_crash_safe(spark, tmp_path):
    """Overwrite must not destroy the previous generation before the
    new one commits: old shards are retired in commit(), a subdirectory
    in the target dir is never touched, and a second overwrite leaves
    exactly the new generation (no stale shards accumulating)."""
    import os

    from firstamerican_etl_spark.sources.wds import WdsDataSource, WdsWriter

    spark.dataSource.register(WdsDataSource)
    out = str(tmp_path / "wds_ow")

    def write_gen(n):
        src = spark.range(n).select(
            F.col("id").cast("string").alias("__key__"),
            F.col("id").cast("string").cast("binary").alias("ppm"),
        )
        src.coalesce(1).write.format("wds").mode("overwrite").option("path", out).save()

    write_gen(5)
    gen1 = sorted(f for f in os.listdir(out) if f.endswith(".tar"))
    # a subdirectory must survive overwrite (the old code crashed on it)
    os.makedirs(os.path.join(out, "subdir"), exist_ok=True)

    # simulate the pre-commit window of a second overwrite: constructing
    # the writer (what a starting job does) must leave gen1 readable
    schema = spark.range(1).select(
        F.lit("k").alias("__key__"), F.lit(b"x").alias("ppm")
    ).schema
    WdsWriter(schema, {"path": out}, overwrite=True)
    still = sorted(f for f in os.listdir(out) if f.endswith(".tar"))
    assert still == gen1
    assert os.path.exists(os.path.join(out, "_SUCCESS"))

    write_gen(7)
    gen2 = sorted(f for f in os.listdir(out) if f.endswith(".tar"))
    assert not set(gen1) & set(gen2)  # old generation fully retired
    with open(os.path.join(out, "_SUCCESS")) as f:
        assert f.read().splitlines() == gen2
    assert os.path.isdir(os.path.join(out, "subdir"))
    back = (
        spark.read.format("wds")
        .option("path", out)
        .option("columns", "ppm:binary")
        .load()
    )
    assert back.count() == 7


def test_extract_zips_rejects_duplicate_member_within_one_archive(tmp_path):
    """The zip format permits repeated entry names inside ONE archive;
    two such jobs race in the extraction thread pool exactly like a
    cross-archive collision — both must be rejected loudly."""
    import zipfile

    import pytest

    from firstamerican_etl_spark.sources.io import extract_zips

    zp = tmp_path / "dupe.txt.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("Deed.txt", "a|1\n")
        zf.writestr("Deed.txt", "b|2\n")  # second entry, same name
    with pytest.raises(ValueError, match="twice in"):
        extract_zips([str(zp)], str(tmp_path / "out"))

    # cross-archive duplicate still rejected
    z1, z2 = tmp_path / "c1.txt.zip", tmp_path / "c2.txt.zip"
    for z in (z1, z2):
        with zipfile.ZipFile(z, "w") as zf:
            zf.writestr("Deed.txt", "x|9\n")
    with pytest.raises(ValueError, match="in both"):
        extract_zips([str(z1), str(z2)], str(tmp_path / "out2"))

    # disjoint members extract fine, including in parallel
    z3, z4 = tmp_path / "d1.txt.zip", tmp_path / "d2.txt.zip"
    with zipfile.ZipFile(z3, "w") as zf:
        zf.writestr("A.txt", "1\n")
        zf.writestr("B.txt", "2\n")
    with zipfile.ZipFile(z4, "w") as zf:
        zf.writestr("C.txt", "3\n")
    out = extract_zips([str(z3), str(z4)], str(tmp_path / "out3"))
    assert sorted(p.rsplit("/", 1)[-1] for p in out) == ["A.txt", "B.txt", "C.txt"]


def test_jsonlgz_overwrite_is_crash_safe(spark, sf_dir, tmp_path):
    """The wds crash-safe protocol applied to jsonlgz (r10 review —
    the old writer deleted the WHOLE previous generation up front,
    leaving nothing readable if the job then failed, and os.remove
    crashed outright on a subdirectory entry): constructing a new
    overwrite writer must leave the old generation intact; a completed
    overwrite retires it."""
    import os

    from firstamerican_etl_spark.sources.jsonlgz import (
        JsonlGzDataSource,
        JsonlGzWriter,
    )

    spark.dataSource.register(JsonlGzDataSource)
    out = str(tmp_path / "jl_ow")

    def write_gen(n):
        spark.range(n).selectExpr("id", "CAST(id AS STRING) AS s").coalesce(
            1
        ).write.format("jsonlgz").mode("overwrite").option("path", out).save()

    write_gen(5)
    gen1 = sorted(f for f in os.listdir(out) if f.endswith(".jsonl.gz"))
    os.makedirs(os.path.join(out, "subdir"), exist_ok=True)  # old code: crash

    schema = spark.range(1).selectExpr("id", "CAST(id AS STRING) AS s").schema
    JsonlGzWriter(schema, {"path": out}, overwrite=True)
    still = sorted(f for f in os.listdir(out) if f.endswith(".jsonl.gz"))
    assert still == gen1  # pre-commit window leaves gen1 fully readable
    assert os.path.exists(os.path.join(out, "_SUCCESS"))

    write_gen(7)
    gen2 = sorted(f for f in os.listdir(out) if f.endswith(".jsonl.gz"))
    assert not set(gen1) & set(gen2)  # old generation fully retired
    with open(os.path.join(out, "_SUCCESS")) as f:
        assert f.read().splitlines() == gen2
    assert os.path.isdir(os.path.join(out, "subdir"))
    back = spark.read.json(out)
    assert back.count() == 7


def test_custom_sink_append_merges_manifest(spark, tmp_path):
    """mode('append') on the custom sinks must UNION the old manifest
    with the new shards (r10 review: rewriting _SUCCESS with only the
    new job's names silently hid every previous shard from
    manifest-honoring readers)."""
    import os

    from firstamerican_etl_spark.sources.jsonlgz import JsonlGzDataSource
    from firstamerican_etl_spark.sources.wds import WdsDataSource

    spark.dataSource.register(JsonlGzDataSource)
    spark.dataSource.register(WdsDataSource)

    out_j = str(tmp_path / "jl_ap")
    df = spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s")
    df.coalesce(1).write.format("jsonlgz").mode("overwrite").option(
        "path", out_j
    ).save()
    df.coalesce(1).write.format("jsonlgz").mode("append").option(
        "path", out_j
    ).save()
    shards = sorted(f for f in os.listdir(out_j) if f.endswith(".jsonl.gz"))
    with open(os.path.join(out_j, "_SUCCESS")) as f:
        assert f.read().splitlines() == shards  # union, not replacement
    assert len(shards) == 2
    assert spark.read.json(out_j).count() == 6

    out_w = str(tmp_path / "wds_ap")
    src = spark.range(3).select(
        F.col("id").cast("string").alias("__key__"),
        F.col("id").cast("string").cast("binary").alias("ppm"),
    )
    src.coalesce(1).write.format("wds").mode("overwrite").option(
        "path", out_w
    ).save()
    src.selectExpr(
        "CAST(CAST(__key__ AS BIGINT) + 100 AS STRING) AS __key__", "ppm"
    ).coalesce(1).write.format("wds").mode("append").option(
        "path", out_w
    ).save()
    tars = sorted(f for f in os.listdir(out_w) if f.endswith(".tar"))
    with open(os.path.join(out_w, "_SUCCESS")) as f:
        assert f.read().splitlines() == tars
    back = (
        spark.read.format("wds")
        .option("path", out_w)
        .option("columns", "ppm:binary")
        .load()
    )
    assert back.count() == 6


def test_compact_parquet_dir_merges_appended_schema(spark, tmp_path):
    """r10 review: the partitioned compaction took its data schema from
    ONE arbitrary leaf footer, permanently dropping any column a later
    append added — during a pass that promises to be layout-only."""
    import os

    from firstamerican_etl_spark.sources.io import compact_parquet_dir

    out = str(tmp_path / "evolving")
    spark.range(10).selectExpr(
        "id", "CAST(id % 2 AS STRING) AS part"
    ).repartition(4).write.partitionBy("part").parquet(out)
    # later append carries an EXTRA column
    spark.range(10, 20).selectExpr(
        "id", "id * 2 AS extra", "CAST(id % 2 AS STRING) AS part"
    ).repartition(4).write.mode("append").partitionBy("part").parquet(out)

    report = compact_parquet_dir(spark, out, target_bytes=1 << 30)
    assert report["compacted"], report
    back = spark.read.option("mergeSchema", "true").parquet(out)
    assert "extra" in back.columns  # the appended column SURVIVES
    assert back.count() == 20
    assert back.filter("extra IS NOT NULL").count() == 10


def test_partitioned_write_exceeding_concurrent_writer_cap(spark, tmp_path):
    """The session factory sets maxConcurrentOutputFileWriters=4
    (skip the dynamic-partition sort for our one-county-per-split
    staging shape). Semantics must be unchanged on the OTHER side of
    the cap: a single task seeing many more distinct partition values
    than 4 takes the residue-sort fallback mid-write. 20 partition
    values through 1 input partition: every row must land in its
    partition dir, exactly once."""
    from firstamerican_etl_spark.sources.io import write_parquet

    assert spark.conf.get("spark.sql.maxConcurrentOutputFileWriters") == "4"
    df = spark.range(1000).selectExpr(
        "id", "CAST(id % 20 AS STRING) AS part"
    ).coalesce(1)
    out = str(tmp_path / "many_parts")
    write_parquet(df, out, partition_by=["part"])
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert back.select("part").distinct().count() == 20
    assert back.groupBy("id").count().filter("count > 1").count() == 0


def test_cpu_spread_engages_and_preserves_results(spark, sf_dir):
    """cpu_spread (r14, guide §2.5): on a low-split input the loaded
    table must gain exactly one deterministic REPARTITION_BY_NUM
    exchange sized to the session's cores, and an exact aggregate over
    it must be bit-identical to the unspread plan."""
    from pyspark.sql import functions as F

    from firstamerican_etl_spark.sources.io import load_table, load_table_spread

    plain = load_table(spark, sf_dir, "lineitem")
    spread = load_table_spread(spark, sf_dir, "lineitem", "l_orderkey", "l_linenumber")
    plan = spread._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" in plan or "RepartitionByExpression" in plan
    physical = spread._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in physical
    cores = spark.sparkContext.defaultParallelism
    assert spread.rdd.getNumPartitions() == cores

    def report(df):
        return (
            df.groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sq"),
            )
            .orderBy("l_returnflag")
            .collect()
        )

    assert report(plain) == report(spread)


def test_cpu_spread_noop_when_input_splits_to_cores(spark, sf_dir, monkeypatch):
    """The scale gate: when on-disk bytes / maxPartitionBytes already
    yields >= one scan task per core (the 100 TB regime), cpu_spread
    must return the input UNCHANGED — no extra exchange at scale."""
    from firstamerican_etl_spark.sources import io as io_mod

    monkeypatch.setattr(io_mod, "_dir_bytes", lambda path: 1 << 50)
    spread = io_mod.load_table_spread(spark, sf_dir, "lineitem", "l_orderkey")
    plan = spread._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in plan


# Every registered query that opts into cpu_spread (the r14 batch-3
# sites, minus heavy_hitters_cms whose spread was reverted in r15 after
# the win failed to reproduce). A new spread call site must be added
# here so the scale gate is audited on the REAL query plan, not just
# the load_table_spread fixture (VERDICT r14 #8).
_CPU_SPREAD_SITES = [
    "stats_moments_stable",
    "bootstrap_mean_ci_poisson",
    "doc_containment_pairs",
    "cdc_chunk_dedup",
    # r15: the numpy SimHash vote pass rides the scan partitioning —
    # single-task without the spread (measured pathological under load)
    "dedup_simhash",
    "dedup_simhash_pairs",
]


@pytest.mark.parametrize("name", _CPU_SPREAD_SITES)
def test_cpu_spread_gate_disengages_per_site_at_scale(
    spark, sf_dir, monkeypatch, name
):
    """VERDICT r14 #8: the gate must disengage on EVERY applied call
    site when the input is big enough to split into >= cores scan
    tasks — asserted on each query's actual executed plan, with the
    input-size estimate forced to the 100 TB regime."""
    from firstamerican_etl_spark.plans.registry import load_all
    from firstamerican_etl_spark.sources import io as io_mod

    monkeypatch.setattr(io_mod, "_dir_bytes", lambda path: 1 << 50)
    df = load_all()[name].spark(spark, sf_dir)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" not in physical, (
        f"{name}: cpu_spread exchange present despite scale-sized input"
    )


def test_cpu_spread_gate_disengages_on_real_multifile_layout(
    spark, sf_dir, tmp_path
):
    """The same disengagement WITHOUT monkeypatching the size probe:
    a real on-disk parquet dir whose genuine bytes exceed
    cores × maxPartitionBytes (maxPartitionBytes is dropped to 2 KB
    for the check — runtime conf, restored in finally) must pass the
    gate arithmetic end-to-end (_dir_bytes walk + conf parse) and add
    no exchange; the same dir under the default 128 MB split must
    spread. Mirrors a multi-row-group sf>=1 layout at test cost."""
    from firstamerican_etl_spark.sources import io as io_mod

    src = io_mod.load_table(spark, sf_dir, "documents").limit(500)
    path = str(tmp_path / "documents.parquet")
    src.write.mode("overwrite").parquet(path)
    conf_key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf_key)
    try:
        spark.conf.set(conf_key, "2k")
        df = io_mod.cpu_spread(
            spark.read.parquet(path), "doc_id", input_path=path
        )
        assert "Repartition" not in (
            df._jdf.queryExecution().optimizedPlan().toString()
        )
    finally:
        spark.conf.set(conf_key, old)
    # sanity: under the default split size the same small dir spreads
    df2 = io_mod.cpu_spread(
        spark.read.parquet(path), "doc_id", input_path=path
    )
    assert "Repartition" in (
        df2._jdf.queryExecution().optimizedPlan().toString()
    )
