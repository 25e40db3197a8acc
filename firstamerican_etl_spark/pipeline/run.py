"""Pipeline orchestration — the reference's ``main()`` (fa-etl.py:510-615)
re-expressed for Spark, operators O1-O7 (SURVEY.md §2.11).

Differences from the reference, by design:

- **Many files per family** (the reference's ``#@TODO: generalize this
  to multiple files``, fa-etl.py:581-582): all county files of a family
  are read together (Spark's multi-path reader ≡ unionByName on a
  common staging schema) so the unified merge covers every county.
- **No temp parquet round-trips**: each family is one lazy plan from
  raw CSV to staged parquet; ranked outputs reuse the staged frames.
- **Idempotent resume** via the ``_SUCCESS`` marker (fixes the
  precedence bug at fa-etl.py:323 — ``not a & b`` ≡ ``(not a) & b`` —
  rather than replicating it).
- **Partitioned staging**: staged/unified parquet can be written
  partitioned by FIPS (county), mirroring the reference's per-county
  file layout so a national 100 TB run gets partition pruning.

CLI (O1, fa-etl.py:600-609)::

    python -m firstamerican_etl_spark.pipeline.run \
        --input_dir DIR --log_file LOG \
        --annual_file_string Prop --value_history_file_string ValHist
"""

from __future__ import annotations

import argparse
import functools
import logging
import os
import shutil
import sys
import time

from pyspark.sql import DataFrame, SparkSession

from firstamerican_etl_spark.operators.scale import concurrent_actions
from firstamerican_etl_spark.pipeline.convert import (
    clean_deed,
    clean_prop,
    clean_taxhist,
    clean_valhist,
    rank_deed,
    read_family_csv,
    valhist_long,
)
from firstamerican_etl_spark.pipeline.unify import unify
from firstamerican_etl_spark.sources.io import (
    extract_zips,
    stage_is_fresh,
    write_parquet,
)

log = logging.getLogger("fa_pipeline")

#: family key → (clean fn, ranked fn or None)
_FAMILY_STAGES = {
    "deed": (clean_deed, rank_deed),
    "prop": (clean_prop, None),
    "taxhist": (clean_taxhist, None),
    "valhist": (clean_valhist, valhist_long),
}


def discover_families(
    raw_dir: str, annual_file_string: str, value_history_file_string: str
) -> dict[str, list[str]]:
    """File-family discovery by filename substring (O3, fa-etl.py:533-539;
    naming variants Prop|Annual, ValHist|ValueHistory per fa-etl.sh:10-11
    vs fa-etl.sbatch:28-29)."""
    filenames = sorted(
        f for f in os.listdir(raw_dir) if os.path.isfile(os.path.join(raw_dir, f))
    )
    markers = {
        "deed": "Deed",
        "prop": annual_file_string,
        "taxhist": "TaxHist",
        "valhist": value_history_file_string,
    }
    return {
        fam: [f for f in filenames if marker in f] for fam, marker in markers.items()
    }


def preflight(families: dict[str, list[str]], where: str) -> None:
    """Abort unless ≥1 file of each family (O4, fa-etl.py:541-545)."""
    missing = [fam for fam, files in families.items() if not files]
    if missing:
        raise FileNotFoundError(
            f"{where} is missing required file families: {missing}"
        )


def _prepare_inputs(
    raw_dir: str, unzipped_dir: str, filenames: list[str]
) -> list[str]:
    """Zip prep (S1/O7, fa-etl.py:53-55): ``.txt.zip`` → txt driver-side
    (zip is not a splittable codec for Spark's text source); plain
    ``.txt``/``.csv`` pass through untouched."""
    paths: list[str] = []
    zips = [os.path.join(raw_dir, f) for f in filenames if f.endswith(".zip")]
    plain = [os.path.join(raw_dir, f) for f in filenames if not f.endswith(".zip")]
    if zips:
        paths.extend(extract_zips(zips, unzipped_dir))
    paths.extend(plain)
    return paths


def _bucket_table(fam: str, input_dir: str) -> str:
    """Catalog name for a bucketed staging table: hashlib over the
    resolved input_dir plus the raw files' (name, mtime, size) — stable
    across restarts (builtin hash() is per-process salted) and rolled
    over when inputs are regenerated, so a resumed session can never
    read a bucketed table staged from older source data."""
    import hashlib

    raw = os.path.join(input_dir, "raw")
    h = hashlib.sha1(os.path.abspath(input_dir).encode())
    try:
        for f in sorted(os.listdir(raw)):
            st = os.stat(os.path.join(raw, f))
            h.update(f"|{f}:{st.st_mtime_ns}:{st.st_size}".encode())
    except OSError:
        pass
    return f"fa_bucketed_{fam}_{h.hexdigest()[:12]}"


_SHUFFLE_TARGET_BYTES = 256 << 20  # uncompressed input text per partition


def _scaled_shuffle_conf(spark: SparkSession, raw_dir: str) -> dict[str, str] | None:
    """Size ``spark.sql.shuffle.partitions`` from the MEASURED input
    volume before any pipeline job runs. Returns the conf entries to
    restore afterwards, or None when nothing changed.

    Why (r13 100M decade probe): the unify/valhist SHUFFLE_HASH safety
    argument is "each build map is bounded by build_bytes /
    shuffle_partitions" — true on a cluster where partitions scale
    with data, FALSE under a pinned local count: at 100M props and 32
    partitions every build map grew 10× past the 20M-tuned size and
    the merge died with SparkOutOfMemoryError('not enough memory to
    build hash map'). SMJ degrades by spilling; SHJ degrades by
    FAILING, so the partition count must carry the scale. One
    partition per ~256 MB of uncompressed input text keeps each build
    map tens of MB (the 20M/2M bench scales stay at the core count —
    their committed numbers are untouched); AQE's coalescing (
    parallelism-first) still merges away the excess for the small
    shuffles, and a 32 MB advisory size keeps the post-coalesce build
    maps comfortably under the per-task execution-memory share on the
    scaled path. Zip member sizes come from the central directory —
    metadata reads, no decompression."""
    import math
    import zipfile as _zipfile

    total = 0
    for f in os.listdir(raw_dir):
        p = os.path.join(raw_dir, f)
        if not os.path.isfile(p):
            continue
        if f.endswith(".zip"):
            try:
                with _zipfile.ZipFile(p) as zf:
                    total += sum(i.file_size for i in zf.infolist())
            except _zipfile.BadZipFile:
                total += os.path.getsize(p)
        else:
            total += os.path.getsize(p)
    cores = spark.sparkContext.defaultParallelism
    current = int(spark.conf.get("spark.sql.shuffle.partitions"))
    target = max(cores, current, math.ceil(total / _SHUFFLE_TARGET_BYTES))
    if target <= current:
        return None
    old = {
        "spark.sql.shuffle.partitions": str(current),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        ),
    }
    spark.conf.set("spark.sql.shuffle.partitions", str(target))
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
    log.info(
        "input volume %.1f GiB uncompressed -> shuffle.partitions %d -> %d",
        total / 2**30, current, target,
    )
    return old


_FAZIP_MEMBERS_PER_CORE = 4  # measured crossover, SCALING.md §ingest-path


def _auto_fazip(raw_dir: str, cores: int) -> bool:
    """Pick the ingest path from the zip member count (r13 VERDICT
    ask #4). The r13 crossover measurement (SCALING.md): the
    executor-side ``fazip`` DataSource reads one task per zip MEMBER,
    so with fewer members than cores it strands executors behind a few
    fat decompress tasks and LOSES to driver-side extract + parallel
    text scan (8 members / 32 cores: 120.1 s vs 75.7 s); with members
    well past the core count it wins outright by skipping the extract
    barrier and its disk round-trip (128 members: 64.6 s vs 89.4 s —
    the best 20M wall recorded). The measured break-even sits between
    those shapes; members ≥ 4× cores is the conservative side of the
    winning regime (128/32 = exactly 4×). A national run is thousands
    of county zips ⇒ auto picks fazip; a dev/bench shape with a
    handful of zips ⇒ extract. Member counts come from zip central
    directories — metadata only, no decompression (same trick as
    _scaled_shuffle_conf). Non-zip raw files force the extract path:
    the fazip reader handles zips only."""
    import zipfile as _zipfile

    members = 0
    for f in os.listdir(raw_dir):
        p = os.path.join(raw_dir, f)
        if not os.path.isfile(p):
            continue
        if not f.endswith(".zip"):
            return False
        try:
            with _zipfile.ZipFile(p) as zf:
                members += len(zf.infolist())
        except _zipfile.BadZipFile:
            return False  # let the extract path surface the error
    return members >= _FAZIP_MEMBERS_PER_CORE * cores


def run_pipeline(
    spark: SparkSession, input_dir: str, **kwargs
) -> DataFrame:
    """Input-volume-scaled entry: sizes the shuffle partition count
    from the raw input bytes (see _scaled_shuffle_conf — the r13
    100M-prop probe's OOM fix), runs the pipeline, restores the
    session conf. All heavy actions complete inside (the merge is
    WRITTEN before return), so restoring at exit is safe. Keyword
    surface = _run_pipeline_impl's, forwarded verbatim — a single
    source of defaults (r13 review)."""
    raw_dir = os.path.join(input_dir, "raw")
    if kwargs.get("use_fazip_source") is None and os.path.isdir(raw_dir):
        # auto-select the ingest path from the zip member count; an
        # explicit True/False always wins (the override knob)
        kwargs["use_fazip_source"] = _auto_fazip(
            raw_dir, spark.sparkContext.defaultParallelism
        )
        if kwargs["use_fazip_source"]:
            log.info("ingest auto-select: fazip (member count >= %dx cores)",
                     _FAZIP_MEMBERS_PER_CORE)
    old = (
        _scaled_shuffle_conf(spark, raw_dir) if os.path.isdir(raw_dir) else None
    )
    try:
        return _run_pipeline_impl(spark, input_dir, **kwargs)
    finally:
        if old:
            for k, v in old.items():
                spark.conf.set(k, v)


def _run_pipeline_impl(
    spark: SparkSession,
    input_dir: str,
    annual_file_string: str = "Prop",
    value_history_file_string: str = "ValHist",
    partition_staging_by_fips: bool = False,
    validate: bool = False,
    use_fazip_source: bool | None = False,
    bucket_staging: int = 0,
    standardize_geo: bool = False,
    tracts_file: str | None = None,
) -> DataFrame:
    """Full ETL (O2-O7): raw/*.txt.zip → staging/*.parquet → unified/merged.

    Returns the merged DataFrame (also written to
    ``input_dir/unified/merged.parquet``). Stages whose staged output
    already exists (``_SUCCESS``) are skipped (S6 idempotent resume).

    ``use_fazip_source=True`` reads the zips through the custom
    ``fazip`` DataSource (sources/fazip.py): decompression runs on
    executors, one task per zip member — the scale path for a national
    run; the default driver-side unzip mirrors the reference exactly.
    Both paths produce identical staged output (tested). ``None``
    (via ``run_pipeline``) auto-selects from the zip member count
    (_auto_fazip, r13 crossover measurement); here in the impl None
    just means False.

    ``bucket_staging=N`` (the 100 TB join-locality lever,
    operators/scale.write_bucketed): every staged/ranked frame is
    persisted as a PropertyID-bucketed, bucket-sorted table with N
    buckets, so the ENTIRE unified merge — three PropertyID-keyed
    joins — plans with ZERO shuffle exchanges. Same-key rows are
    already co-located, which satisfies the composite (PropertyID,
    Year) join distributions too — but ONLY while
    ``spark.sql.requireAllClusterKeysForCoPartition`` is false (its
    Spark 3.3+/4 default is true, which would demand buckets on the
    full composite key and silently re-plan the exchange), so this
    function pins that conf whenever bucketing is requested. The
    national shuffle happens exactly once, at staging. Bucket metadata
    lives in the session catalog (saveAsTable); a restarted session
    resuming from existing staged files falls back to plain parquet
    reads — in production the catalog is a persistent metastore and
    the fallback never triggers.
    """
    if bucket_staging:
        # Without this, a composite-key join against single-key buckets
        # plans an Exchange anyway (performance, not correctness), and
        # the zero-shuffle claim above is environment-dependent.
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    raw_dir = os.path.join(input_dir, "raw")
    staging_dir = os.path.join(input_dir, "staging")
    unzipped_dir = os.path.join(input_dir, "unzipped")
    unified_dir = os.path.join(input_dir, "unified")
    for d in (staging_dir, unzipped_dir, unified_dir):
        os.makedirs(d, exist_ok=True)
    if not os.path.isdir(raw_dir):
        raise FileNotFoundError(f"no raw/ subdirectory under {input_dir}")

    families = discover_families(raw_dir, annual_file_string, value_history_file_string)
    log.info("files to process: %s", families)
    preflight(families, raw_dir)

    def write_stage(df: DataFrame, path: str, tag: str, partition_by=None) -> None:
        if bucket_staging:
            writer = (
                df.write.mode("overwrite")
                .bucketBy(bucket_staging, "PropertyID")
                .sortBy("PropertyID")
                .option("path", path)
            )
            if partition_by:  # hive-partitioned AND bucketed is valid
                writer = writer.partitionBy(*partition_by)
            writer.format("parquet").saveAsTable(_bucket_table(tag, input_dir))
        else:
            write_parquet(df, path, partition_by=partition_by)

    def read_stage(path: str, tag: str) -> DataFrame:
        if bucket_staging:
            tbl = _bucket_table(tag, input_dir)
            if spark.catalog.tableExists(tbl):
                return spark.table(tbl)
            log.info("bucket table %s absent (new session) — parquet fallback", tbl)
        return spark.read.parquet(path)

    if use_fazip_source:
        # register once, before family threads fan out (registration
        # mutates session state; the reads themselves are thread-safe)
        from firstamerican_etl_spark.sources.fazip import FaZipDataSource

        spark.dataSource.register(FaZipDataSource)

    staged_paths: dict[str, str] = {}
    ranked_paths: dict[str, str] = {}

    def process_family(fam: str, filenames: list[str]) -> None:
        """Full stage→rank chain for one family. Runs on its own thread:
        Spark job submission is thread-safe, and the four families'
        jobs overlap — a single family's CSV scan rarely fills the
        cluster (few county files ⇒ few input splits), so serial
        staging under-utilizes executors AND pays 4× the per-job fixed
        cost (scheduling + committer round-trips) on the wall clock."""
        clean_fn, rank_fn = _FAMILY_STAGES[fam]
        staged_path = os.path.join(staging_dir, fam)
        staged_paths[fam] = staged_path
        ranked_path = os.path.join(staging_dir, f"ranked_{fam}")

        # freshness-aware S6: skip only if the staged output postdates
        # every raw file of the family — a NEW county arriving after
        # the first run forces a restage of exactly this family (a
        # bare existence check would serve stale staging forever)
        raw_inputs = [os.path.join(raw_dir, f) for f in filenames]
        if not stage_is_fresh(staged_path, raw_inputs):
            t0 = time.perf_counter()
            if use_fazip_source and all(f.endswith(".zip") for f in filenames):
                from pyspark.sql import functions as F

                from firstamerican_etl_spark.pipeline.convert import RAW_COLUMNS

                # the EXACT files family discovery selected — not a
                # re-derived marker glob, which (a) crashed on valid
                # names the discovery accepted (Deed36061.zip is a zip
                # but not *.txt.zip) and (b) silently read files that
                # arrived after discovery (r10 review; the marker dict
                # here had also drifted into a copy of
                # discover_families')
                df = (
                    spark.read.format("fazip")
                    .option("paths", os.pathsep.join(raw_inputs))
                    .load()
                )
                raw = df.select(*[c for c in RAW_COLUMNS[fam] if c in df.columns])
                for c in RAW_COLUMNS[fam]:
                    if c not in raw.columns:
                        raw = raw.withColumn(c, F.lit(None).cast("string"))
            else:
                # per-FAMILY unzip subdir: the four family chains run
                # on concurrent threads, and a raw zip matching two
                # family markers would otherwise be extracted by both
                # threads into the SAME output path — a cross-call race
                # the per-call duplicate-member guard in extract_zips
                # cannot see. Disjoint directories make the extraction
                # paths disjoint by construction.
                txts = _prepare_inputs(
                    raw_dir, os.path.join(unzipped_dir, fam), filenames
                )
                log.info("converting %s: %d file(s)", fam, len(txts))
                # one multi-path scan = unionByName across county files on
                # the common staging schema (resolves fa-etl.py:581 TODO)
                raw = read_family_csv(spark, txts, fam)
            staged = clean_fn(raw)
            # df.observe rides the write action: row/key metrics come
            # out of the same job, no second pass over the data (the
            # production replacement for the reference's driver-side
            # mem_profile logging, fa-etl.py:6-11).
            from pyspark.sql import Observation
            from pyspark.sql import functions as F  # noqa: F811

            obs = Observation(f"staged_{fam}")
            # observed metrics forbid DISTINCT aggregates; the HLL
            # approximation is the scale-appropriate probe anyway
            staged = staged.observe(
                obs,
                F.count(F.lit(1)).alias("rows_out"),
                F.approx_count_distinct("PropertyID").alias("approx_properties"),
            )
            write_stage(
                staged,
                staged_path,
                fam,
                partition_by=["FIPS"]
                if partition_staging_by_fips and "FIPS" in staged.columns
                else None,
            )
            log.info(
                "staged %s in %.2fs, metrics: %s",
                fam, time.perf_counter() - t0, obs.get,
            )
        else:
            log.info("%s staged output exists — skipping (S6)", fam)

        if rank_fn is not None:
            ranked_paths[fam] = ranked_path
            # ranked stage is fresh iff it postdates its staged input
            if not stage_is_fresh(
                ranked_path, [os.path.join(staged_path, "_SUCCESS")]
            ):
                t0 = time.perf_counter()
                staged_df = read_stage(staged_path, fam)
                ranked = (
                    rank_fn(staged_df, validate=validate)
                    if fam == "valhist"
                    else rank_fn(staged_df)
                )
                write_stage(ranked, ranked_path, f"ranked_{fam}")
                log.info("ranked %s in %.2fs", fam, time.perf_counter() - t0)
            else:
                log.info("%s ranked output exists — skipping (S6)", fam)

    # One thread per family: each family's stage→rank chain is
    # internally sequential (rank reads staged output) but independent
    # of the other families' chains, so the four chains run
    # concurrently. This is job-level parallelism, not a data hazard:
    # no two chains touch the same paths or catalog entries.
    t_fam = time.perf_counter()
    concurrent_actions(
        *(
            functools.partial(process_family, fam, filenames)
            for fam, filenames in families.items()
        )
    )
    log.info("all family chains done in %.2fs", time.perf_counter() - t_fam)

    # unified merge (fa-etl.py:583-589), re-reading staged output so the
    # merge plan starts from columnar scans with stats pruning (and,
    # under bucket_staging, from catalog tables whose HashPartitioning
    # the joins consume without any exchange)
    t_merge = time.perf_counter()
    prop_staged = read_stage(staged_paths["prop"], "prop")
    if standardize_geo:
        # the spatial-join geo validation the reference's contract
        # documents but never ships (fa-etl.py:492): tract assignment
        # + match status ride the prop side into the unified merge.
        # Real runs MUST pass tracts_file (JSON rings, see
        # pipeline.geo.load_tracts) — without it the stage falls back
        # to the FA_TRACTS test fixture (a 2x2 grid over lat 34-35 /
        # lon -119..-118) and everything outside that box is stamped
        # 'O' with fixture-derived GeoTractIDs.
        from firstamerican_etl_spark.pipeline.geo import load_tracts
        from firstamerican_etl_spark.pipeline.geo import (
            standardize_geo as _std_geo,
        )

        tracts = load_tracts(tracts_file) if tracts_file else None
        if not tracts_file:
            log.warning(
                "standardize_geo running against the FA_TRACTS test "
                "fixture (no --tracts_file given); GeoTractID / "
                "SitusGeoMatch are fixture-derived, not real tracts"
            )
        prop_staged = _std_geo(prop_staged, tracts=tracts)
    merged = unify(
        ranked_valhist=read_stage(ranked_paths["valhist"], "ranked_valhist"),
        prop=prop_staged,
        ranked_deed=read_stage(ranked_paths["deed"], "ranked_deed"),
        taxhist=read_stage(staged_paths["taxhist"], "taxhist"),
        # SHJ build hints (see unify docstring; r12 20M decade probe)
        # — except under bucketed staging. Precisely (ADVICE r12):
        # staging buckets AND sortBy PropertyID only, so the free-sort
        # argument holds just for the single-key prop join; the
        # ranked_deed/taxhist joins are on (PropertyID, Year) and still
        # insert Sorts under SMJ in bucketed mode — but those are
        # near-sorted secondary sorts over input already bucket-sorted
        # on the leading key, not the unbucketed path's 7 GiB spill.
        # The 20M bucketed-vs-hinted A/B lives in SCALING.md
        # ("bucketed staging").
        shuffle_hash_builds=not bucket_staging,
    )
    merged_path = os.path.join(unified_dir, "merged.parquet")
    write_parquet(merged, merged_path)
    log.info("unified merge written in %.2fs", time.perf_counter() - t_merge)

    # temp hygiene (O7, fa-etl.py:592-595)
    shutil.rmtree(unzipped_dir, ignore_errors=True)
    return spark.read.parquet(merged_path)


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(
        description="FA ETL: raw .txt.zip extracts → unified merged parquet"
    )
    parser.add_argument("--input_dir", required=True)
    parser.add_argument("--log_file", required=True)
    parser.add_argument("--annual_file_string", default="Prop")
    parser.add_argument("--value_history_file_string", default="ValHist")
    parser.add_argument("--partition_by_fips", action="store_true")
    parser.add_argument("--validate", action="store_true")
    parser.add_argument(
        "--standardize_geo",
        action="store_true",
        help="run the point-in-polygon geo validation stage "
        "(GeoTractID / SitusGeoMatch columns on the unified output); "
        "pass --tracts_file for real tract rings — WITHOUT it the "
        "stage uses built-in TEST-FIXTURE polygons (a 2x2 grid over "
        "lat 34-35 / lon -119..-118) and every property outside that "
        "box is stamped 'O'",
    )
    parser.add_argument(
        "--tracts_file",
        default=None,
        metavar="TRACTS.json",
        help="JSON tract rings [[tract_id, [[lon_centideg, "
        "lat_centideg], ...]], ...] for --standardize_geo "
        "(see pipeline.geo.load_tracts)",
    )
    parser.add_argument(
        "--bucket_staging",
        type=int,
        default=0,
        metavar="N",
        help="stage as PropertyID-bucketed tables (N buckets) so the "
        "unified merge plans zero shuffle exchanges",
    )
    args = parser.parse_args(argv)

    logging.basicConfig(
        filename=args.log_file,
        format="%(asctime)s:%(message)s",
        level=logging.INFO,
        datefmt="%Y-%m-%d %H:%M:%S",
        force=True,  # honor --log_file even if logging was already configured
    )
    from firstamerican_etl_spark.session import get_spark

    spark = get_spark(app_name="fa_pipeline")
    try:
        merged = run_pipeline(
            spark,
            args.input_dir,
            annual_file_string=args.annual_file_string,
            value_history_file_string=args.value_history_file_string,
            partition_staging_by_fips=args.partition_by_fips,
            validate=args.validate,
            bucket_staging=args.bucket_staging,
            standardize_geo=args.standardize_geo,
            tracts_file=args.tracts_file,
        )
        log.info("merged schema: %s", merged.schema.simpleString())
    except Exception:
        log.exception("pipeline failed")
        sys.exit(1)


if __name__ == "__main__":
    main()
