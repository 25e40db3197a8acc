"""Sources & sinks (SURVEY.md §2.1, S1-S8).

Reference behavior re-expressed Spark-first:

- S1 zip prep: the reference extracts ``.txt.zip`` driver-side before
  scanning (fa-etl.py:53-55 etc.). Spark has no zip codec (gzip would be
  transparent), so we keep driver-side extraction — ``extract_zips``.
- S2 CSV scan: ``pl.scan_csv(sep='|', ignore_errors=True,
  truncate_ragged_lines=True, infer_schema_length=1000)`` (fa-etl.py:60)
  → ``spark.read.csv`` with an *explicit* schema and PERMISSIVE mode.
  Explicit schemas beat inference at 100 TB (inference is an extra pass
  over the data); PERMISSIVE nulls malformed cells like ``ignore_errors``.
- S3/S4 parquet scan/sink: row-group parallel scans, statistics pruning
  and partition discovery are automatic in Spark's parquet source; sinks
  stream from executors (never through the driver) with snappy.
- S5: the reference's eager ``collect(streaming=True)`` +
  ``write_parquet`` split (fa-etl.py:107-110) is a Polars memory
  workaround — in Spark a single ``df.write`` is already distributed
  and out-of-core; never collect to the driver.
- S6 idempotent skip: path-exists guards (fa-etl.py:45-47; note the
  precedence bug at fa-etl.py:323 which we fix, not replicate) →
  ``output_exists`` checks the parquet dir ``_SUCCESS`` marker.
- S7 rollback: Spark's FileOutputCommitter makes partial task output
  invisible; ``mode=overwrite`` covers re-runs. Everything else that
  changes data on disk commits through one of three protocols here:
  ``replace_dir`` (swap a live directory for a new generation),
  ``ManifestShardWriter`` (shard files + a ``_SUCCESS`` manifest) and
  ``publish_file`` (one small file, durably and atomically).
- S8 temp-file dataflow: not needed — plans stay lazy end-to-end.

This module imports nothing from the package, so every layer can use
its commit protocols without an import cycle.
"""

from __future__ import annotations

import os
import shutil
import uuid
import zipfile
from collections.abc import Callable
from pathlib import Path
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage

_R = TypeVar("_R")

#: Canonical test tables (driver-provided, /root/repo/TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table from a scale-factor dir.

    The events table stores TIMESTAMP(NANOS) which Spark's parquet
    reader rejects; read nanos as long (runtime conf) and convert to a
    microsecond timestamp — integer division, never double (epoch-nanos
    exceed 2^53).

    Conf note: nanosAsLong has no reader-level option, so this is a
    session conf — but a WRITE-ONCE constant (always "true", set in
    the session builder too, never restored), not a set/restore
    toggle, so concurrent driver threads can never observe a torn
    window; the repo's ban on mid-flight session-conf mutation
    (compact_parquet_dir's rewrite, test_scale_hygiene's
    no-conf-mutation audit) is about toggles. Repo-wide, any
    TIMESTAMP(NANOS) column therefore arrives as bigint by design and
    is converted explicitly, as here.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df
    return spark.read.parquet(path)


#: Fine sub-buckets per target partition for ``cpu_spread``: hashing
#: keys into cores*20 buckets (which then hash-place into ``cores``
#: partitions) keeps partition sizes balanced even when the key space
#: is small or lumpy, at zero extra cost (one pmod per row).
_SPREAD_SUBKEYS = 20


def _spark_size_bytes(spark: SparkSession, conf_key: str, default: str) -> int:
    """Parse a Spark byte-size conf value ("134217728b", "128m", ...)."""
    raw = str(spark.conf.get(conf_key, default)).strip().lower()
    if raw.endswith("b"):
        raw = raw[:-1]
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if raw.endswith(suffix):
            mult = m
            raw = raw[:-1]
            break
    try:
        return max(1, int(raw) * mult)
    except ValueError:
        return 128 << 20


_DIR_BYTES_CACHE: dict[tuple[str, int], int] = {}


def _dir_bytes(path: str) -> int:
    """Total on-disk bytes of the data files under ``path`` (or of the
    single file ``path``), cached per (path, dir mtime) — one stat walk
    per table generation, amortized to a dict lookup on the query-build
    hot path (bench times query CONSTRUCTION too)."""
    try:
        st = os.stat(path)
    except OSError:
        return 0
    if not os.path.isdir(path):
        return st.st_size
    key = (path, st.st_mtime_ns)
    if key not in _DIR_BYTES_CACHE:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.startswith(("_", ".")):
                    continue  # _SUCCESS/committer markers, hidden CRCs
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        _DIR_BYTES_CACHE[key] = total
    return _DIR_BYTES_CACHE[key]


def cpu_spread(df: DataFrame, *key_cols: str, input_path: str) -> DataFrame:
    """Deterministic parallelism floor for CPU-heavy map/partial-agg
    phases over low-split inputs (optimization guide §2.5).

    Spark sizes scan tasks by input BYTES (maxPartitionBytes) — right
    when per-byte work is parquet decode, wrong when per-ROW work
    dominates (md5 replicate draws, shingling, 64-lane bit votes): a
    byte-small single-row-group file plans ONE scan task, so all that
    CPU runs on one core while the rest idle. Measured at sf0.1 this
    was worth 18-42% on the affected queries (OPTIMIZATION_r14.md).

    The spread hash-repartitions on a stable row key:
    ``pmod(xxhash64(keys), cores*_SPREAD_SUBKEYS)`` is a pure row
    function — the same row lands in the same partition under retries
    and any input order, so exact aggregates/joins downstream are
    unaffected (this repo's exact-sum discipline: decimal/int sums
    only, never order-sensitive float accumulation).

    SCALE GATE: a no-op whenever the input already splits into at
    least one scan task per core — estimated as on-disk bytes /
    maxPartitionBytes, the same arithmetic Spark's FilePartition
    planner uses. At the 100 TB target every real table clears the
    gate, so no extra exchange is ever added at scale; under the
    driver's reduced-core bench runs ``defaultParallelism`` shrinks
    the target with the session. Never pass a key that is constant
    across most rows (that would funnel the spread into one bucket).
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    max_pb = _spark_size_bytes(
        spark, "spark.sql.files.maxPartitionBytes", "134217728b"
    )
    est_scan_tasks = max(1, -(-_dir_bytes(input_path) // max_pb))
    if est_scan_tasks >= cores:
        return df
    bucket = F.pmod(
        F.xxhash64(*[F.col(c) for c in key_cols]),
        F.lit(cores * _SPREAD_SUBKEYS),
    )
    return df.repartition(cores, bucket)


def load_table_spread(
    spark: SparkSession, sf_dir: str, name: str, *key_cols: str
) -> DataFrame:
    """``load_table`` + ``cpu_spread`` keyed on ``key_cols`` — the
    call-site opt-in for queries whose map phase is CPU-bound (the
    gate above makes it scan-layout-adaptive, not a local[32] tune)."""
    df = load_table(spark, sf_dir, name)
    return cpu_spread(
        df, *key_cols, input_path=os.path.join(sf_dir, f"{name}.parquet")
    )


def read_parquet(
    spark: SparkSession, path: str, ignore_corrupt: bool = False
) -> DataFrame:
    """Parquet scan. ``ignore_corrupt=True`` skips unreadable files
    (truncated uploads, partial writes that dodged the committer)
    instead of failing the whole 100 TB scan — the recovery-read mode
    for landing zones fed by external systems. Default stays strict:
    silently dropping data is only acceptable when explicitly asked."""
    reader = spark.read
    if ignore_corrupt:
        reader = reader.option("ignoreCorruptFiles", "true")
    return reader.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    sep: str = "|",
    header: bool = True,
) -> DataFrame:
    """Pipe-delimited CSV scan with null-on-malformed semantics.

    Mirrors ``pl.scan_csv(separator='|', ignore_errors=True,
    truncate_ragged_lines=True)`` (fa-etl.py:60): PERMISSIVE mode turns
    unparseable cells into NULL and drops extra tokens on ragged rows.
    """
    return (
        spark.read.options(sep=sep, header=str(header).lower(), mode="PERMISSIVE")
        .schema(schema)
        .csv(path)
    )


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str = "snappy",
) -> None:
    """Streaming parquet sink (fa-etl.py:84 et al. → df.write).

    ``partition_by`` enables hive-style layout (e.g. by FIPS/county for
    the 100 TB national run) so later scans get partition pruning.
    """
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def output_exists(path: str) -> bool:
    """Idempotent-resume guard: a parquet dir is complete iff _SUCCESS
    exists (fixes the operator-precedence bug at fa-etl.py:323 instead of
    replicating bare os.path.exists)."""
    p = Path(path)
    return p.is_dir() and (p / "_SUCCESS").exists()


def staging_tag(sf_dir: str, *tables: str) -> str:
    """Stable, content-tracking key for reuse-cached staging dirs and
    bucketed-table names.

    Python's builtin ``hash()`` is the wrong tool twice over: per-process
    salting (default) means a restart never finds the previous staging
    dir (orphan accumulation), while a pinned PYTHONHASHSEED makes the
    name stable but CONTENT-BLIND — regenerated source data would
    silently reuse stale staged copies and diverge from an oracle
    reading the fresh source. This derives the key with hashlib (salt-
    free) over the resolved path plus each named source table's
    (mtime_ns, size), so the key survives restarts AND rolls over the
    moment a source is regenerated; at most one staged copy exists per
    source generation."""
    import hashlib

    root = os.path.abspath(sf_dir)
    h = hashlib.sha1(root.encode())
    for t in tables:
        p = os.path.join(root, f"{t}.parquet")
        try:
            st = os.stat(p)
            h.update(f"|{t}:{st.st_mtime_ns}:{st.st_size}".encode())
        except OSError:
            h.update(f"|{t}:missing".encode())
    return h.hexdigest()[:12]


def extract_zips(zip_paths: list[str], out_dir: str) -> list[str]:
    """Driver-side ``.txt.zip`` extraction (fa-etl.py:53-55).

    Zip is not a splittable/transparent codec for Spark's text source, so
    extraction stays out-of-band. At cluster scale this step belongs in
    the ingest layer (or a binaryFile + mapInPandas decompressor); for
    the reference's per-county files, driver-side unzip matches.
    Returns the list of extracted file paths.
    """
    os.makedirs(out_dir, exist_ok=True)
    jobs: list[tuple[str, str]] = []
    for zp in zip_paths:
        with zipfile.ZipFile(zp) as zf:  # close after listing (fd leak)
            jobs.extend((zp, member) for member in zf.namelist())
    # Any two jobs carrying the SAME member name would race in the
    # thread pool below — interleaved writes to one output path can
    # leave a truncated file where the old serial loop at least gave a
    # deterministic last-writer-wins. That includes repeats WITHIN one
    # archive: the zip format permits multiple entries under one name,
    # and two such jobs race exactly like cross-archive ones. Duplicate
    # member names are a data-layout bug (the reference's per-county
    # zips are disjoint by construction, fa-etl.py:53-55); fail loudly.
    seen: dict[str, str] = {}
    for zp, member in jobs:
        if member in seen:
            where = (
                f"twice in {zp}" if seen[member] == zp
                else f"in both {seen[member]} and {zp}"
            )
            raise ValueError(
                f"duplicate member {member!r} {where}; parallel "
                "extraction to one output path would race — extract "
                "these archives to separate directories (or repack the "
                "archive without repeated entry names)"
            )
        seen[member] = zp
    # zlib decompression releases the GIL, so a thread pool extracts
    # members genuinely in parallel — the serial loop left 31 cores
    # idle during the one driver-side step that is on the e2e wall.
    from concurrent.futures import ThreadPoolExecutor

    def _extract(job: tuple[str, str]) -> str:
        zp, member = job
        with zipfile.ZipFile(zp) as zf:
            zf.extract(member, out_dir)
        return os.path.join(out_dir, member)

    if len(jobs) <= 1:
        return [_extract(j) for j in jobs]
    # Not concurrent_actions: these are not Spark actions, and the
    # member count reaches the thousands, so the pool stays capped.
    with ThreadPoolExecutor(max_workers=min(16, len(jobs))) as pool:
        return list(pool.map(_extract, jobs))


def stage_is_fresh(path: str, input_paths: list[str]) -> bool:
    """Content-aware idempotent-resume guard: a staged output may be
    skipped only if it exists (``_SUCCESS``) AND is at least as new as
    every input that feeds it (nanosecond mtimes). A bare existence
    check — the reference's resume (fa-etl.py:45-47) and this repo's
    earlier ``output_exists`` gate — silently serves STALE staging
    when new inputs arrive after the first run (the national operating
    mode: counties land incrementally); freshness tracking turns
    "resume" into "incremental recompute of exactly the touched
    stages"."""
    p = Path(path)
    success = p / "_SUCCESS"
    if not (p.is_dir() and success.exists()):
        return False
    out_ns = success.stat().st_mtime_ns
    for ip in input_paths:
        try:
            if os.stat(ip).st_mtime_ns > out_ns:
                return False
        except OSError:
            return False  # missing/unreadable input → recompute
    return True


def publish_file(path: str, text: str) -> None:
    """Durable, atomic publish of one small file: write ``path.tmp``,
    fsync it, then ``os.replace`` it over ``path``. A crash leaves the
    old file or the new one, never a torn one (``os.replace`` is atomic
    on POSIX); a crash before the replace can strand ``path.tmp``."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def replace_dir(path: str, write_fn: Callable[[str], _R]) -> _R:
    """Swap the live directory ``path`` for a new generation and return
    ``write_fn``'s result.

    ``write_fn(gen)`` writes the sibling ``<path>.gen-<pid>-<rand>``;
    it may read the live dir, because nothing overwrites what it reads
    (the read-own-input hazard). Then the live dir is parked at
    ``<path>.old-<rand>``, the generation is promoted, and the parked
    copy is dropped. Readers racing the two renames may find no dir:
    this is a maintenance swap, not a serving-time one. A failed write
    drops ``gen`` and leaves ``path`` untouched. A failed promotion
    restores the parked dir, and ``gen`` is deleted only once that
    restore succeeded; if the restore fails, both copies stay on disk
    for manual recovery."""
    # a trailing slash would nest the generation INSIDE the live dir
    # ("x/.gen-..." under "x/") and break the swap renames
    path = os.path.normpath(path)
    gen = f"{path}.gen-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        result = write_fn(gen)
    except BaseException:
        # a failed write (OOM, disk full, interrupt) must not leak a
        # partial generation next to the live dir, which is untouched
        shutil.rmtree(gen, ignore_errors=True)
        raise
    # Never delete `gen` before a complete dir is back at `path`: an
    # unconditional finally-rmtree(gen) could destroy the ONLY complete
    # generation when an interrupt landed between the two renames.
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    try:
        os.rename(path, old)
        os.rename(gen, path)
    finally:
        # Both renames are inside the protected region: a failure or
        # interrupt at EITHER must leave a complete dir at `path`.
        # Progress is read from the FILESYSTEM, never a flag — a flag
        # assignment after a rename leaves a bytecode window where an
        # interrupt strands state the finally then misreads.
        # rename(gen, path) is the only way `gen` vanishes, so:
        if not os.path.isdir(gen):
            # promoted (exceptionally or not): the parked copy is the
            # only thing left to retire
            shutil.rmtree(old, ignore_errors=True)
        elif os.path.isdir(old):
            # parked but not promoted: restore the live dir, and only
            # delete the generation once restoration succeeded
            try:
                os.rename(old, path)
            except OSError:
                # leave BOTH survivors (old + gen) for manual recovery:
                # deleting either could drop the last complete copy
                pass
            else:
                shutil.rmtree(gen, ignore_errors=True)
        else:
            # parking never happened: `path` is untouched
            shutil.rmtree(gen, ignore_errors=True)
    return result


class _ShardCommit(WriterCommitMessage):
    def __init__(self, filename: str):
        self.filename = filename


class ManifestShardWriter(DataSourceWriter):
    """Commit protocol of the sharded Python DataSource writers
    (``sources/wds.py``, ``sources/jsonlgz.py``). A subclass validates
    its schema, calls ``__init__(path, overwrite)``, sets
    ``shard_prefix``/``shard_suffix`` and encodes one shard in
    ``write_shard(path, rows)``.

    - Each task writes ``<prefix>-<partitionId>-<uuid><suffix>`` (unique
      per attempt, so retries cannot collide) and returns its name.
    - ``commit`` publishes a ``_SUCCESS`` manifest listing exactly the
      committed shards (with ``publish_file``), then retires the
      previous generation's shards.
    - ``abort`` removes the shards of the tasks that succeeded.

    Crash-safe overwrite: nothing is deleted up front, so a failed job
    leaves the previous generation (shards + manifest) fully readable;
    manifest-honoring readers never see in-flight shards. Only files
    ending in ``shard_suffix`` are ever removed; subdirectories are
    ignored."""

    shard_prefix: str
    shard_suffix: str

    def __init__(self, path: str, overwrite: bool):
        self.path = path
        self.overwrite = overwrite
        self._old_shards: list[str] = []
        # a crash between writing _SUCCESS.tmp and the replace in
        # commit() strands the tmp forever (the suffix filters skip it);
        # clear any stale one now — a new write generation is starting,
        # so no in-flight commit can own it
        try:
            os.remove(os.path.join(path, "_SUCCESS.tmp"))
        except OSError:
            pass
        if overwrite and os.path.isdir(path):
            self._old_shards = [
                e.name
                for e in os.scandir(path)
                if e.is_file() and e.name.endswith(self.shard_suffix)
            ]
        os.makedirs(path, exist_ok=True)

    def write_shard(self, path: str, rows) -> None:
        raise NotImplementedError

    def write(self, iterator) -> _ShardCommit:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        name = f"{self.shard_prefix}-{pid:05d}-{uuid.uuid4().hex}{self.shard_suffix}"
        self.write_shard(os.path.join(self.path, name), iterator)
        return _ShardCommit(name)

    def commit(self, messages) -> None:
        manifest = sorted(m.filename for m in messages)
        final = os.path.join(self.path, "_SUCCESS")
        if not self.overwrite and os.path.exists(final):
            # append: the committed generation is old manifest UNION new
            # shards. Without the merge, rewriting _SUCCESS with only
            # this job's shard names would silently hide every previous
            # shard from manifest-honoring readers while their files sit
            # orphaned on disk.
            with open(final) as f:
                manifest = sorted(
                    {ln.strip() for ln in f if ln.strip()} | set(manifest)
                )
        publish_file(final, "\n".join(manifest))
        # new generation is durable; now retire the old shards
        keep = set(manifest)
        for name in self._old_shards:
            if name not in keep:
                try:
                    os.remove(os.path.join(self.path, name))
                except OSError:
                    pass

    def abort(self, messages) -> None:
        # failed tasks contribute None commit messages (DataSourceWriter
        # contract) — skip them or the cleanup itself crashes and the
        # succeeded tasks' orphan shards survive
        for m in messages:
            if m is None:
                continue
            try:
                os.remove(os.path.join(self.path, m.filename))
            except OSError:
                pass


def compact_parquet_dir(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    trigger_ratio: float = 0.5,
) -> dict:
    """Small-files compaction — the table-maintenance pass every
    long-lived 100 TB lake needs: incremental appends (delta corpus
    batches, per-county landings, streaming foreachBatch sinks) leave
    directories with thousands of KB-scale part files, and scan cost
    degrades from data-bound to FILE-OPEN-bound (driver listing +
    footer reads + one task per tiny split; at 10k files the metadata
    round-trips dominate the scan).

    Policy: measure the directory; if the MEAN data-file size is
    already >= trigger_ratio * target_bytes, do nothing (report only —
    compaction must be idempotent and cheap to re-invoke from cron).
    Otherwise rewrite into a new generation and swap it in with
    ``replace_dir``: a failed rewrite or promotion leaves the original
    dir in place, and a crash between the two renames leaves the
    parked ``.old-*`` copy for manual recovery.

    Layout-aware rewrite:
    - UNPARTITIONED dir: coalesce(ceil(total/target)) — coalesce, not
      repartition: gluing existing splits must not pay a shuffle.
    - Hive-PARTITIONED dir (key=value subdirs): the layout IS an index
      (partition pruning), so it must survive — the rewrite
      repartitions on the partition keys (each key lands in exactly
      one task → one file per partition value) and writes with the
      same partitionBy. This pays one hash shuffle; that is the price
      of per-partition gluing, same as any table-format OPTIMIZE. A
      single partition larger than target_bytes still becomes one
      file — acceptable for a maintenance pass whose enemy is the
      thousand-tiny-files direction.

    Returns the action report: {files_before, files_after, bytes,
    compacted: bool, partition_keys: [...]}. Row-content preservation
    is pinned by test (count + value hash before/after)."""
    import math
    import re

    def _data_files(d: str) -> list[str]:
        out = []
        for root, _dirs, files in os.walk(d):
            for f in files:
                if f.endswith((".parquet", ".orc")) and not f.startswith((".", "_")):
                    out.append(os.path.join(root, f))
        return out

    def _partition_keys(d: str) -> list[str]:
        keys = []
        cur = d
        while True:
            subs = [e.name for e in os.scandir(cur)
                    if e.is_dir() and re.match(r"^[^=./][^=/]*=", e.name)]
            if not subs:
                return keys
            keys.append(subs[0].split("=", 1)[0])
            cur = os.path.join(cur, subs[0])

    files = _data_files(path)
    total = sum(os.path.getsize(f) for f in files)
    keys = _partition_keys(path)
    report = {"files_before": len(files), "bytes": total, "compacted": False,
              "files_after": len(files), "partition_keys": keys}
    if not files or total / len(files) >= trigger_ratio * target_bytes:
        return report
    n_out = max(1, math.ceil(total / target_bytes))
    if n_out >= len(files):  # gluing wouldn't reduce the file count
        return report
    if keys:
        # A maintenance pass must be a LAYOUT-only rewrite: with
        # default partition-column type inference the re-read ALTERS
        # type-ambiguous partition VALUES (split=05 infers int and is
        # rewritten as split=5; date-like strings become dates),
        # changing directory names and column types under readers.
        # Supplying an EXPLICIT schema with the partition keys typed
        # string makes Spark take the user-specified type instead of
        # inferring — directory names survive verbatim, and no
        # session-global conf is touched (the repo deliberately runs
        # Spark jobs on concurrent driver threads: a set/restore of
        # partitionColumnTypeInference here would make any concurrent
        # read of OTHER partitioned paths silently see string-typed
        # partition columns for the compaction window). Downstream
        # readers of the compacted path re-infer exactly as before.
        # the DATA schema must be the MERGE across every leaf file —
        # taking one arbitrary footer (the pre-r10 form) silently and
        # permanently dropped any column a later append added, during a
        # pass that promises to be layout-only (r10 review). Partition
        # columns ride in via path inference on the explicit file list;
        # they are stripped here and re-added as strings below.
        merged = (
            spark.read.option("mergeSchema", "true").parquet(*files).schema
        )
        full = T.StructType(
            [f for f in merged.fields if f.name not in set(keys)]
            + [T.StructField(k, T.StringType()) for k in keys]
        )
        df = spark.read.schema(full).parquet(path)
        writer = df.repartition(*keys).write.partitionBy(*keys)
    else:
        # mergeSchema for the same reason as the partitioned branch:
        # the single-footer read drops any column a later append added
        df = spark.read.option("mergeSchema", "true").parquet(path)
        writer = df.coalesce(n_out).write
    replace_dir(path, writer.parquet)
    report["compacted"] = True
    report["files_after"] = len(_data_files(path))
    return report


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Small local/dimension frame via the ARROW fast path.

    ``spark.createDataFrame(list_of_tuples, ...)`` always takes the
    RDD-pickle route — it serializes rows through a Python worker and
    costs ~3.5 s cold / ~0.5 s warm on local[32] even for 16 rows,
    a tax paid PER CALL (measured in the ANN build, where four such
    constructors were half the pipeline wall). Routing the same rows
    through a pandas frame with an explicit schema uses Arrow: one
    zero-copy batch, ~0.15 s, identical LocalTableScan plan.

    ``schema`` is a DDL string ("a INT, b ARRAY<DOUBLE>") or a
    StructType; rows are tuples/lists in schema field order.

    The pandas frame is coerced to the DECLARED field dtypes before
    handing it to Spark, so the resulting plan does not depend on
    Arrow being enabled in the session. With Arrow on,
    ``createDataFrame(pdf, schema)`` silently casts float64→int64;
    the pickle fallback (``spark.sql.execution.arrow.pyspark.enabled
    =false`` — the driver harness's session) verifies each value
    strictly against the schema and rejects ``0.0`` for LongType.
    Coercing here makes both paths see the same dtypes (the r10
    ``range_join_quantity_bands`` driver failure class). Lossy casts
    (non-integral floats headed for an integer field, or nullable
    numeric columns) are left alone so genuine mismatches still
    surface as errors rather than silent truncation."""
    import pandas as pd

    from pyspark.sql import types as T

    st = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    if not rows:
        return spark.createDataFrame([], st)
    pdf = pd.DataFrame([tuple(r) for r in rows], columns=st.names)
    np_by_spark = {
        "byte": "int8", "short": "int16", "integer": "int32",
        "long": "int64", "float": "float32", "double": "float64",
        "boolean": "bool",
    }
    # A numeric/bool column CONTAINING nulls has no faithful numpy
    # dtype: the Arrow path raises TypeError on the mixed object
    # column, and the pickle path silently turns None into NaN for
    # float targets (null≠NaN in Spark). Found by the r11 hypothesis
    # equivalence property — route such frames through the plain-list
    # constructor: slower (RDD path), but exact and identical under
    # every session config. Hot-path callers pass dense literals and
    # never hit this branch.
    if any(
        pdf[f.name].isna().any()
        for f in st.fields
        if np_by_spark.get(f.dataType.typeName())
    ):
        # The strict constructor rejects a float literal headed for an
        # integer field (0.0 for LongType) that the Arrow-on pandas
        # path above would have cast silently — so a caller mixing
        # floats and nulls in one integer column would see a config-
        # independent but NEW error (r12 ADVICE). Coerce exactly the
        # value-preserving cases per-cell (v == int(v)); anything lossy
        # still raises, same as the dense path's guarded astype.
        int_fields = {
            i
            for i, f in enumerate(st.fields)
            if (np_by_spark.get(f.dataType.typeName()) or "").startswith("int")
        }
        bool_fields = {
            i
            for i, f in enumerate(st.fields)
            if np_by_spark.get(f.dataType.typeName()) == "bool"
        }

        def _cell(i, v):
            # .is_integer(), not v == int(v): NaN/inf must fall through
            # to the strict constructor's error, not raise here
            if i in int_fields and isinstance(v, float) and v.is_integer():
                return int(v)
            # mirror the dense path's isin([0, 1, True, False]) guard:
            # exact 0/1 numerics coerce, anything else refuses loudly
            if (
                i in bool_fields
                and isinstance(v, (int, float))
                and not isinstance(v, bool)
                and v in (0, 1)
            ):
                return bool(v)
            return v

        return spark.createDataFrame(
            [tuple(_cell(i, v) for i, v in enumerate(r)) for r in rows], st
        )
    for f in st.fields:
        np_t = np_by_spark.get(f.dataType.typeName())
        if np_t is None or str(pdf[f.name].dtype) == np_t:
            continue
        col = pdf[f.name]
        try:
            cast = col.astype(np_t)
        except (ValueError, TypeError):
            continue
        if np_t.startswith("int") and not (cast == col).all():
            continue
        # bool: astype('bool') maps ANY non-zero to True — only accept
        # values that are already exact booleans (0/1/True/False), so a
        # genuine type error still surfaces instead of becoming data
        if np_t == "bool" and not col.isin([0, 1, True, False]).all():
            continue
        pdf[f.name] = cast
    return spark.createDataFrame(pdf, st)
