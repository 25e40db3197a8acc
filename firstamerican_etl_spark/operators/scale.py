"""Scale-path operators: bucketing for co-located (shuffle-free) joins
and salting for skew the optimizer can't fix.

These are the 100 TB levers (SURVEY.md §7.2 step 8):

- **Bucketing** pre-shuffles a table ONCE at write time. Two tables
  bucketed on the same key with the same bucket count join with zero
  Exchange — the national (PropertyID-keyed) join cascade runs against
  staged tables bucketed by PropertyID, so the 100 TB shuffle happens
  once at staging, not once per downstream query.
- **Salting** splits a hot key across ``salt_n`` sub-keys. AQE's skew
  join handles skewed *joins* at runtime, but it cannot fix a skewed
  ``groupBy`` (one reducer owns the hot key) or streaming stages
  (no AQE). Two-phase salted aggregation and replicate-side salted
  joins are the hand levers for those.
- **Staging** materializes an intermediate once per process, keyed by
  its input content. ``stage_once`` (parquet) and ``shared_stage`` (any
  writer) commit through ``_commit_stage``; ``stage_bucketed_tables``
  is the catalog-registered variant.
- **Concurrent driver actions**: ``concurrent_actions`` overlaps
  independent Spark actions on driver threads, folding N job floors
  into about one.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from firstamerican_etl_spark.sources.io import publish_file

_SALT = "__salt"

_STAGE_DIRS: dict[str, str] = {}
_STAGE_DIRS_LOCK = threading.Lock()


def process_stage_dir(prefix: str) -> str:
    """One temp staging dir per (process, prefix), removed at process
    exit or by ``reset_staging``. Content-keyed stages live at
    ``process_stage_dir(prefix)/key``, one key per prefix at a time.

    Staging exists because Catalyst does not CSE a subtree referenced
    from multiple join branches: an expensive intermediate referenced
    N times is recomputed N times unless it is materialized. Writing it
    once to parquet and re-scanning is the lineage-free alternative to
    persist() — no executor memory pinned, deterministic re-reads.

    Per-process by construction (mkdtemp), so no cross-process lock; the
    thread lock makes concurrent first calls agree on one dir."""
    with _STAGE_DIRS_LOCK:
        if prefix not in _STAGE_DIRS:
            import atexit
            import shutil
            import tempfile

            d = tempfile.mkdtemp(prefix=f"fa_stage_{prefix}_")
            atexit.register(shutil.rmtree, d, ignore_errors=True)
            _STAGE_DIRS[prefix] = d
        return _STAGE_DIRS[prefix]


def _commit_stage(
    final: str, write_fn: Callable[[str], None], markers: Sequence[str]
) -> None:
    """The one commit every content-keyed stage goes through:

    1. If every ``markers`` entry exists under ``final``, reuse it (the
       key encodes the source content, so a committed stage is final).
    2. Otherwise ``write_fn(tmp)`` builds a PID+random sibling, and any
       marker the writer did not emit is stamped.
    3. ``os.rename(tmp, final)`` commits atomically: readers never see a
       torn stage. A lost rename (a racing thread won) adopts the
       winner if it is complete, and raises otherwise.
    4. After a write, superseded keys under the prefix are retired;
       in-flight siblings are dot-named and survive."""
    import os
    import shutil
    import uuid

    def _complete() -> bool:
        return all(os.path.exists(os.path.join(final, m)) for m in markers)

    if _complete():
        return
    base, key = os.path.split(final)
    tmp = os.path.join(base, f".{key}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    try:
        write_fn(tmp)
        for m in markers:
            mp = os.path.join(tmp, m)
            if not os.path.exists(mp):
                os.makedirs(os.path.dirname(mp), exist_ok=True)
                open(mp, "w").close()
        try:
            os.rename(tmp, final)
        except OSError:
            if not _complete():
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for e in os.scandir(base):
        if e.name != key and not e.name.startswith("."):
            shutil.rmtree(e.path, ignore_errors=True)


def shared_stage(
    prefix: str,
    key: str,
    write_fn: Callable[[str], None],
    markers: Sequence[str] = ("_SUCCESS",),
) -> str:
    """Stage ``process_stage_dir(prefix)/key`` with a caller-supplied
    ``write_fn(path)``: non-parquet formats, multi-dir layouts, files
    written from executors. ``markers`` mark a complete stage. Despite
    the name, stages are per-process (see ``_commit_stage``)."""
    import os

    final = os.path.join(process_stage_dir(prefix), key)
    _commit_stage(final, write_fn, markers)
    return final


def reset_staging() -> None:
    """Drop every staged generation, so the next staging call writes
    again. driver_sim's ANSI-on pass calls this so content-keyed reuse
    cannot hide an ANSI-only fault (overflow, strict cast) inside a
    subtree the first pass already materialized."""
    import shutil

    with _STAGE_DIRS_LOCK:
        for d in _STAGE_DIRS.values():
            shutil.rmtree(d, ignore_errors=True)
        _STAGE_DIRS.clear()


def stage_once(
    df: DataFrame,
    prefix: str,
    reuse_key: str,
    return_path: bool = False,
):
    """Materialize ``df`` as parquet at ``process_stage_dir(prefix)/
    reuse_key`` and return a fresh scan of it. Use when a plan
    references the same expensive subtree from 2+ branches.

    ``reuse_key`` (e.g. ``staging_tag(sf_dir, 'documents')``) MUST roll
    over when inputs change: a repeated call with the same key re-scans
    instead of re-computing, and a new key retires the old stage. So
    consume the returned DataFrame before staging different inputs.

    ``return_path=True`` additionally returns the staged directory —
    for callers that measure the materialized size to pick a join
    strategy (the boilerplate broadcast guard)."""
    import os

    path = os.path.join(process_stage_dir(prefix), reuse_key)
    _commit_stage(path, lambda p: df.write.parquet(p), ("_SUCCESS",))
    scan = df.sparkSession.read.parquet(path)
    return (scan, path) if return_path else scan


def concurrent_actions(*actions: Callable[[], object]) -> list:
    """Run independent zero-argument driver actions on one thread each
    and return their results in argument order. Spark job submission
    is thread-safe and the scheduler runs concurrent jobs fine, so N
    independent jobs pay about one job floor of driver wall instead of
    N (guide §2.6). Every action runs to completion before the first
    failure in argument order is raised: no job is left running behind
    an error."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(actions)) as pool:
        futures = [pool.submit(a) for a in actions]
    return [f.result() for f in futures]


def stage_bucketed_tables(
    spark: SparkSession,
    prefix: str,
    reuse_key: str,
    tables: Sequence[tuple[str, Callable[[str], None]]],
    meta_fn=None,
) -> str:
    """Per-process, content-keyed staging for catalog-registered
    BUCKETED tables (the ``write_bucketed`` consumers — pagerank's edge
    list, the co-located join fixtures). Factors the protocol that
    previously lived inline at each call site:

    - completeness = tag matches ``reuse_key`` AND every table is in
      the catalog AND its data dir is on disk (a crash between two
      writes, or OS tmp cleanup under a persistent metastore, leaves a
      half-staged state a single-table check would trust);
    - restage = DROP every table, clear the stage root, run each
      ``write(path)`` into ``stage_root/<table>``;
    - the tag is published with ``sources/io.publish_file`` AFTER the
      writes, together with ``meta_fn()``'s output — a content-derived
      scalar (pagerank caches |nodes| this way) that the reuse path
      returns without recomputing. A torn/absent tag reads as "not
      staged".

    Returns the meta string ("" when no ``meta_fn``). Per-process by
    construction (process_stage_dir), so concurrent processes never
    fight over one catalog+dir pair. Catalog tables are registered at
    their final path, so they cannot take ``_commit_stage``'s
    rename-into-place commit."""
    import os
    import shutil

    stage_root = process_stage_dir(prefix)
    tag_file = os.path.join(stage_root, "_TAG")
    staged_tag, meta = None, ""
    if os.path.exists(tag_file):
        try:
            parts = open(tag_file).read().split(" ", 1)
            if parts and parts[0]:
                staged_tag = parts[0]
                meta = parts[1] if len(parts) > 1 else ""
        except OSError:
            staged_tag, meta = None, ""
    complete = staged_tag == reuse_key and all(
        spark.catalog.tableExists(t)
        and os.path.isdir(os.path.join(stage_root, t))
        for t, _ in tables
    )
    if not complete:
        for t, _ in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(stage_root, ignore_errors=True)
        os.makedirs(stage_root)
        for t, write in tables:
            write(os.path.join(stage_root, t))
        meta = str(meta_fn()) if meta_fn else ""
        publish_file(tag_file, f"{reuse_key} {meta}")
    return meta


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: Sequence[str],
    num_buckets: int,
    path: str | None = None,
    sort_by: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally sort-ordered) table.

    Bucket metadata lives in the session catalog (``saveAsTable`` —
    plain ``.parquet(path)`` cannot record bucketing). Reading the
    table back exposes ``outputPartitioning = HashPartitioning(keys,
    num_buckets)``, which joins/aggs on the same keys consume without
    an Exchange. ``sort_by`` additionally pre-sorts each bucket file so
    sort-merge joins skip their Sort too."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def join_is_colocated(joined: DataFrame) -> bool:
    """True if the join plan contains no *shuffle* exchange — the
    assertion that bucketing actually took effect. A BroadcastExchange
    is fine (it moves the small side, not the bucketed fact data).
    Inspect, don't hope: a mismatched bucket count or key order
    silently reintroduces the shuffle."""
    plan = joined._jdf.queryExecution().executedPlan().toString()
    return not any(
        marker in plan
        for marker in (
            "Exchange hashpartitioning",
            "Exchange rangepartitioning",
            "ShuffleQueryStage",
        )
    )


def salted_groupby_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salt_n: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    Phase 1 groups on (keys + salt) — the hot key's rows spread over
    ``salt_n`` reducers; phase 2 merges the partials on the true keys
    (at most ``salt_n`` rows per key, trivially cheap).

    ``aggs`` maps output column → (phase1_fn, merge_fn), e.g.
    ``{"n": ("count", "sum"), "total": ("sum", "sum"),
    "mx": ("max", "max")}``. Decomposable aggregates only (count→sum,
    sum→sum, min→min, max→max); avg must be expressed as sum+count.

    Note Spark's built-in hash aggregation already does map-side
    partials, which absorbs *moderate* skew; explicit salting is for
    the pathological key that overwhelms a single final-stage reducer.
    """
    spec = _normalize_aggs(aggs)  # once: both phases read one dict
    salted = df.withColumn(_SALT, (F.rand(seed=7) * salt_n).cast("int"))
    phase1 = salted.groupBy(*keys, _SALT).agg(
        *[
            getattr(F, fn)(F.col(col) if fn != "count" else F.lit(1)).alias(out)
            for out, (fn, _, col) in spec.items()
        ]
    )
    merged = phase1.groupBy(*keys).agg(
        *[
            getattr(F, merge)(out).alias(out)
            for out, (_, merge, _) in spec.items()
        ]
    )
    return merged


def _normalize_aggs(
    aggs: dict[str, tuple[str, str] | tuple[str, str, str]],
) -> dict[str, tuple[str, str, str]]:
    """Allow {"out": (fn, merge)} shorthand where the source column is
    the output name, or explicit {"out": (fn, merge, col)}."""
    out: dict[str, tuple[str, str, str]] = {}
    for name, spec in aggs.items():
        if len(spec) == 2:
            out[name] = (spec[0], spec[1], name)
        else:
            out[name] = spec  # type: ignore[assignment]
    return out


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: str,
    salt_n: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the skewed probe side, replicate
    the build side ``salt_n``× (one copy per salt), join on
    (key, salt). Each hot-key partition now holds 1/salt_n of the hot
    rows. Replication multiplies the build side — use only when the
    build side is small-ish but above the broadcast threshold (below
    it, ``F.broadcast`` is strictly better; for joins AQE's
    OptimizeSkewedJoin usually fires first — this is the explicit
    fallback for when it can't, e.g. under a required distribution).
    """
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi",
                   "leftsemi", "left_anti", "leftanti"):
        # the build side is REPLICATED salt_n times: any join that
        # preserves unmatched BUILD rows (right/full outer) would emit
        # each of them salt_n times — reject rather than silently
        # multiply
        raise ValueError(
            f"salted_join supports inner/left/semi/anti joins, not "
            f"{how!r}: the replicated build side would duplicate "
            "unmatched right rows salt_n times"
        )
    salted_l = skewed.withColumn(_SALT, (F.rand(seed=7) * salt_n).cast("int"))
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1))).alias(_SALT)
    replicated_r = small.select("*", salts)
    out = salted_l.join(replicated_r, on=[on, _SALT], how=how)
    return out.drop(_SALT)


def _shard_cutpoints(
    df: DataFrame, keys: Sequence[str], n: int
) -> list[tuple]:
    """Deterministic shard cutpoints for the distributed prefix-sum
    primitives: fixed-seed sample of the key columns (column-pruned
    scan, metadata-sized collect), driver-side sort, n-1 quantile
    picks, consecutive duplicates dropped.

    The cutpoints are collected ONCE and applied as *literals* in
    every downstream pass, which is the whole point: shard assignment
    becomes a pure function of row values, so the totals pass and the
    cumsum/index pass can never disagree — unlike
    ``repartitionByRange``, whose sampled bounds are re-drawn if a
    cached plan is recomputed (the persist-pinning race this design
    replaces). Cutpoint *placement* only affects load balance, never
    results: any monotone assignment consistent across passes yields
    the exact prefix sum.

    Single numeric key (the common case): ONE ``percentile_approx``
    aggregate — a mergeable sketch, column-pruned scan, n-1 values
    out. Composite/non-numeric keys: count + fixed-seed sample +
    driver-side quantile picks (two pruned scans)."""
    from pyspark.sql import types as T

    if n <= 1:
        return []
    dt = df.schema[keys[0]].dataType
    if len(keys) == 1 and isinstance(dt, T.NumericType):
        probs = [i / n for i in range(1, n)]
        qs = df.agg(
            F.percentile_approx(keys[0], probs, 10_000).alias("q")
        ).first()["q"]
        if not qs:
            return []
        cuts = []
        for v in qs:
            if v is not None and (not cuts or (v,) != cuts[-1]):
                cuts.append((v,))
        return cuts
    cnt = df.count()
    if cnt == 0:
        return []
    target = max(n * 200, 10_000)
    frac = min(1.0, (target * 1.2) / cnt)
    sample = [
        tuple(r)
        for r in df.select(*keys).sample(False, frac, seed=42).collect()
        if None not in r
    ]
    if not sample:
        return []
    sample.sort()
    cuts = []
    for i in range(1, n):
        c = sample[min(len(sample) - 1, (i * len(sample)) // n)]
        if not cuts or c != cuts[-1]:
            cuts.append(c)
    return cuts


def _shard_id_expr(df: DataFrame, keys: Sequence[str], cuts: list[tuple]) -> Column:
    """Order-respecting shard id: the number of cutpoints strictly
    below the row's key tuple — a chain of literal comparisons, fully
    codegen'd, zero shuffle. Composite keys compare lexicographically
    via struct comparison (both sides aliased/cast to identical field
    names and types). Null keys compare null → shard 0 (callers
    require unique, non-null order keys for determinism anyway)."""
    if not cuts:
        return F.lit(0)
    dtypes = [df.schema[k].dataType for k in keys]
    if len(keys) == 1:
        row_val: Column = F.col(keys[0])
        bound = lambda c: F.lit(c[0]).cast(dtypes[0])  # noqa: E731
    else:
        row_val = F.struct(
            *[F.col(k).alias(f"f{i}") for i, k in enumerate(keys)]
        )
        bound = lambda c: F.struct(  # noqa: E731
            *[F.lit(v).cast(dtypes[i]).alias(f"f{i}") for i, v in enumerate(c)]
        )
    pid: Column = F.lit(0)
    for c in cuts:
        pid = pid + F.when(row_val > bound(c), 1).otherwise(0)
    return pid


def _sharded_by_key(
    df: DataFrame, keys: Sequence[str], partitions: int
) -> tuple[DataFrame, DataFrame, int]:
    """Stage ``df`` to temp parquet ONCE, then tag rows with a
    deterministic range-shard id; returns (tagged, parts, n):
    ``tagged`` for the metadata aggregate (its groupBy shuffles
    |shards| rows after map-side partials — no data exchange),
    ``parts`` hash-clustered on ``_pid`` and sorted by (_pid, keys)
    for the per-shard sequential pass. All rows of a shard land in one
    partition; a partition may hold a few shards (hash collisions),
    which the batch kernels handle group-wise.

    The staging write is both the determinism anchor and the perf
    anchor: every downstream pass (cutpoints, totals, final) reads the
    same static files, so an expensive upstream (e.g. tokenizing every
    document for corpus packing) is computed exactly once instead of
    once per pass, and there is no cached-plan state whose eviction
    could change anything — the failure mode persist()-pinned
    repartitionByRange had. The temp dir is removed at process exit
    (it must outlive the returned lazy frames)."""
    import atexit
    import shutil
    import tempfile

    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    stage_dir = tempfile.mkdtemp(prefix="fa_prefix_sum_stage_")
    atexit.register(shutil.rmtree, stage_dir, ignore_errors=True)
    df.write.mode("overwrite").parquet(stage_dir)
    staged = df.sparkSession.read.parquet(stage_dir)
    cuts = _shard_cutpoints(staged, keys, n)
    tagged = staged.withColumn("_pid", _shard_id_expr(staged, keys, cuts))
    parts = tagged.repartition(n, "_pid").sortWithinPartitions("_pid", *keys)
    return tagged, parts, n


def global_row_index(
    df: DataFrame,
    order_key: str | Sequence[str],
    index_name: str = "row_idx",
    partitions: int = 0,
) -> DataFrame:
    """Global 0-based row index in ``order_key`` order WITHOUT the
    single-partition sort that ``row_number() OVER (ORDER BY ...)``
    plans (every row through one task — the classic 100 TB faceplant).

    The distributed zipWithIndex recipe, DataFrame-native and
    DETERMINISTIC end-to-end:
    1. stage the input to temp parquet ONCE (the expensive upstream —
       scans, tokenization — is computed exactly once; all later
       passes read static files);
    2. collect explicit shard cutpoints from the staged keys
       (``_shard_cutpoints`` — metadata-sized);
    3. tag every row with ``_pid`` = number of cutpoints below its key
       (a literal comparison chain — pure map, codegen'd);
    4. count rows per shard (aggregate ships |shards| rows), prefix-sum
       the counts driver-side into per-shard offsets;
    5. hash-cluster on ``_pid`` + sort within partitions, then
       mapInPandas adds offset[pid] + local ordinal per shard group.

    Because ``_pid`` is a pure function of row values and literals
    over static files, the count pass and the index pass agree BY
    CONSTRUCTION — there is no sampled-exchange or cached-plan state
    to pin and therefore no persist() (the previous formulation's
    repartitionByRange bounds could re-sample on cache eviction and
    silently misalign every offset). Total cost: one materialization
    of the input + two pruned scans of the staged files + ONE exchange
    — vs the naive window's collapse to one task. Requires a unique
    ``order_key`` (single column or composite) so the total order, and
    hence the index, is well-defined.
    """
    keys = [order_key] if isinstance(order_key, str) else list(order_key)
    tagged, parts, _ = _sharded_by_key(df, keys, partitions)
    sizes = {
        int(r["_pid"]): int(r["n"])
        for r in tagged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]

    out_schema = parts.drop("_pid").schema.add(index_name, "long")
    cols = [f.name for f in out_schema.fields]

    def index_batches(batches):
        local: dict[int, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            pids = pdf["_pid"].astype("int64")
            base = pids.map(offsets)  # dict map — vectorized lookup
            prev = pids.map(local).fillna(0) if local else 0
            ordinal = pids.groupby(pids).cumcount()
            for p, c in pids.value_counts().items():
                local[int(p)] = local.get(int(p), 0) + int(c)
            out = pdf.drop(columns=["_pid"])
            out[index_name] = (base + prev + ordinal).astype("int64")
            yield out[cols]

    return parts.mapInPandas(index_batches, schema=out_schema)


def global_running_sum(
    df: DataFrame,
    order_key: str | Sequence[str],
    value_col: str,
    out_col: str = "running_sum",
    partitions: int = 0,
) -> DataFrame:
    """Global INCLUSIVE running sum of ``value_col`` in ``order_key``
    order without the single-partition collapse of
    ``sum(v) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)``.

    Same deterministic distributed-prefix-sum recipe as
    ``global_row_index``: stage once to temp parquet, literal-cutpoint
    shard ids (pure function of row values over static files — the
    totals pass and the cumsum pass agree by construction, no
    persist-pinning), per-shard value TOTALS aggregated as metadata
    and prefix-summed driver-side, then one hash-clustered exchange +
    per-shard vectorized cumsum with the broadcast base offsets
    stitched in.

    One materialization of the input + two pruned scans of the staged
    files + ONE exchange. Requires a unique, non-null order key;
    values are summed as int64 (callers with doubles should quantize
    first — running doubles are order-sensitive anyway)."""
    keys = [order_key] if isinstance(order_key, str) else list(order_key)
    tagged, parts, _ = _sharded_by_key(df, keys, partitions)
    totals = {
        int(r["_pid"]): int(r["t"])
        for r in tagged.groupBy("_pid")
        .agg(F.sum(F.col(value_col).cast("long")).alias("t"))
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]

    out_schema = parts.drop("_pid").schema.add(out_col, "long")
    cols = [f.name for f in out_schema.fields]

    def cumsum_batches(batches):
        carry: dict[int, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            pids = pdf["_pid"].astype("int64")
            vals = pdf[value_col].astype("int64")
            csum = vals.groupby(pids).cumsum()
            base = pids.map(offsets)
            if carry:
                base = base + pids.map(carry).fillna(0).astype("int64")
            for p, s in vals.groupby(pids).sum().items():
                carry[int(p)] = carry.get(int(p), 0) + int(s)
            out = pdf.drop(columns=["_pid"])
            out[out_col] = (csum + base).astype("int64")
            yield out[cols]

    return parts.mapInPandas(cumsum_batches, schema=out_schema)


def quartile_cutpoints(df: DataFrame, keys: Sequence[str]) -> list | None:
    """Exact global quartile cutpoint VALUES (q1/q2/q3) of ``df``
    ordered by ``keys``, via one ``values_at_global_ranks`` pass — the
    boundary-rank arithmetic (⌊i·n/4⌋ clamped to ≥1, deduped for tiny
    n, mapped back per quarter) that the quantile consumers
    (quantile_bins_scalable, rfm_user_segments' three dimensions)
    previously each re-derived inline. Returns the first key column's
    value at each boundary, or None on empty input. Ties at a cutpoint
    fall to the lower bin by VALUE on both engines, so callers compare
    (never re-derive ranks) downstream."""
    seen = {"n": 0}

    def qranks(n: int) -> list[int]:
        seen["n"] = n
        return sorted({max(1, (i * n) // 4) for i in (1, 2, 3)})

    vals = values_at_global_ranks(df, keys, ranks_of_n=qranks)
    if not vals:
        return None
    n = seen["n"]
    ranks = sorted({max(1, (i * n) // 4) for i in (1, 2, 3)})
    by_rank = dict(zip(ranks, (v[0] for v in vals)))
    return [by_rank[max(1, (i * n) // 4)] for i in (1, 2, 3)]


def values_at_global_ranks(
    df: DataFrame,
    keys: Sequence[str],
    ranks: Sequence[int] | None = None,
    partitions: int = 0,
    ranks_of_n=None,
) -> list[tuple]:
    """The key tuples sitting at the given 1-based GLOBAL ranks of
    ``df`` ordered by ``keys`` — without a global ORDER BY window and
    without materializing a full row index.

    Exact-quantile recipe: literal-cutpoint shard ids (pure map), one
    |shards|-row count aggregate prefix-summed on the driver to locate
    (shard, local ordinal) for each requested rank, then ONE pass
    with a PARTITIONED row_number window filtered to those ordinals —
    the window sorts within shards only, so no task ever sees more
    than its shard. Output is len(ranks) rows — metadata.

    Caller contract: ``df`` must read deterministic data (a parquet
    scan — true for every registry query); for nondeterministic
    upstream lineage use the staged primitives (``global_row_index``)
    whose temp-parquet stage pins the data between passes. Ranks
    outside [1, n] are ignored. Requires a unique key tuple for a
    well-defined order.

    Pass ``ranks_of_n`` (a callable n -> ranks) instead of ``ranks``
    when the target ranks depend on the row count (quantile
    boundaries): the count is read off the per-shard sizes this pass
    collects anyway, saving callers a separate full count() action."""
    from pyspark.sql.window import Window

    from pyspark.sql import types as T

    if ranks is None and ranks_of_n is None:
        raise ValueError("values_at_global_ranks: pass ranks or ranks_of_n")
    n_shards = partitions or df.sparkSession.sparkContext.defaultParallelism
    # Shard on the FIRST key alone when it is numeric: shard placement
    # only needs to be MONOTONE w.r.t. the full key order (rows with
    # equal first-key values land in one shard, and the in-shard
    # window below orders by the full key), and the single-numeric
    # cutpoint path is one percentile_approx sketch + a scalar
    # comparison chain — far cheaper than per-row struct comparisons
    # against composite bounds.
    shard_keys = (
        list(keys[:1])
        if isinstance(df.schema[keys[0]].dataType, T.NumericType)
        else list(keys)
    )
    cuts = _shard_cutpoints(df, shard_keys, n_shards)
    tagged = df.withColumn("_pid", _shard_id_expr(df, shard_keys, cuts))
    sizes = {
        int(r["_pid"]): int(r["n"])
        for r in tagged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if ranks_of_n is not None:
        ranks = ranks_of_n(sum(sizes.values()))
    wanted: list[tuple[int, int, int]] = []  # (pid, local_ordinal, rank)
    offset = 0
    sorted_pids = sorted(sizes)
    # non-positive ranks are out of range (ranks are 1-based) and must
    # be DROPPED here, not just never matched: a 0 in targets would
    # stall the cursor (offset < 0 never holds) and silently swallow
    # every valid rank after it
    targets = sorted({r for r in ranks if r >= 1})
    ti = 0
    for pid in sorted_pids:
        size = sizes[pid]
        while ti < len(targets) and offset < targets[ti] <= offset + size:
            wanted.append((pid, targets[ti] - offset, targets[ti]))
            ti += 1
        offset += size
    if not wanted:
        return []
    w = Window.partitionBy("_pid").orderBy(*[F.col(k) for k in keys])
    cond = None
    for pid, k, _ in wanted:
        c = (F.col("_pid") == pid) & (F.col("_rn") == k)
        cond = c if cond is None else (cond | c)
    rows = (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(cond)
        .select("_pid", "_rn", *keys)
        .collect()
    )
    by_loc = {(r["_pid"], r["_rn"]): tuple(r[k] for k in keys) for r in rows}
    out = []
    for pid, k, rank in wanted:
        if (pid, k) not in by_loc:
            # a located (shard, ordinal) target MUST exist — silently
            # skipping would shorten the result and misalign callers
            # that zip results against requested ranks (quantile_bins)
            raise RuntimeError(
                f"values_at_global_ranks: rank {rank} located at shard {pid} "
                f"ordinal {k} but absent from the window pass — "
                "nondeterministic upstream lineage between passes?"
            )
        out.append(by_loc[(pid, k)])
    return out
