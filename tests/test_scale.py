"""Scale-operator tests: bucketed joins must actually eliminate the
shuffle (plan-level assertion, not vibes), salted ops must be
result-identical to their plain counterparts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from firstamerican_etl_spark.operators.scale import (
    concurrent_actions,
    join_is_colocated,
    salted_groupby_agg,
    salted_join,
    write_bucketed,
)
from firstamerican_etl_spark.sources.io import load_table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    write_bucketed(
        o, "orders_b", ["o_orderkey"], 8, path=str(base / "orders_b"),
        sort_by=["o_orderkey"],
    )
    write_bucketed(
        li, "lineitem_b", ["l_orderkey"], 8, path=str(base / "lineitem_b"),
        sort_by=["l_orderkey"],
    )
    yield "orders_b", "lineitem_b"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_bucketed_join_no_shuffle(spark, sf_dir, bucketed_tables):
    ot, lt = bucketed_tables
    o = spark.table(ot)
    li = spark.table(lt)
    # force the sort-merge path (at test scale the planner would
    # broadcast and skip bucketing entirely — valid, but not what we
    # are asserting here)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_extendedprice", "o_totalprice"
        )
        joined.collect()  # materialize so executedPlan is final
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert join_is_colocated(joined), "bucketed join still shuffles:\n" + plan
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # and it's the same result as the plain-parquet join
    plain = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert joined.count() == plain


def test_bucketed_agg_no_shuffle(spark, bucketed_tables):
    _, lt = bucketed_tables
    li = spark.table(lt)
    agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    agg.collect()
    assert "Exchange" not in agg._jdf.queryExecution().executedPlan().toString()


def test_salted_groupby_matches_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    salted = salted_groupby_agg(
        li,
        keys=["l_returnflag"],
        aggs={
            "n": ("count", "sum", "l_orderkey"),
            "total_qty": ("sum", "sum", "l_quantity"),
            "max_price": ("max", "max", "l_extendedprice"),
        },
        salt_n=8,
    )
    plain = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("total_qty"),
        F.max("l_extendedprice").alias("max_price"),
    )
    s = {r["l_returnflag"]: (r["n"], round(r["total_qty"], 4), r["max_price"]) for r in salted.collect()}
    p = {r["l_returnflag"]: (r["n"], round(r["total_qty"], 4), r["max_price"]) for r in plain.collect()}
    assert s == p


def test_salted_join_matches_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    salted = salted_join(li, o, on="l_orderkey", salt_n=8)
    plain = li.join(o, on="l_orderkey")
    assert salted.count() == plain.count()
    s = salted.agg(F.sum(F.col("l_quantity") * F.col("o_totalprice"))).collect()[0][0]
    p = plain.agg(F.sum(F.col("l_quantity") * F.col("o_totalprice"))).collect()[0][0]
    assert s == pytest.approx(p)


def test_global_running_sum_matches_naive_window(spark, sf_dir):
    """The distributed prefix-sum must equal the single-partition
    window's running sum for every row, at several partition counts
    (seam stitching via base offsets is the part that can silently
    break)."""
    from pyspark.sql import Window

    from firstamerican_etl_spark.operators.scale import global_running_sum

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ", -1)).alias("n_tokens")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    expected = {
        r["doc_id"]: r["rs"]
        for r in d.withColumn("rs", F.sum("n_tokens").over(w)).collect()
    }
    for n_parts in (1, 3, 8):
        got = {
            r["doc_id"]: r["rs"]
            for r in global_running_sum(
                d, "doc_id", "n_tokens", out_col="rs", partitions=n_parts
            ).collect()
        }
        assert got == expected, f"partitions={n_parts}"


def test_global_row_index_composite_key(spark, sf_dir):
    """Composite-key ordering: index over (o_totalprice, o_orderkey)
    must equal the naive global row_number with the same tie-break."""
    from pyspark.sql import Window

    from firstamerican_etl_spark.operators.scale import global_row_index

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    expected = {
        r["o_orderkey"]: r["idx"]
        for r in o.withColumn("idx", F.row_number().over(w) - 1).collect()
    }
    got = {
        r["o_orderkey"]: r["idx"]
        for r in global_row_index(
            o, ["o_totalprice", "o_orderkey"], index_name="idx", partitions=5
        ).collect()
    }
    assert got == expected


def test_global_prefix_sum_deterministic_across_recompute(spark, sf_dir):
    """The r03 driver flake: the old persist-pinned repartitionByRange
    design could re-sample shard bounds between the totals pass and a
    later consumer action, silently misaligning every base offset.
    The literal-cutpoint design must produce IDENTICAL output when the
    whole plan is recomputed from scratch (two independent actions, no
    cache), and must leave nothing persisted behind."""
    from firstamerican_etl_spark.operators.scale import (
        global_row_index,
        global_running_sum,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ", -1)).alias("n_tokens")
    )
    # other tests in the shared session legitimately hold
    # localCheckpoint-ed RDDs (connected components, corpus build);
    # the no-leak claim is that THESE primitives add nothing.
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    rs = global_running_sum(d, "doc_id", "n_tokens", out_col="rs", partitions=8)
    first = sorted(map(tuple, rs.collect()))
    spark.catalog.clearCache()  # simulate total eviction between actions
    second = sorted(map(tuple, rs.collect()))
    assert first == second
    # a freshly-built plan over the same data must also agree
    rs2 = global_running_sum(d, "doc_id", "n_tokens", out_col="rs", partitions=8)
    assert sorted(map(tuple, rs2.collect())) == first

    idx = global_row_index(d, "doc_id", index_name="ix", partitions=8)
    i1 = sorted(map(tuple, idx.collect()))
    spark.catalog.clearCache()
    assert sorted(map(tuple, idx.collect())) == i1

    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before, f"prefix-sum primitives leaked persisted RDDs: {after - before}"


def test_global_prefix_sum_empty_and_skewed_inputs(spark):
    """Empty input yields an empty frame with the right schema; a
    single-value key (every cutpoint identical → deduped to none)
    still sums correctly through one shard."""
    from firstamerican_etl_spark.operators.scale import global_running_sum

    schema = "k long, v long"
    empty = spark.createDataFrame([], schema)
    out = global_running_sum(empty, "k", "v", out_col="rs")
    assert out.count() == 0
    assert out.schema.fieldNames() == ["k", "v", "rs"]

    one_key = spark.createDataFrame(
        [(i, 2) for i in range(100)], schema
    ).withColumn("k", F.col("k"))
    got = {
        r["k"]: r["rs"]
        for r in global_running_sum(one_key, "k", "v", out_col="rs", partitions=4).collect()
    }
    assert got == {i: 2 * (i + 1) for i in range(100)}


def test_knn_lsh_emissions_are_true_cosines(spark, sf_dir):
    """knn_lsh_bucketed is rows-only for the driver (buckets aren't
    SQL-expressible) — this supplies the value check: every emitted
    (query, candidate) pair's cos_sim must equal the independently
    recomputed cosine (numpy, 4dp), and the candidate must beat or tie
    every other emitted same-bucket candidate for that query."""
    import math

    from firstamerican_etl_spark.plans.registry import load_all

    out = load_all()["knn_lsh_bucketed"].spark(spark, sf_dir).collect()
    assert out, "LSH emitted no candidates at test scale"
    vecs = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    for r in out:
        expected = math.floor(cos(vecs[r["q_id"]], vecs[r["c_id"]]) * 10000 + 0.5) / 10000
        assert abs(r["cos_sim"] - expected) <= 1e-9, (r, expected)


def test_corpus_pack_conserves_tokens_and_bins(spark, sf_dir):
    """Packing invariants that hold at ANY scale: every token lands in
    exactly one bin (sum of bin totals == corpus total), bin ids are
    the contiguous range 0..max, and every full bin's running span is
    within one document of the B=256 budget (a document straddling a
    boundary belongs to the bin where it starts)."""
    from firstamerican_etl_spark.plans.registry import load_all

    bins = sorted(
        load_all()["corpus_pack_contiguous"].spark(spark, sf_dir).collect(),
        key=lambda r: r["bin_id"],
    )
    total = (
        load_table(spark, sf_dir, "documents")
        .select(F.sum(F.size(F.split("text", " ", -1))).alias("t"))
        .collect()[0]["t"]
    )
    assert sum(r["total_tokens"] for r in bins) == total
    assert [r["bin_id"] for r in bins] == list(range(len(bins)))
    assert all(r["n_docs"] >= 1 for r in bins)


def test_simhash_pairs_consistent_with_fingerprints(spark, sf_dir):
    """dedup_simhash_pairs is rows-only for the driver — this supplies
    the value check against the fingerprint table: every emitted pair's
    hamming must equal popcount(xor) of the two simhashes, be <= 3, and
    the pair must share at least one 16-bit band (the blocking
    invariant that makes candidate generation sound)."""
    from firstamerican_etl_spark.plans.registry import load_all

    reg = load_all()
    fps = {
        r["doc_id"]: r["simhash"]
        for r in reg["dedup_simhash"].spark(spark, sf_dir).collect()
    }
    pairs = reg["dedup_simhash_pairs"].spark(spark, sf_dir).collect()
    assert pairs, "no near-dup pairs at test scale"
    for p in pairs:
        a, b = fps[p["doc_a"]], fps[p["doc_b"]]
        xor = (a ^ b) & ((1 << 64) - 1)
        assert bin(xor).count("1") == p["hamming"]
        # star rows are mega-bucket CONNECTIVITY edges (hub links kept
        # regardless of hamming so downstream clustering can regroup
        # the bucket); verified near-dup claims are the non-star rows
        if not p["star"]:
            assert p["hamming"] <= 3
        bands_equal = any(
            ((a >> (16 * i)) & 0xFFFF) == ((b >> (16 * i)) & 0xFFFF)
            for i in range(4)
        )
        assert bands_equal, (p, hex(a), hex(b))


def test_simhash_numpy_votes_equal_aggregate_form(spark, sf_dir):
    """r15 rewrite pin (guide §4.2): dedup_simhash's vectorized numpy
    vote pass must be BIT-IDENTICAL to the r14 formulation it replaced
    (explode tokens → 64 sum(getbit) aggregates + majority), and the
    fingerprint subplan must stay a pure map — zero exchanges before
    banding (the old groupBy(doc_id) counter shuffle is gone)."""
    from pyspark.sql import functions as SF

    from firstamerican_etl_spark.plans.dedupplans import _NORM
    from firstamerican_etl_spark.plans.registry import load_all
    from firstamerican_etl_spark.sources.io import load_table

    reg = load_all()
    new = sorted(
        (r["doc_id"], r["simhash"], r["bucket16"])
        for r in reg["dedup_simhash"].spark(spark, sf_dir).collect()
    )
    # the r14 aggregate formulation, inlined as the reference
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", _NORM(SF.col("text")).alias("ntext"))
        .select("doc_id", SF.explode(SF.split("ntext", " ", -1)).alias("w"))
        .select("doc_id", SF.xxhash64("w").alias("h"))
    )
    aggs = [
        SF.sum(SF.getbit("h", SF.lit(b))).alias(f"c{b}") for b in range(64)
    ] + [SF.count(SF.lit(1)).alias("n_tok")]
    per_doc = tok.groupBy("doc_id").agg(*aggs)
    bit_vals = [1 << b for b in range(63)] + [-(1 << 63)]
    sim = None
    for b in range(64):
        term = SF.when(
            SF.col(f"c{b}") * 2 > SF.col("n_tok"), SF.lit(bit_vals[b])
        ).otherwise(SF.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    old = sorted(
        (r["doc_id"], r["simhash"], r["bucket16"])
        for r in per_doc.select(
            "doc_id",
            sim.alias("simhash"),
            SF.shiftrightunsigned(sim, 48).alias("bucket16"),
        ).collect()
    )
    assert new == old
    plan = (
        reg["dedup_simhash"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # fingerprint is aggregation-shuffle-free: the ONLY permissible
    # exchange is the deliberate scale-gated cpu_spread repartition
    bad = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "REPARTITION_BY_NUM" not in ln
    ]
    assert not bad, bad
    assert "MapInPandas" in plan


def test_aqe_skew_join_splits_hot_key(spark, sf_dir):
    """The third scale lever next to bucketing and runtime bloom
    filters: AQE's OptimizeSkewedJoin must split a pathologically hot
    join key at runtime (skew=true on the sort-merge join) once the
    skew thresholds are crossed — thresholds are lowered here the same
    way the bloom-filter test lowers its size gates."""
    import pyspark.sql.functions as SF

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
        # allow the split even where it would add an exchange — the
        # explicit opt-in for skew-first plans
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {}
    for k, v in conf.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        # 95% of rows share one key — the classic hot-key fact table
        hot = spark.range(200_000).select(
            SF.when(SF.col("id") % 20 != 0, SF.lit(7)).otherwise(SF.col("id") % 1000)
            .alias("k"),
            SF.col("id").alias("payload"),
        )
        dim = spark.range(1000).select(
            SF.col("id").alias("k"), (SF.col("id") * 2).alias("attr")
        )
        # global aggregate downstream: no clustering requirement on the
        # join output, so AQE is free to split the hot partition
        joined = hot.join(dim, "k").agg(SF.sum("payload").alias("s"))
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan.split("== Initial Plan ==")[0][:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_minhash_lsh_perfect_recall_on_exact_dups(spark, sf_dir):
    """Soundness pin for the rows-only MinHash+LSH candidates:
    (a) every pair of documents with IDENTICAL normalized text must be
    emitted with all 8 bands colliding (identical signatures agree in
    every band — exact-dup recall is 1.0 by construction), and
    (b) every emitted candidate pair must share at least one 5-gram
    (banding can only fire on a shared shingle hash)."""
    from itertools import combinations

    from firstamerican_etl_spark.plans.registry import load_all

    reg = load_all()
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_bands"]
        for r in reg["dedup_minhash_lsh"].spark(spark, sf_dir).collect()
    }
    assert pairs, "no candidates at test scale"
    docs = {
        r["doc_id"]: " ".join(r["text"].strip().lower().split())
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    by_text: dict[str, list[int]] = {}
    for did, text in docs.items():
        by_text.setdefault(text, []).append(did)
    exact_dup_pairs = [
        tuple(sorted(p))
        for ids in by_text.values()
        if len(ids) > 1
        for p in combinations(ids, 2)
    ]
    for p in exact_dup_pairs:
        assert pairs.get(p) == 8, f"exact dup {p} missed or partial: {pairs.get(p)}"

    def shingles(text: str) -> set[str]:
        w = text.split(" ")
        return {" ".join(w[i : i + 5]) for i in range(len(w) - 4)}

    for (a, b) in pairs:
        assert shingles(docs[a]) & shingles(docs[b]), (a, b)


def test_minhash_lsh_mega_bucket_star_expansion(spark, tmp_path):
    """The mega-bucket guard: a bucket larger than _CLIQUE_CAP must
    expand as a star around the min doc_id (O(bucket) candidate rows,
    every member still connected to the cluster) instead of the full
    O(bucket²) clique. 80 identical docs → every band bucket holds all
    80 → exactly 79 star pairs, each colliding on all 8 bands, hub =
    min doc_id."""
    import pandas as pd

    from firstamerican_etl_spark.plans.dedupplans import _CLIQUE_CAP
    from firstamerican_etl_spark.plans.registry import load_all

    n = 80
    assert n > _CLIQUE_CAP
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(n)),
            "text": ["alpha beta gamma delta epsilon zeta eta theta"] * n,
            "lang": ["en"] * n,
            "source": ["s"] * n,
            "n_chars": [46] * n,
        }
    )
    spark.createDataFrame(pdf).write.parquet(str(tmp_path / "documents.parquet"))
    rows = (
        load_all()["dedup_minhash_lsh"].spark(spark, str(tmp_path)).collect()
    )
    assert len(rows) == n - 1, f"expected star (n-1 pairs), got {len(rows)}"
    assert all(r["doc_a"] == 0 for r in rows)
    assert sorted(r["doc_b"] for r in rows) == list(range(1, n))
    assert all(r["n_bands"] == 8 for r in rows)


def test_values_at_global_ranks_exact(spark):
    """The rank-targeted pass returns exactly the key tuples a full
    sort would place at those 1-based ranks — including rank 1, rank
    n, heavy first-key ties, out-of-range ranks (ignored), and the
    ranks_of_n callback (n read off the pass's own shard counts)."""
    from firstamerican_etl_spark.operators.scale import values_at_global_ranks

    df = spark.range(1, 1501).selectExpr(
        "cast(id % 40 as double) as v", "id"
    )
    expect = sorted((float(r["v"]), r["id"]) for r in df.collect())

    got = values_at_global_ranks(df, ["v", "id"], [1, 2, 750, 1500, 9999])
    assert [tuple(g) for g in got] == [expect[0], expect[1], expect[749], expect[1499]]

    seen = {}
    got2 = values_at_global_ranks(
        df, ["v", "id"], ranks_of_n=lambda n: seen.setdefault("r", [n // 2, n])
    )
    assert seen["r"] == [750, 1500]
    assert [tuple(g) for g in got2] == [expect[749], expect[1499]]


def test_values_at_global_ranks_empty(spark):
    from firstamerican_etl_spark.operators.scale import values_at_global_ranks

    df = spark.range(0).selectExpr("cast(id as double) as v", "id")
    assert values_at_global_ranks(df, ["v", "id"], [1, 5]) == []
    assert values_at_global_ranks(df, ["v", "id"], ranks_of_n=lambda n: [n]) == []


def test_stage_once_reuse_semantics(spark):
    """stage_once: a reuse_key skips the rewrite for the same
    (prefix, key) within a process, and a different key restages."""
    import os
    import time

    from firstamerican_etl_spark.operators import scale

    df = spark.range(10)

    def mtime(prefix, key):
        d = os.path.join(scale._STAGE_DIRS[prefix], key)
        return max(os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d))

    out1 = scale.stage_once(df, "t_reuse", reuse_key="k1")
    assert out1.count() == 10
    m1 = mtime("t_reuse", "k1")
    time.sleep(0.05)
    # same key: reused, no rewrite (even with different df content —
    # the key CONTRACT is that it tracks the inputs)
    out2 = scale.stage_once(spark.range(99), "t_reuse", reuse_key="k1")
    assert mtime("t_reuse", "k1") == m1
    assert out2.count() == 10  # staged generation, not the new frame
    # different key: restaged, and the superseded generation retired
    out3 = scale.stage_once(spark.range(5), "t_reuse", reuse_key="k2")
    assert out3.count() == 5
    assert sorted(os.listdir(scale._STAGE_DIRS["t_reuse"])) == ["k2"]


def test_simhash_vote_rejects_empty_hash_array():
    """np.add.reduceat reads an empty segment as the next doc's first
    row, so an empty per-doc hash array would silently move votes onto
    the wrong document: the kernel must fail loudly instead."""
    import pandas as pd

    from firstamerican_etl_spark.plans.dedupplans import _simhash_vote_kernel

    vote = _simhash_vote_kernel()
    # one token: every bit votes 1 of 1, so the fingerprint is the hash
    (out,) = vote([pd.DataFrame({"doc_id": [1], "hs": [[7]]})])
    assert out["simhash"].tolist() == [7]
    batch = pd.DataFrame({"doc_id": [1, 2, 3], "hs": [[5, 6], [], [7]]})
    with pytest.raises(ValueError, match="doc_id 2"):
        list(vote([batch]))


def test_concurrent_actions_returns_results_in_argument_order():
    """The first action finishes LAST (it waits for the second), and
    its result still comes back first. The wait also proves the
    actions run concurrently: run serially, it would time out."""
    import threading

    second_done = threading.Event()

    def first():
        return "first" if second_done.wait(timeout=10) else "serial"

    def second():
        second_done.set()
        return "second"

    assert concurrent_actions(first, second, lambda: 3) == ["first", "second", 3]


def test_concurrent_actions_raises_after_every_action_finishes():
    """The first failure in argument order surfaces, and only after a
    slower action that was still running has finished: no job is left
    running behind the error."""
    import threading
    import time

    slow_done = threading.Event()

    def fail():
        raise ValueError("first failure")

    def slow():
        time.sleep(0.3)
        slow_done.set()

    def fail_later():
        raise KeyError("second failure")

    with pytest.raises(ValueError, match="first failure"):
        concurrent_actions(fail, slow, fail_later)
    assert slow_done.is_set()


@pytest.mark.parametrize("n", [0, 1, 2, 5])
def test_array_pairs_yields_every_i_lt_j_pair_in_index_order(spark, n):
    from firstamerican_etl_spark.operators.relational import array_pairs

    # descending values, so value order and index order disagree
    vals = list(range(n, 0, -1))
    pairs = array_pairs(
        F.col("arr"), lambda a, b: F.struct(a.alias("a"), b.alias("b"))
    )
    row = (
        spark.createDataFrame([(vals,)], "arr array<int>")
        .select(pairs.alias("p"))
        .collect()[0]
    )
    want = [(vals[i], vals[j]) for i in range(n) for j in range(i + 1, n)]
    assert [(p["a"], p["b"]) for p in row["p"]] == want


def test_bucket_pairs_switches_from_clique_to_star_past_the_cap(spark):
    from firstamerican_etl_spark.plans.dedupplans import _CLIQUE_CAP, _bucket_pairs

    cap = _CLIQUE_CAP
    df = spark.createDataFrame(
        [(list(range(1, cap + 1)),), (list(range(1, cap + 2)),)], "ids array<int>"
    )
    pairs = _bucket_pairs(
        F.col("ids"),
        lambda a, b, star: F.struct(
            a.alias("doc_a"), b.alias("doc_b"), F.lit(star).alias("star")
        ),
    )
    clique, star = [
        [tuple(p) for p in r["p"]]
        for r in df.select(F.size("ids").alias("n"), pairs.alias("p"))
        .orderBy("n")
        .collect()
    ]
    assert len(clique) == cap * (cap - 1) // 2
    assert clique == [
        (i, j, False) for i in range(1, cap + 1) for j in range(i + 1, cap + 1)
    ]
    assert star == [(1, j, True) for j in range(2, cap + 2)]


def test_shingle_overlap_pairs_max_df_drops_hot_shingles(spark):
    from firstamerican_etl_spark.plans.dedupplans import _shingle_overlap_pairs

    # shingle 10 is in three docs (df 3), shingle 20 in two (df 2)
    shingles = spark.createDataFrame(
        [(1, 2, 10), (2, 2, 10), (3, 1, 10), (1, 2, 20), (2, 2, 20)],
        "doc_id bigint, n_sh int, shingle bigint",
    )

    def rows(max_df):
        return sorted(
            tuple(r) for r in _shingle_overlap_pairs(shingles, max_df=max_df).collect()
        )

    assert rows(None) == [(1, 2, 2, 2, 2), (1, 3, 2, 1, 1), (2, 3, 2, 1, 1)]
    assert rows(2) == [(1, 2, 2, 2, 1)]
