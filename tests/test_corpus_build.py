"""End-to-end corpus-build pipeline invariants: monotone survivor
counts, no duplicate fingerprints among survivors, one survivor per
near-dup cluster, quality bounds hold on the output, packing respects
the token budget, splits partition the survivors, and the whole build
is deterministic across runs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from firstamerican_etl_spark.pipeline.corpus_build import build_corpus
from firstamerican_etl_spark.plans.dedupplans import _NORM
from firstamerican_etl_spark.sources.io import load_table

BUDGET = 128


def _run(spark, sf_dir, tmp_path, sub="out"):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    out = str(tmp_path / sub)
    stats = build_corpus(spark, docs, out, token_budget=BUDGET)
    return stats, spark.read.parquet(out)


def test_corpus_build_invariants(spark, sf_dir, tmp_path):
    stats, out = _run(spark, sf_dir, tmp_path)
    # stage monotonicity
    assert (
        stats.n_raw
        >= stats.n_after_exact
        >= stats.n_after_near
        >= stats.n_after_quality
        > 0
    )
    assert stats.n_after_near < stats.n_after_exact  # near-dups exist
    # output is exactly the quality survivors, split-partitioned
    assert out.count() == stats.n_after_quality
    assert stats.n_train + stats.n_val + stats.n_test == stats.n_after_quality
    # survivors carry no duplicate normalized fingerprints
    n_fp = out.select(F.md5(_NORM(F.col("text"))).alias("f")).distinct().count()
    assert n_fp == out.count()
    # quality bounds hold on every output row
    bad = out.filter(
        (F.size(F.split("text", " ", -1)) < 10) | (F.length("text") > 5000)
    ).count()
    assert bad == 0
    # packing: bin ids are a contiguous prefix-sum layout — every bin's
    # token total stays under budget + one max doc length (a doc that
    # straddles a boundary belongs to the bin its OFFSET starts in)
    max_doc = out.agg(F.max("n_tokens")).first()[0]
    over = (
        out.groupBy("bin_id")
        .agg(F.sum("n_tokens").alias("t"))
        .filter(F.col("t") > BUDGET + max_doc)
        .count()
    )
    assert over == 0
    assert stats.n_bins == out.select("bin_id").distinct().count()


def test_corpus_build_deterministic(spark, sf_dir, tmp_path):
    _, out1 = _run(spark, sf_dir, tmp_path, "a")
    _, out2 = _run(spark, sf_dir, tmp_path, "b")
    cols = sorted(out1.columns)
    r1 = sorted(map(str, out1.select(*cols).collect()))
    r2 = sorted(map(str, out2.select(*cols).collect()))
    assert r1 == r2


def test_corpus_build_cli(spark, sf_dir, tmp_path, capsys):
    """The CLI entry parses args, runs the build in the existing
    session (getOrCreate), and prints exactly one JSON stats line."""
    import json

    from firstamerican_etl_spark.pipeline.corpus_build import main

    out = str(tmp_path / "cli_out")
    stats = main(
        [
            "--input_parquet",
            f"{sf_dir}/documents.parquet",
            "--out_dir",
            out,
            "--token_budget",
            str(BUDGET),
        ]
    )
    line = capsys.readouterr().out.strip().splitlines()[-1]
    payload = json.loads(line)
    assert payload["n_raw"] == stats.n_raw > 0
    assert payload["n_after_quality"] == stats.n_after_quality
    assert spark.read.parquet(out).count() == stats.n_after_quality


def test_corpus_build_cli_compact_files(spark, sf_dir, tmp_path, capsys):
    """--compact_files runs the maintenance pass after the build:
    content identical, and a re-read works (the swap is atomic)."""
    import json

    from firstamerican_etl_spark.pipeline.corpus_build import main

    out = str(tmp_path / "cli_compact")
    stats = main(
        [
            "--input_parquet",
            f"{sf_dir}/documents.parquet",
            "--out_dir",
            out,
            "--token_budget",
            str(BUDGET),
            "--compact_files",
        ]
    )
    line = capsys.readouterr().out.strip().splitlines()[-1]
    payload = json.loads(line)
    assert payload["n_after_quality"] == stats.n_after_quality
    got = spark.read.parquet(out)
    assert got.count() == stats.n_after_quality
    # split partition dirs survive compaction reads
    assert set(r["split"] for r in got.select("split").distinct().collect()) <= {
        "train", "val", "test"
    }


def test_corpus_build_jsonl_output(spark, sf_dir, tmp_path):
    """jsonl output: gzipped line-delimited JSON partitioned by split,
    same row count and doc_id set as the parquet path."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    pq, js = str(tmp_path / "pq"), str(tmp_path / "js")
    s1 = build_corpus(spark, docs, pq, token_budget=BUDGET)
    s2 = build_corpus(spark, docs, js, token_budget=BUDGET, output_format="jsonl")
    assert s1.n_after_quality == s2.n_after_quality
    out = spark.read.json(js)
    assert out.count() == s1.n_after_quality
    ids_pq = {r["doc_id"] for r in spark.read.parquet(pq).select("doc_id").collect()}
    ids_js = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert ids_pq == ids_js
    import glob

    gz = glob.glob(f"{js}/split=*/*.json.gz")
    assert gz, "expected gzipped jsonl part files"


def test_corpus_build_dsir_weight_stage(spark, sf_dir, tmp_path):
    """With weight_target_lang set, every written doc carries a
    logweight_scaled column whose values match the standalone
    dsir_logweights computation over the SAME survivor set (and docs
    without bigram evidence default to 0)."""
    from firstamerican_etl_spark.pipeline.corpus_build import build_corpus
    from firstamerican_etl_spark.plans.trainplans import dsir_logweights

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "corpus_w")
    build_corpus(spark, docs, out, weight_target_lang="en")
    written = spark.read.parquet(out)
    assert "logweight_scaled" in written.columns
    survivors = docs.join(written.select("doc_id"), "doc_id")
    # recompute weights over the surviving frame after the same
    # redaction the pipeline applies (redaction alters bigrams)
    redacted = survivors.withColumn(
        "text",
        F.regexp_replace(
            F.regexp_replace(
                F.col("text"),
                r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
                "<EMAIL>",
            ),
            r"https?://[^\s]+",
            "<URL>",
        ),
    )
    expect = {
        r["doc_id"]: r["logweight_scaled"]
        for r in dsir_logweights(redacted, target_lang="en").collect()
    }
    got = {r["doc_id"]: r["logweight_scaled"] for r in written.collect()}
    assert set(got) == set(r["doc_id"] for r in survivors.collect())
    for doc_id, w in got.items():
        assert w == expect.get(doc_id, 0), (doc_id, w, expect.get(doc_id))


def test_corpus_build_span_cut_stage(spark, sf_dir, tmp_path):
    """span_cut=True must leave no 8-token window shared across the
    WRITTEN corpus documents (the Lee et al. remediation invariant:
    one canonical occurrence survives; every other occurrence was
    excised before the quality gate)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    out = str(tmp_path / "spancut")
    stats = build_corpus(spark, docs, out, token_budget=BUDGET, span_cut=True)
    written = spark.read.parquet(out)
    assert written.count() == stats.n_after_quality > 0
    L = 8
    w = written.select(
        "doc_id", F.split("text", " ", -1).alias("words")
    ).filter(F.size("words") >= L)
    n = F.size("words")
    wins = w.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n - (L - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("words"), i, L))),
            )
        ).alias("h"),
    )
    crossdoc = (
        wins.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .count()
    )
    assert crossdoc == 0, f"{crossdoc} window hashes still span documents"


def test_corpus_build_delta_equals_full_rebuild(spark, sf_dir, tmp_path):
    """Incremental refresh contract: build on the first half, delta
    the second half in, and the union of written survivors must equal
    a from-scratch rebuild over all docs — same doc_ids, same texts,
    same splits (bin_ids are packing state and legitimately differ)."""
    from firstamerican_etl_spark.pipeline.corpus_build import build_corpus_delta

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    half1 = docs.filter(F.col("doc_id") <= mid)
    half2 = docs.filter(F.col("doc_id") > mid)

    inc_dir = str(tmp_path / "incremental")
    s1 = build_corpus(spark, half1, inc_dir, token_budget=BUDGET)
    s2 = build_corpus_delta(spark, half2, inc_dir, token_budget=BUDGET)
    assert s1.n_after_quality > 0 and s2.n_after_quality > 0

    full_dir = str(tmp_path / "full")
    build_corpus(spark, docs, full_dir, token_budget=BUDGET)

    inc = spark.read.parquet(inc_dir).select("doc_id", "text", "split")
    full = spark.read.parquet(full_dir).select("doc_id", "text", "split")
    assert inc.count() == full.count()
    assert inc.exceptAll(full).count() == 0
    assert full.exceptAll(inc).count() == 0
    # a later delta composes: the index grew to cover both batches
    assert (
        spark.read.parquet(inc_dir + "/_index/fingerprints").count()
        >= s1.n_after_exact + s2.n_after_exact
    )


def test_corpus_build_delta_rejects_nonmonotone_ids(spark, sf_dir, tmp_path):
    import pytest as _pytest

    from firstamerican_etl_spark.pipeline.corpus_build import build_corpus_delta

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    out = str(tmp_path / "mono")
    build_corpus(spark, docs, out, token_budget=BUDGET)
    with _pytest.raises(ValueError, match="must exceed every indexed id"):
        build_corpus_delta(spark, docs.limit(5), out, token_budget=BUDGET)


def test_corpus_build_delta_rejects_jsonl_corpus(spark, sf_dir, tmp_path):
    from firstamerican_etl_spark.pipeline.corpus_build import build_corpus_delta

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    out = str(tmp_path / "jsonl_corpus")
    build_corpus(spark, docs.filter(F.col("doc_id") % 2 == 0), out,
                 token_budget=BUDGET, output_format="jsonl")
    with pytest.raises(ValueError, match="jsonl"):
        build_corpus_delta(
            spark, docs.filter(F.col("doc_id") % 2 == 1), out,
            token_budget=BUDGET,
        )


def test_corpus_build_delta_rejects_scheme_mismatch(spark, sf_dir, tmp_path):
    """An index whose band sidecar was written under a DIFFERENT
    MinHash signature scheme (e.g. pre-r7 permutation formula) must
    fail the delta loudly — a silent run would join new-scheme batch
    bands against old-scheme indexed bands and miss every cross-batch
    near-dup (ADVICE r7)."""
    import shutil

    from firstamerican_etl_spark.pipeline.corpus_build import (
        _index_dir,
        build_corpus_delta,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    out = str(tmp_path / "scheme")
    build_corpus(spark, docs.filter(F.col("doc_id") <= mid), out,
                 token_budget=BUDGET)
    scheme_dir = str(tmp_path / "scheme") + "/_index/scheme"
    # tamper: rewrite the stamp as scheme v1 (the pre-fix formula)
    shutil.rmtree(scheme_dir)
    spark.createDataFrame([(1,)], "minhash_scheme_version INT").coalesce(
        1
    ).write.parquet(scheme_dir)
    with pytest.raises(ValueError, match="signature scheme 1"):
        build_corpus_delta(spark, docs.filter(F.col("doc_id") > mid), out,
                           token_budget=BUDGET)
    # and an UNSTAMPED (pre-versioning) index fails with direction
    shutil.rmtree(scheme_dir)
    with pytest.raises(ValueError, match="unstamped"):
        build_corpus_delta(spark, docs.filter(F.col("doc_id") > mid), out,
                           token_budget=BUDGET)
    assert _index_dir(out).endswith("_index")


def test_corpus_build_delta_detects_bridged_components(spark, tmp_path):
    """A new doc that near-dup-links two indexed docs' components must
    be detected: n_bridged_components > 0 and the bridged labels
    recorded in the index sidecar (the append-only divergence audit).
    Fixture: A and B share NO LSH band (verified — they are written as
    two separate components at build time); C = A + ' ' + B contains
    both docs' shingle sets, and by direct band computation shares at
    least one of the 8 bands with EACH (found by a seeded search over
    random word docs against this repo's own minhash_bands; the triple
    is pinned here as a deterministic golden)."""
    import os

    from firstamerican_etl_spark.pipeline.corpus_build import build_corpus_delta

    a = "was would into know not could use its no him way have"
    b = "make some your his more have than than up use been down"
    c = a + " " + b
    build = spark.createDataFrame([(1, a, "en"), (2, b, "en")],
                                  ["doc_id", "text", "lang"])
    out = str(tmp_path / "bridge")
    build_corpus(spark, build, out, token_budget=BUDGET, min_tokens=5)
    delta = spark.createDataFrame([(100, c, "en")], ["doc_id", "text", "lang"])
    s = build_corpus_delta(spark, delta, out, token_budget=BUDGET, min_tokens=5)
    assert s.n_bridged_components >= 1
    bridged = spark.read.parquet(os.path.join(out, "_index", "bridged_components"))
    assert bridged.count() >= 1


def test_corpus_build_delta_no_bridge_reports_zero(spark, sf_dir, tmp_path):
    from firstamerican_etl_spark.pipeline.corpus_build import build_corpus_delta

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    out = str(tmp_path / "nobridge")
    build_corpus(spark, docs.filter(F.col("doc_id") <= mid), out,
                 token_budget=BUDGET)
    s = build_corpus_delta(spark, docs.filter(F.col("doc_id") > mid), out,
                           token_budget=BUDGET)
    assert s.n_bridged_components == 0


def test_compact_restores_rebuild_equivalence(spark, tmp_path):
    """The full bridge lifecycle: build {A,B} (two components), delta
    {C} bridges them (recorded divergence), compact_corpus drops the
    doc a rebuild would never have kept — doc SET and texts must then
    equal a from-scratch rebuild over {A,B,C}; the bridged record is
    cleared and a second compact is a no-op."""
    import os

    from firstamerican_etl_spark.pipeline.corpus_build import (
        build_corpus_delta,
        compact_corpus,
    )

    a = "was would into know not could use its no him way have"
    b = "make some your his more have than than up use been down"
    c = a + " " + b
    out = str(tmp_path / "lifecycle")
    build = spark.createDataFrame([(1, a, "en"), (2, b, "en")],
                                  ["doc_id", "text", "lang"])
    build_corpus(spark, build, out, token_budget=BUDGET, min_tokens=5)
    delta = spark.createDataFrame([(100, c, "en")], ["doc_id", "text", "lang"])
    s = build_corpus_delta(spark, delta, out, token_budget=BUDGET, min_tokens=5)
    assert s.n_bridged_components >= 1

    n_removed = compact_corpus(spark, out)
    assert n_removed >= 1

    ref = str(tmp_path / "rebuild")
    everything = spark.createDataFrame(
        [(1, a, "en"), (2, b, "en"), (100, c, "en")],
        ["doc_id", "text", "lang"],
    )
    build_corpus(spark, everything, ref, token_budget=BUDGET, min_tokens=5)
    got = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(out).select("doc_id", "text").collect()
    }
    want = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(ref).select("doc_id", "text").collect()
    }
    assert got == want
    assert not os.path.isdir(os.path.join(out, "_index", "bridged_components"))
    assert compact_corpus(spark, out) == 0


def test_force_compact_resolves_loser_mediated_bridge(spark, tmp_path):
    """The divergence class the delta audit CANNOT see (its graph has
    no intra-index edges): the bridge runs through a build-time
    near-dup LOSER. Build {A, A2, B} where A~A2 (A2 dropped as loser)
    and B is separate; delta {C} collides with A2's and B's shingles.
    Whatever the audit recorded (possibly nothing, possibly a label
    the full graph numbers differently), compact_corpus(force=True)
    must restore EXACT rebuild equivalence over {A, A2, B, C} — the
    full-band-graph non-min rule does not depend on the record."""
    import os

    from firstamerican_etl_spark.pipeline.corpus_build import (
        build_corpus_delta,
        compact_corpus,
    )

    a = "was would into know not could use its no him way have"
    a2 = "was would into know not could use its no him way had"
    b = "make some your his more have than than up use been down"
    c = a2 + " " + b
    out = str(tmp_path / "loser_bridge")
    build = spark.createDataFrame(
        [(1, a, "en"), (2, a2, "en"), (5, b, "en")],
        ["doc_id", "text", "lang"],
    )
    build_corpus(spark, build, out, token_budget=BUDGET, min_tokens=5)
    delta = spark.createDataFrame([(100, c, "en")], ["doc_id", "text", "lang"])
    build_corpus_delta(spark, delta, out, token_budget=BUDGET, min_tokens=5)

    compact_corpus(spark, out, force=True)

    ref = str(tmp_path / "loser_rebuild")
    everything = spark.createDataFrame(
        [(1, a, "en"), (2, a2, "en"), (5, b, "en"), (100, c, "en")],
        ["doc_id", "text", "lang"],
    )
    build_corpus(spark, everything, ref, token_budget=BUDGET, min_tokens=5)
    got = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(out).select("doc_id", "text").collect()
    }
    want = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(ref).select("doc_id", "text").collect()
    }
    assert got == want
    # sanity: the fixture really made A~A2 a near-dup pair at build
    # time (A2 absent from both corpora)
    assert all(d != 2 for d, _ in want)


def test_failed_compaction_promotion_restores_the_corpus(spark, tmp_path, monkeypatch):
    """compact_corpus's swap: a promotion rename that fails after the
    live corpus was parked must put it back with its ``_index``
    sidecar, propagate the error and leave no sibling generation. The
    loser-bridge fixture makes the compaction drop written docs, so it
    really reaches promotion."""
    import os

    from firstamerican_etl_spark.pipeline.corpus_build import (
        build_corpus_delta,
        compact_corpus,
    )

    a = "was would into know not could use its no him way have"
    a2 = "was would into know not could use its no him way had"
    b = "make some your his more have than than up use been down"
    out = str(tmp_path / "corpus")
    docs = spark.createDataFrame(
        [(1, a, "en"), (2, a2, "en"), (5, b, "en")], ["doc_id", "text", "lang"]
    )
    build_corpus(spark, docs, out, token_budget=BUDGET, min_tokens=5)
    delta = spark.createDataFrame([(100, a2 + " " + b, "en")],
                                  ["doc_id", "text", "lang"])
    build_corpus_delta(spark, delta, out, token_budget=BUDGET, min_tokens=5)
    n0 = spark.read.parquet(out).count()

    real_rename = os.rename
    fired = []

    def failing_rename(src, dst):
        if dst == out and not fired:  # the first rename onto the live path
            fired.append(src)
            raise OSError(28, "No space left on device (injected)")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        compact_corpus(spark, out, force=True)
    monkeypatch.undo()

    assert fired
    assert spark.read.parquet(out).count() == n0
    assert os.path.isdir(os.path.join(out, "_index"))
    assert os.listdir(tmp_path) == ["corpus"]


@pytest.mark.parametrize("with_loser", [False, True])
def test_force_compact_skips_a_corpus_it_would_not_change(
    spark, tmp_path, monkeypatch, with_loser
):
    """A force compaction that drops no WRITTEN doc rewrites nothing:
    neither a clean corpus nor one whose full-graph drop list holds
    only a build-time loser (A2, never written) reaches replace_dir."""
    from firstamerican_etl_spark.pipeline import corpus_build

    a = "was would into know not could use its no him way have"
    a2 = "was would into know not could use its no him way had"
    b = "make some your his more have than than up use been down"
    rows = [(1, a, "en"), (5, b, "en")] + ([(2, a2, "en")] if with_loser else [])
    out = str(tmp_path / "clean")
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    build_corpus(spark, docs, out, token_budget=BUDGET, min_tokens=5)
    written = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert written == {1, 5}  # A2 lost to its near-dup A at build time

    def no_swap(path, write_fn):
        raise AssertionError("compact_corpus rewrote an unchanged corpus")

    monkeypatch.setattr(corpus_build, "replace_dir", no_swap)
    assert corpus_build.compact_corpus(spark, out, force=True) == 0
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == written
