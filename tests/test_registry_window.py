"""Pins the driver CORRECTNESS window: the driver verifies exactly the
first 50 entries of load_all() in insertion order, so the curated
DRIVER_WINDOW must (a) hold exactly 50 existing query names, (b) be
the actual first 50 of load_all(), and (c) carry a DuckDB oracle for
EVERY entry — since r6 batch 2 every rows-only fast path has an
in-window md5 verification twin, so the full-oracle invariant is
enforced outright (the allowance set is empty by design; adding a
name back requires justifying why no oracle twin can exist)."""

from __future__ import annotations

from firstamerican_etl_spark.plans.registry import DRIVER_WINDOW, load_all

# Rows-only entries deliberately inside the window. EMPTY since r8
# (VERDICT r7 #5): every window row carries a full value oracle, and
# this set existing at all is only a pressure valve for a future
# genuinely non-SQL-expressible flagship.
_ROWS_ONLY_OK: set[str] = set()


def test_window_is_exactly_50_unique_names():
    assert len(DRIVER_WINDOW) == 50
    assert len(set(DRIVER_WINDOW)) == 50


def test_window_is_first_50_of_load_all():
    ordered = list(load_all())
    assert tuple(ordered[:50]) == DRIVER_WINDOW


def test_window_entries_have_oracles():
    reg = load_all()
    missing = [
        n for n in DRIVER_WINDOW if reg[n].oracle is None and n not in _ROWS_ONLY_OK
    ]
    assert missing == [], f"window entries without an oracle: {missing}"


def test_load_all_keeps_every_registered_query():
    reg = load_all()
    assert len(reg) >= 143  # nothing evicted from the registry itself


def test_no_contrast_row_in_window():
    """Queries tagged ``contrast`` are deliberate scale-killer
    anti-pattern rows kept ONLY for the 10x/100x probe tables
    (SCALING.md); each has a scale-safe production twin. They are
    ineligible for the driver window (VERDICT r8 #3) — a plan we would
    not run at 100x must never be presented as a first-class proven
    query."""
    reg = load_all()
    offenders = [n for n in DRIVER_WINDOW if "contrast" in reg[n].tags]
    assert offenders == [], f"contrast rows in the driver window: {offenders}"


def test_contrast_rows_have_scale_safe_twins():
    reg = load_all()
    contrast = {n for n, s in reg.items() if "contrast" in s.tags}
    assert contrast == {
        "rolling_7d_median_value",
        "semdedup_cluster_prune",
        "dedup_image_dhash_pairs",  # r9 probe: 11.1x/decade (SCALING.md)
        # r10 probe-coverage closure: label-blocked all-pairs cosine,
        # 17.0x/decade — `label` has FIXED cardinality, so blocks grow
        # with N and Sigma k^2 is quadratic; both the zip_with and the
        # BLAS-kernel variant share the plan shape (SCALING.md)
        "dedup_embedding_cosine",
        "dedup_embedding_cosine_vectorized",
    }
    assert "rolling_7d_median_bucketed" in reg
    assert "semdedup_cluster_prune_sqrtk" in reg
    assert "dedup_image_dhash_distinct" in reg
    # the embedding near-dup production paths: sqrt(N) cells keep the
    # block-key cardinality growing with the corpus; bucketed kNN keeps
    # candidate volume content-bound
    assert "semdedup_cluster_prune_sqrtk" in reg
    assert "multimodal_knn_bucketed" in reg


def test_window_is_veterans_plus_stalest_eligible():
    """The mechanical window policy (r12): 5 pinned veterans, then the
    45 non-veteran slots must be exactly (a) every eligible
    never-proven query — retries and brand-new queries, which have no
    green row and are therefore stalest by definition — plus (b) the
    stalest PROVEN eligible queries by MOST RECENT green driver row
    (`driver_sim --rotation`), filling the remainder. The r12 review
    caught a hand-built segment keyed on FIRST-proven round —
    immutable, so it would re-select the same cohort forever; this pin
    makes the policy mechanical, and like the ledger-freshness test it
    goes red the moment a new CORRECTNESS artifact lands, forcing each
    round's window to be regenerated rather than hand-built. Set-based
    on purpose: it holds for any retry count, including zero."""
    import sys

    sys.path.insert(0, ".")
    from tools.driver_sim import WINDOW_VETERANS, proven_ledger, rotation_segment

    assert tuple(DRIVER_WINDOW[:5]) == WINDOW_VETERANS
    others = set(DRIVER_WINDOW[5:])
    never = set(proven_ledger()["eligible_never_proven"])
    assert len(never) <= len(others), (
        f"{len(never)} eligible never-proven queries cannot fit the "
        f"{len(others)} non-veteran slots — grow the backlog plan"
    )
    assert never <= others  # every never-proven holds a slot (also
    # asserted by tests/test_docs_coverage.py; repeated here so this
    # test is self-contained)
    n_rot = len(others) - len(never)
    expected = {n for _r, n in rotation_segment(n_rot) if n not in never}
    assert others == never | expected, (
        f"window drifted from the most-recent-green computation:\n"
        f"only in window: {sorted(others - (never | expected))}\n"
        f"only in computation: {sorted((never | expected) - others)}"
    )


# Queries allowed to emit a top-level array/map/struct column. EMPTY by
# design since r12: the r11 driver round proved the harness
# canonicalizer (pandas sort_values over all columns) crashes on list
# cells — `agg_collect_set_sorted` and `inverted_index_postings` were
# red for exactly this, not for wrong values — so every query now emits
# canonical scalar columns (sorted arrays are stringified with
# array_join / array_to_string on BOTH engine and oracle sides, zero
# semantic loss). A future entry here must be rows-only or contrast
# (never window-eligible) and must justify why no canonical scalar
# encoding exists.
_NON_SCALAR_OUTPUT_OK: set[str] = set()


def test_registry_outputs_are_canon_safe_scalars(spark, sf_dir):
    """Registry-wide schema sweep (VERDICT r11 #1c/#3): no registered
    query may emit a top-level ArrayType/MapType/StructType column
    unless pinned in _NON_SCALAR_OUTPUT_OK — the driver's pandas
    canonicalizer rejects such cells, so an eligible query with one is
    a guaranteed red driver row that no local value-oracle run can
    catch. Checks ALL 261 queries, not just the window: today's
    out-of-window query is next rotation's window row."""
    from pyspark.sql import types as T

    reg = load_all()
    offenders = {}
    for name, spec in reg.items():
        if name in _NON_SCALAR_OUTPUT_OK:
            continue
        bad = [
            f.name
            for f in spec.spark(spark, sf_dir).schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if bad:
            offenders[name] = bad
    assert offenders == {}, (
        f"non-scalar top-level output columns (driver-canon-unsafe): {offenders}"
    )
    stale = _NON_SCALAR_OUTPUT_OK - set(reg)
    assert stale == set(), f"_NON_SCALAR_OUTPUT_OK names not registered: {stale}"


def test_no_contrast_row_in_headline_bench():
    """The headline bench total must never include a deliberate
    scale-killer: a contrast row regressing (or improving) would move
    the round-over-round headline for anti-pattern reasons."""
    import bench

    reg = load_all()
    offenders = [
        n for n in bench.HEADLINE if n in reg and "contrast" in reg[n].tags
    ]
    assert offenders == [], f"contrast rows in bench HEADLINE: {offenders}"


def test_unfingerprintable_function_counts_as_touched(tmp_path, monkeypatch):
    """A registered function the module fingerprints cannot see (built
    in a factory) must count as touched since its last green round:
    comparing two missing fingerprints would prove it unchanged forever."""
    import subprocess
    from types import SimpleNamespace

    from firstamerican_etl_spark.plans import registry
    from tools.driver_sim import code_touched_since_green

    root = str(tmp_path)
    mod = tmp_path / "mod.py"
    src = "def make():\n    def q(spark, sf_dir):\n        return {}\n    return q\n"

    def commit(body: str, rnd: int) -> None:
        mod.write_text(src.format(body))
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text("{}")
        git = ["git", "-C", root, "-c", "user.name=t", "-c", "user.email=t@t"]
        subprocess.run(git + ["add", "-A"], check=True)
        subprocess.run(git + ["commit", "-qm", f"r{rnd}"], check=True)

    subprocess.run(["git", "init", "-q", root], check=True)
    commit("1", 1)
    commit("2", 2)  # the factory-built query changed after its green row
    scope: dict = {}
    exec(compile(src.format("2"), str(mod), "exec"), scope)
    monkeypatch.setattr(
        registry, "load_all", lambda: {"q": SimpleNamespace(spark=scope["make"]())}
    )
    assert code_touched_since_green(root, {"q": 1}) == {"q"}
