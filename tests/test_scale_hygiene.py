"""Repo-wide scale-hygiene audit: EVERY registered query's physical
plan is machine-checked for the anti-patterns that kill 100 TB runs,
so a new operator can't silently ship one — the per-query pins in
test_plan_shapes.py cover the flagships; this closes the registry.

Checked per plan:
- no CartesianProduct (an un-broadcast cross join; BroadcastNestedLoop
  over a tiny side is fine and common for scalar-bound broadcasts);
- no BatchEvalPython (row-at-a-time Python — never acceptable);
- Arrow-batched Python (ArrowEvalPython / MapInPandas / InPandas
  variants) only in the explicitly-pandas operators;
- no UNPARTITIONED window over unbounded input (single-task collapse),
  except the three documented bounded/contrast cases.
"""

from __future__ import annotations

import pytest

from firstamerican_etl_spark.plans.registry import load_all

REGISTRY = load_all()

#: Unpartitioned windows that are deliberate and bounded:
#: ntile is the documented non-scaling CONTRAST to quantile_bins_scalable;
#: share_of_total runs over the ≤|nations| aggregate;
#: pareto's window input is LIMIT-100-bounded.
UNPARTITIONED_WINDOW_OK = {
    "ntile_price_quartiles",
    "share_of_total_window",
    "pareto_cumulative_share",
}

#: Operators whose algorithm is an Arrow-batched block computation with
#: no Catalyst builtin equivalent (BLAS blocks, stateful streaming,
#: distributed prefix-sum local passes, spark.ml).
ARROW_PYTHON_OK = {
    "multimodal_decode_stats",
    "multimodal_resize_chain",
    "multimodal_frame_sample",
    "multimodal_featurize_knn",
    "multimodal_knn_bucketed",  # same featurizer, LSH-bucketed candidates
    "multimodal_ppm_pixel_decode",  # pure-python netpbm raster decode
    "multimodal_binaryfile_ingest",  # same netpbm decode over binaryFile rows
    "multimodal_wds_roundtrip",  # netpbm decode over wds tar-shard rows
    # gradient-asset synth + netpbm decode + integer dHash: the ONE
    # narrow Python stage; everything after the 4-int fingerprint is
    # relational (banded equi-join + bit_count verify)
    "dedup_image_dhash_pairs",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_vectorized",
    "semdedup_cluster_prune",  # per-cell int64 BLAS pair kernel (exact)
    "semdedup_cluster_prune_sqrtk",  # same kernel, sqrt(N) cells
    "semdedup_threshold_sweep",  # same kernel, blocked, 4-τ counts (r6: was a 27×/10× interpreted pair join)
    "streaming_sessionize_stateful",
    "streaming_custom_source_agg",
    "kmeans_embedding_clusters",
    "global_row_index_scalable",
    "global_running_sum_scalable",
    "drift_ks_two_sample",  # ECDF cumsum rides the same prefix-sum recipe
    "corpus_pack_contiguous",
    "quantile_bins_scalable",
    "weighted_median_udaf",
    "udtf_tokenize_lateral",  # Arrow-optimized UDTF (useArrow=True)
    "pq_adc_topk",  # numpy block encode (integer grid, exact)
    "embedding_gram_matrix",  # numpy partial-matmul blocks (integer grid, exact)
    "corpus_byte_histogram",  # mapInArrow buffer-level numpy bincount
    # C-skiplist sliding median per (user, week-bucket) — the exact
    # rolling-median state machine Catalyst has no operator for
    "rolling_7d_median_bucketed",
    # r15: SimHash 64-lane bit votes as one vectorized numpy pass
    # (unpackbits + add.reduceat) — the r14 65-aggregate JVM form was
    # the slowest non-e2e bench row and every JVM reformulation
    # measured flat (OPTIMIZATION_r15.md); bit-identical by test
    "dedup_simhash",
    "dedup_simhash_pairs",  # consumes the fingerprint pass above
    # r15: MinHash signatures via the numpy permutation-min path
    # (bit-identical to the JVM aggregates — parity pinned by
    # test_multimodal; −24% on the LSH pipeline)
    "dedup_minhash_lsh",
}


def _initial_plan(df) -> str:
    full = df._jdf.queryExecution().executedPlan().toString()
    return full.split("== Initial Plan ==")[0]


def _unpartitioned_window_lines(plan: str) -> list[str]:
    """A physical Window node prints `Window [exprs], [partition],
    [order]`, omitting empty groups. Two groups therefore mean either
    no-partition (second group is an order spec, carries ASC/DESC) or
    no-order (second group is the partition keys) — only the former is
    the single-task collapse."""
    hits = []
    for line in plan.splitlines():
        stripped = line.strip().lstrip("+-: ").strip()
        if not stripped.startswith("Window "):
            continue
        groups = stripped.split("], [")
        if len(groups) == 2 and ("ASC" in groups[1] or "DESC" in groups[1]):
            hits.append(stripped[:160])
    return hits


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_plan_hygiene(spark, sf_dir, name):
    df = REGISTRY[name].spark(spark, sf_dir)
    plan = _initial_plan(df)
    assert "CartesianProduct" not in plan, f"{name}: un-broadcast cross join"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in ARROW_PYTHON_OK:
        for marker in ("ArrowEvalPython", "MapInPandas", "InPandas", "MapInArrow"):
            assert marker not in plan, f"{name}: unexpected Python stage ({marker})"
    if name not in UNPARTITIONED_WINDOW_OK:
        bad = _unpartitioned_window_lines(plan)
        assert not bad, f"{name}: unpartitioned window(s): {bad}"


def test_no_session_global_conf_mutation_in_query_modules():
    """No registered query may flip a session-global conf
    (spark.conf.set) — a set/restore around a plan is not thread-safe
    when a driver runs queries concurrently; use plan-scoped hints
    (df.hint("merge"), F.broadcast) instead. The one sanctioned
    mutation lives in pipeline/run.py's bucket_staging path
    (requireAllClusterKeysForCoPartition), a pipeline entry point, not
    a registered query."""
    import glob as _glob
    import os as _os

    root = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "firstamerican_etl_spark",
    )
    offenders = []
    for sub in ("plans", "operators", "functions", "streaming"):
        for path in _glob.glob(_os.path.join(root, sub, "*.py")):
            src = open(path).read()
            for i, line in enumerate(src.splitlines(), 1):
                stripped = line.split("#", 1)[0]
                if "conf.set(" in stripped:
                    offenders.append(f"{path}:{i}: {line.strip()}")
    assert offenders == [], (
        "session-global conf mutation inside query modules:\n"
        + "\n".join(offenders)
    )


def _holders(uses) -> set[tuple[str, str]]:
    """(relative path, innermost function name) of every package AST
    node for which ``uses(node)`` holds; comments never match."""
    import ast
    import glob as _glob
    import os as _os

    root = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "firstamerican_etl_spark",
    )
    found = set()

    def _walk(node, rel, func):
        for child in ast.iter_child_nodes(node):
            if uses(child):
                found.add((rel, func))
            inner = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else func
            )
            _walk(child, rel, inner)

    for path in _glob.glob(_os.path.join(root, "**", "*.py"), recursive=True):
        rel = _os.path.relpath(path, root).replace(_os.sep, "/")
        _walk(ast.parse(open(path).read()), rel, "<module>")
    return found


def test_thread_pools_only_in_sanctioned_places():
    """Concurrent Spark actions go through operators/scale.
    concurrent_actions, the one place per-stage job-group tagging can
    be added. Two other pools are deliberate: extract_zips maps zlib
    member extraction (not Spark actions; thousands of members on a
    national run), and build_corpus_delta's bridge audit is a
    background future that is cancelled on error."""
    import ast

    def _uses(node) -> bool:
        return (
            (isinstance(node, ast.Name) and node.id == "ThreadPoolExecutor")
            or (isinstance(node, ast.Attribute) and node.attr == "ThreadPoolExecutor")
            or (isinstance(node, ast.alias) and node.name == "ThreadPoolExecutor")
        )

    found = _holders(_uses)
    assert found == {
        ("operators/scale.py", "concurrent_actions"),
        ("sources/io.py", "extract_zips"),
        ("pipeline/corpus_build.py", "build_corpus_delta"),
    }


def test_on_disk_commits_have_one_copy_each():
    """Every rename/replace/fsync commit goes through one of three
    protocols: ``sources/io.replace_dir`` (live-dir generation swap),
    ``sources/io.publish_file`` (durable small-file publish, used by
    the manifest-shard writers and the bucketed-staging tag) and
    ``operators/scale._commit_stage`` (publish into an absent staging
    key, with reuse and lost-race adoption)."""
    import ast

    names = {"rename", "replace", "fsync"}

    def _uses(node) -> bool:
        return (
            isinstance(node, ast.Attribute)
            and node.attr in names
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ) or (
            isinstance(node, ast.ImportFrom)
            and node.module == "os"
            and any(a.name in names for a in node.names)
        )

    assert _holders(_uses) == {
        ("operators/scale.py", "_commit_stage"),
        ("sources/io.py", "replace_dir"),
        ("sources/io.py", "publish_file"),
    }


#: Python kernel stages that stay direct calls instead of going
#: through operators/kernels.map_rows, each with why.
DIRECT_PYTHON_KERNELS = {
    ("operators/scale.py", "global_row_index"): "carries counts across batches",
    ("operators/scale.py", "global_running_sum"): "carries sums across batches",
    ("plans/vectorplans.py", "embedding_gram_matrix"): "carries a partial across batches",
    ("plans/timeseriesplans.py", "rolling_7d_median_bucketed"): "buffers a whole partition",
    ("plans/dedupplans.py", "dedup_simhash"): "vectorizes over the whole batch",
    ("plans/vectorplans.py", "pq_adc_topk"): "vectorizes over the whole batch",
    ("plans/arrayplans.py", "weighted_median_udaf"): "grouped",
    ("plans/vectorplans.py", "_semdedup"): "grouped",
    ("plans/vectorplans.py", "semdedup_threshold_sweep"): "grouped",
    ("plans/vectorplans.py", "dedup_embedding_cosine_vectorized"): "grouped",
    ("plans/multimodalplans.py", "corpus_byte_histogram"): "reads Arrow buffers directly",
}


def test_python_kernels_have_one_boundary():
    """Every per-row Python kernel runs through operators/kernels.
    map_rows, which owns the batch loop; the only other mapInPandas /
    applyInPandas / mapInArrow callers are DIRECT_PYTHON_KERNELS."""
    import ast

    names = {"mapInPandas", "applyInPandas", "mapInArrow"}

    def _uses(node) -> bool:
        return isinstance(node, ast.Attribute) and node.attr in names

    assert _holders(_uses) == {("operators/kernels.py", "map_rows")} | set(
        DIRECT_PYTHON_KERNELS
    )


def _package_functions():
    """(relative path, innermost function name, whitespace-free source)
    for every function in the package."""
    import ast
    import glob as _glob
    import os as _os

    root = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "firstamerican_etl_spark",
    )
    out = []
    for path in _glob.glob(_os.path.join(root, "**", "*.py"), recursive=True):
        rel = _os.path.relpath(path, root).replace(_os.sep, "/")
        src = open(path).read()
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                seg = "".join(ast.get_source_segment(src, node).split())
                out.append((rel, node.name, seg))
    return out


def test_shared_primitives_and_policies_have_one_copy():
    """The in-array i<j pair expansion, the nearest-centroid cross join,
    the PII redaction, the corpus quality gate and the 90/5/5 split
    compare each live in one helper (operators/relational.array_pairs,
    vectorplans._nearest_cell, textplans.redact_pii,
    corpus_build._quality_gate, trainplans.split_col); a query or
    pipeline needing one calls the helper instead of pasting the
    expression, so the oracled queries run what the corpus build runs."""
    import ast

    funcs = _package_functions()
    for idiom, home in [
        ("i+2,F.greatest(F.size(", ("operators/relational.py", "array_pairs")),
        ("crossJoin(F.broadcast(cents))", ("plans/vectorplans.py", "_nearest_cell")),
        ('"<URL>"', ("plans/textplans.py", "redact_pii")),
        ('w.rlike("^[A-Za-z]+$")', ("pipeline/corpus_build.py", "_quality_gate")),
        (',"train")', ("plans/trainplans.py", "split_col")),
    ]:
        holders = [(rel, name, seg) for rel, name, seg in funcs if idiom in seg]
        # innermost holders: an enclosing function holds its nested
        # function's source too
        innermost = {
            (rel, name)
            for rel, name, seg in holders
            if not any(s2 != seg and s2 in seg for _, _, s2 in holders)
        }
        assert innermost == {home}, (idiom, sorted(innermost))
    # the split threshold literal itself has one home too
    assert _holders(lambda n: isinstance(n, ast.Constant) and n.value == "e6") == {
        ("plans/trainplans.py", "<module>")
    }


def test_ann_index_reads_declare_their_schema():
    """Every index read in pipeline/ann_build.py and every ``_index``
    sidecar read in pipeline/corpus_build.py (fingerprints, bands,
    scheme) passes .schema(...): an undeclared read pays a
    footer-inference job per call. Reads of the corpus itself
    (``out_dir``) and of the CLI's input documents stay undeclared:
    their columns vary (e.g. ``logweight_scaled``)."""
    import ast
    import os as _os

    pipeline = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "firstamerican_etl_spark",
        "pipeline",
    )

    def chain(node):
        names = []
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Call):
                node = node.func
            else:
                names.append(node.attr)
                node = node.value
        return names

    for module in ("ann_build.py", "corpus_build.py"):
        reads = []
        src = open(_os.path.join(pipeline, module)).read()
        for node in ast.walk(ast.parse(src)):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and "read" in chain(node)
                and ast.unparse(node.args[0]) not in ("out_dir", "a.input_parquet")
            ):
                reads.append((node.lineno, "schema" in chain(node)))
        assert reads and all(ok for _, ok in reads), (
            module,
            [ln for ln, ok in reads if not ok],
        )
