"""Empty-input robustness: every registered query must execute (plan +
action) against ZERO-ROW tables without crashing.

At 100 TB this is not a corner case — a partition-pruned scan, a
filtered-out county, a fresh ingest landing zone, or the first
micro-batch of a stream all present empty frames to the same plans.
The classic failure modes this catches: ``first()``/``max()`` driver
collects returning None and feeding arithmetic (the r03
streaming_foreachbatch_ingest bug), quantile/codebook collects
producing empty literal lists, and schema instability on empty
aggregation inputs.
"""

from __future__ import annotations

import pytest

from firstamerican_etl_spark.plans.registry import load_all
from firstamerican_etl_spark.sources.io import TABLES, load_table

REGISTRY = load_all()


@pytest.fixture(scope="session")
def empty_dir(spark, sf_dir, tmp_path_factory) -> str:
    """All contract tables with their real schemas and zero rows."""
    root = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        src = load_table(spark, sf_dir, t)
        src.limit(0).write.parquet(str(root / f"{t}.parquet"))
    return str(root)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_runs_on_empty_tables(spark, empty_dir, name):
    df = REGISTRY[name].spark(spark, empty_dir)
    n = df.count()
    assert n >= 0
    assert df.columns  # schema stays stable on empty input


def test_corpus_drift_psi_null_keyed_buckets(spark, tmp_path):
    """NULL (lang, source) buckets must group identically on both
    engines: the earlier filtered-halves + full-outer formulation
    double-counted a NULL bucket in the smoothing k (NULL join keys
    never match) and diverged from the oracle."""
    import duckdb

    from firstamerican_etl_spark.plans.registry import load_all
    from tests.oracle_harness import compare

    td = str(tmp_path)
    duckdb.sql(f"""
COPY (
  SELECT * FROM (VALUES
    (0, 'a b c', 'fr', NULL, 5),
    (1, 'd e f', 'fr', NULL, 5),
    (2, 'g h i', 'fr', 'src1', 5),
    (3, 'j k l', 'en', 'src2', 5),
    (4, 'm n o', NULL, 'src2', 5)
  ) t(doc_id, text, lang, source, n_chars)
) TO '{td}/documents.parquet' (FORMAT PARQUET)""")
    spec = load_all()["corpus_drift_psi"]
    errs = compare("psi_null_probe", spec.spark(spark, td), spec.oracle, td)
    assert not errs, errs
