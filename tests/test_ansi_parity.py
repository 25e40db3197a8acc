"""ANSI-parity canaries. The round driver runs a default-config Spark 4
session (ANSI **on**); the repo session pins ANSI off. r03 shipped a
green-locally/red-in-driver overflow because nothing exercised the
ANSI-on behavior. These tests pin the class of bug:

- the OLD MinHash formulation (full-range ``min(h·a+b)``, relying on
  silent int64 wraparound) must THROW under ANSI-on — proving the
  ``tools/driver_sim.py`` ansi-on pass catches an injected overflow;
- the CURRENT Mersenne-31 formulation must return identical signatures
  under both settings.

The exhaustive check is driver_sim's second pass (all 158 queries under
ANSI-on); these are the fast pytest-side tripwires.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def ansi_on(spark):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", old)


def test_injected_overflow_canary_throws_under_ansi(ansi_on):
    """The r03 bug shape, reduced: multiplying a full-range xxhash64 by
    a 64-bit constant overflows int64 — ANSI-on must refuse loudly
    (this is what the driver's session does and the repo session
    silently wraps)."""
    spark = ansi_on
    df = spark.range(100).select(F.xxhash64("id").alias("h"))
    bad = df.agg(F.min(F.col("h") * F.lit(0x9E3779B97F4A7C15 - (1 << 64))).alias("m"))
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        bad.collect()


def test_minhash_signatures_identical_under_both_ansi_settings(spark, sf_dir):
    """The production signature path: its JVM-side shingle hashing is
    what an ANSI-on session could break."""
    from firstamerican_etl_spark.plans.dedupplans import minhash_signatures_np
    from firstamerican_etl_spark.sources.io import load_table

    d = load_table(spark, sf_dir, "documents").limit(50)
    off = sorted(map(tuple, minhash_signatures_np(d).collect()))
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        on = sorted(map(tuple, minhash_signatures_np(d).collect()))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert off == on


def test_perm_consts_stay_in_safe_range():
    """(p-1)·a + b < 2^62 for every permutation — the invariant that
    makes the affine aggregate overflow-free under ANSI."""
    from firstamerican_etl_spark.plans.dedupplans import _P31, _perm_consts

    for i in range(64):
        a, b = _perm_consts(i)
        assert 1 <= a < _P31 and 0 <= b < _P31
        assert (_P31 - 1) * a + b < 2**62


def test_short_docs_survive_minhash_under_ansi(ansi_on):
    """Docs with fewer than shingle_len words have NO shingles — they
    must yield zero signature/band rows, not an INVALID_ARRAY_INDEX
    error under the driver's ANSI-on session (the old pseudo-shingle
    floor ran element_at past the array end; the JVM signature form had
    no pre-filter)."""
    spark = ansi_on
    from firstamerican_etl_spark.plans.dedupplans import (
        minhash_bands,
        minhash_signatures_np,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "one two"), (3, "a b c d e f g h")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures_np(docs).collect()
    assert sorted(r["doc_id"] for r in sigs) == [3]  # only the long doc
    bands = minhash_bands(docs).collect()
    assert {r["doc_id"] for r in bands} == {3}
