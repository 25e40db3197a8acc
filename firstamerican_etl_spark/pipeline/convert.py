"""Per-family clean/rank transforms (fa-etl.py:20-426), Spark-first.

Every function here is a pure ``DataFrame → DataFrame`` so the whole
stage stays one lazy Catalyst plan: no temp files (the reference's
rankedtemp1/rankedtemp2/assd/market/appr round-trips, fa-etl.py:276-346,
are Polars memory-management artifacts), no driver materialization (the
``collect(streaming=True)`` split at fa-etl.py:107-110 is unnecessary —
Spark writes stream from executors).

Raw CSV ingestion: all columns arrive as strings selected **by header
name** (the reference infers + selects by name, fa-etl.py:60-61; a
positional schema would silently misalign on real extracts that carry
hundreds of columns). Numeric/date casts below null out malformed cells
(ANSI off), matching ``ignore_errors=True`` / ``strict=False``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from firstamerican_etl_spark.functions.scalar import (
    coalesce_cascade,
    compact_date,
    concat_with_fallback,
    domain_whitelist,
    flag_when,
    lpad_code,
    nullif_zero,
    year_slice,
)
from firstamerican_etl_spark.operators.relational import dedup_top1_per_group

#: Raw columns each family selects immediately after scan
#: (fa-etl.py:61, 162, 228, 298) — projection pushdown into the CSV
#: parser (Spark prunes unparsed columns when a select follows the scan).
RAW_COLUMNS = {
    "deed": [
        "PropertyID", "SaleAmt", "RecordingDate", "FIPS", "FATimeStamp",
        "FATransactionID", "TransactionType", "SaleDate",
    ],
    "prop": [
        "PropertyID", "PropertyClassID", "FATimeStamp", "SitusLatitude",
        "SitusLongitude", "SitusFullStreetAddress", "SitusCity", "SitusState",
        "SitusZIP5", "FIPS", "SitusCensusTract", "SitusCensusBlock",
        "SitusGeoStatusCode",
    ],
    "taxhist": ["PropertyID", "TaxYear", "TaxAmt"],
    "valhist": [
        "PropertyID", "AssdTotalValue", "AssdYear", "MarketTotalValue",
        "MarketValueYear", "ApprTotalValue", "ApprYear", "TaxableYear",
    ],
}


def read_family_csv(
    spark: SparkSession, path: str | list[str], family: str
) -> DataFrame:
    """Pipe-delimited scan of one raw family file (fa-etl.py:60 et al.).

    Header-named, all-string ingestion + immediate projection. PERMISSIVE
    mode nulls malformed cells (``ignore_errors``) and ignores surplus
    tokens on ragged rows (``truncate_ragged_lines``). Leading zeros
    survive because nothing is ever parsed as a number before ``lpad``.
    """
    df = (
        spark.read.options(
            sep="|",
            header="true",
            mode="PERMISSIVE",
            inferSchema="false",  # everything string; casts are explicit
        ).csv(path)
    )
    present = [c for c in RAW_COLUMNS[family] if c in df.columns]
    missing = [c for c in RAW_COLUMNS[family] if c not in df.columns]
    out = df.select(*present)
    for c in missing:  # schema stability when an extract omits a column
        out = out.withColumn(c, F.lit(None).cast("string"))
    return out


# ---------------------------------------------------------------- deed

def clean_deed(raw: DataFrame) -> DataFrame:
    """Staged deed (fa-etl.py:61-84): key/amount filters, compact-date
    parses, domain whitelist, year extracts, arms-length SaleFlag."""
    return (
        # null-reject AFTER the long cast: a non-numeric id string
        # passes a raw isNotNull but nulls under the cast (ANSI off) —
        # the reference nulls it at parse time (ignore_errors=True)
        # and its is_not_null filter then drops the row, so a
        # pre-cast filter would leak NULL-key rows the reference
        # never stages
        raw.withColumn("PropertyID", F.col("PropertyID").cast("long"))
        .filter(F.col("PropertyID").isNotNull())
        .withColumn("SaleAmt", F.col("SaleAmt").cast("long"))
        .filter((F.col("SaleAmt") > 0) & F.col("SaleAmt").isNotNull())
        .withColumn("RecordingYearSlice", year_slice("RecordingDate"))
        .withColumns(
            {
                "FIPS": lpad_code("FIPS", 5),
                "RecordingDate": compact_date("RecordingDate"),
                "SaleDate": compact_date("SaleDate"),
                "FATimeStamp": compact_date("FATimeStamp"),
                "FATransactionID_1": F.substring("FATransactionID", 1, 1),
                "TransactionType": domain_whitelist(
                    "TransactionType", ["1", "2", "3", "4", "5", "6"]
                ),
            }
        )
        .withColumns(
            {
                "RecordingYear": F.year("RecordingDate").cast("long"),
                "SaleYear": F.year("SaleDate"),
                "FATimeStampYear": F.year("FATimeStamp"),
                "SaleFlag": flag_when(
                    F.col("FATransactionID_1").isin("1", "6")
                    & F.col("TransactionType").isin("2", "3")
                ),
            }
        )
    )


def rank_deed(staged: DataFrame) -> DataFrame:
    """Ranked deed (fa-etl.py:96-106): among qualifying sales, exactly
    one most-recent row per (PropertyID, RecordingYear).

    The reference uses ``rank(method='random', seed=1)`` — contract:
    one arbitrary-but-deterministic row among ties (SURVEY.md §7.4.1).
    row_number over (RecordingDate desc, stable tiebreak) is the Spark
    idiom; plain rank() would keep all tied rows and break the grain.
    """
    return dedup_top1_per_group(
        # RecordingDate null-reject, faithful to the reference: Polars
        # rank() over a null RecordingDate yields a null rank, so
        # 'rank == 1' is false and all-null-date groups emit NOTHING —
        # row_number would happily crown an rn=1 row in the
        # (RecordingYear=NULL, PropertyID) partition instead. (A NULL
        # Year never joins downstream, but the staged ranked_deed
        # parquet must match the reference's.)
        staged.filter(
            (F.col("SaleFlag") == 1) & F.col("RecordingDate").isNotNull()
        ),
        partition_by=["RecordingYear", "PropertyID"],
        order_by=[F.col("RecordingDate").desc()],
        tiebreak=["SaleAmt", "FATransactionID"],
    ).select(
        F.col("PropertyID").cast("long").alias("PropertyID"),
        F.col("SaleAmt").cast("long").alias("SaleAmt"),
        F.col("RecordingYear").cast("long").alias("RecordingYear"),
    )


# ---------------------------------------------------------------- prop

def clean_prop(raw: DataFrame) -> DataFrame:
    """Staged prop (fa-etl.py:162-177): residential-only, geo-code
    lpad restoration, zero-island lat/long nulling, tract fallback key."""
    return (
        raw.filter(F.col("PropertyClassID") == "R")
        # cast-then-filter, same rationale as clean_deed: non-numeric
        # id strings must not survive as NULL-key rows
        .withColumn("PropertyID", F.col("PropertyID").cast("long"))
        .filter(F.col("PropertyID").isNotNull())
        .withColumns(
            {
                "FATimeStamp": compact_date("FATimeStamp"),
                "SitusLatitude": nullif_zero(F.col("SitusLatitude").cast("double")),
                "SitusLongitude": nullif_zero(F.col("SitusLongitude").cast("double")),
                "FIPS": lpad_code("FIPS", 5),
                "SitusCensusTract": lpad_code("SitusCensusTract", 6),
                "SitusCensusBlock": lpad_code("SitusCensusBlock", 4),
                "SitusZIP5": lpad_code("SitusZIP5", 5),
                "SitusGeoStatusCode": domain_whitelist(
                    "SitusGeoStatusCode", ["5", "7", "9", "A", "B", "X", "R"]
                ),
            }
        )
        # concat (null-propagating) + coalesce fallback — concat_ws would
        # skip the null tract and yield bare FIPS with no separator,
        # breaking the reference's fill_null semantics (fa-etl.py:175)
        .withColumn(
            "FIPS_SitusCensusTract",
            concat_with_fallback("FIPS", "SitusCensusTract", sep="_"),
        )
    )


# ------------------------------------------------------------- taxhist

def clean_taxhist(raw: DataFrame) -> DataFrame:
    """Staged taxhist (fa-etl.py:228-235): casts + the /100 adjustment
    ('assumption that tax amount is off by 100')."""
    return raw.withColumns(
        {
            "PropertyID": F.col("PropertyID").cast("long"),
            "TaxYear": F.col("TaxYear").cast("long"),
            "TaxAmt": F.col("TaxAmt").cast("long"),
        }
    ).withColumn("TaxAmtAdjusted", F.col("TaxAmt").cast("long") / 100)


# ------------------------------------------------------------- valhist

def clean_valhist(raw: DataFrame) -> DataFrame:
    """Staged valhist (fa-etl.py:297-309): wide assessment rows, all
    value/year columns cast long (malformed → null)."""
    return raw.withColumns(
        {
            c: F.col(c).cast("long")
            for c in RAW_COLUMNS["valhist"]
        }
    )


def valhist_long(
    staged: DataFrame, validate: bool = False, shuffle_hash_builds: bool = True
) -> DataFrame:
    """Ranked valhist (fa-etl.py:318-419) as ONE plan.

    The reference materializes three filtered projections (assd /
    market / appr) to temp parquet, left-joins assd←market←appr through
    two more temp files, applies the predicated cascade, and keeps only
    ``AssessmentUsed == 'Assd'`` rows. Here the three slices are lazy
    subplans of the same staged frame and the joins + cascade are one
    Catalyst plan — the three slice scans share one shuffle key
    (PropertyID, Year) so AQE plans them together.

    The empty-appr guard (fa-etl.py:366-391) is unnecessary in Spark: a
    left join against an empty side yields the null ApprTotalValue
    column with a stable schema, which is exactly the reference's
    fallback behavior.

    ``validate=True`` promotes the reference's TODO ('write checks -
    make sure there are no duplicates', fa-etl.py:348-349) into a real
    assertion: raises if market/appr slices have duplicate
    (PropertyID, Year) keys (which would multiply assd rows).

    ``shuffle_hash_builds`` (default on) hints SHUFFLE_HASH for the
    market/appr build sides — the same contract-backed strategy as
    unify(): the slices are (PropertyID, Year)-unique by the validated
    TODO above, so per-partition hash maps stay bounded at any scale
    and the SMJ sort materialization (the 100 TB spill surface the r12
    decade probe caught in the merge) never exists. Measured at 20M on
    identical staged input: 5.73 s -> 5.48 s steady-state, identical
    39,354,840 rows; the win is modest here because these sorts fit in
    memory at 20M — the hint is about what happens when they don't.
    """
    assd = (
        staged.withColumn("Year", F.col("AssdYear"))
        .filter(F.col("AssdTotalValue").isNotNull() & F.col("AssdYear").isNotNull())
        .select("PropertyID", "AssdTotalValue", "Year")
    )
    market = (
        staged.withColumn("Year", F.col("MarketValueYear"))
        .filter(
            F.col("MarketTotalValue").isNotNull() & F.col("MarketValueYear").isNotNull()
        )
        .select("PropertyID", "MarketTotalValue", "Year")
    )
    appr = (
        staged.withColumn("Year", F.col("ApprYear"))
        .filter(F.col("ApprTotalValue").isNotNull() & F.col("ApprYear").isNotNull())
        .select("PropertyID", "ApprTotalValue", "Year")
    )

    if validate:
        # the ASSD slice is checked too — it is the LEFT side that
        # sets the output grain, so a duplicate (PropertyID, Year)
        # there multiplies rows through both left joins while the
        # right-side-only check (and unify's m:1 assertion) passes;
        # the reference's TODO at fa-etl.py:348-349 ("make sure there
        # are no duplicates in the above") covers all three slices
        for name, side in (("assd", assd), ("market", market), ("appr", appr)):
            dupes = (
                side.groupBy("PropertyID", "Year").count().filter(F.col("count") > 1)
            )
            if not dupes.isEmpty():
                raise ValueError(
                    f"valhist {name} slice has duplicate (PropertyID, Year) keys"
                )

    if shuffle_hash_builds:
        market = market.hint("shuffle_hash")
        appr = appr.hint("shuffle_hash")
    joined = assd.join(market, on=["PropertyID", "Year"], how="left").join(
        appr, on=["PropertyID", "Year"], how="left"
    )

    value, used = coalesce_cascade(
        [
            ("AssdTotalValue", "Assd"),
            ("MarketTotalValue", "Market"),
            ("ApprTotalValue", "Appr"),
        ]
    )
    return (
        joined.withColumns(
            {"Value": value.cast("long"), "AssessmentUsed": used}
        )
        .filter(F.col("AssessmentUsed") == "Assd")
        .select("PropertyID", "Year", "Value", "MarketTotalValue", "ApprTotalValue")
    )
