"""Golden pipeline test (SURVEY.md §5.2): synthesize the FA-shaped
fixtures from FIXTURES.md §A as pipe-delimited .txt.zip files across two
synthetic counties (06037 with a leading-zero FIPS, 36061), run the full
pipeline, and assert staged/ranked/merged semantics against the
reference's behavior (fa-etl.py:20-483).

Edge cases exercised:
- null / zero / negative SaleAmt (dropped)
- malformed compact dates (→ null)
- FIPS / ZIP / tract / block needing leading-zero lpad restoration
- TransactionType + GeoStatusCode domain whitelists
- (PropertyID, year) sale ties → exactly one ranked row
- zero lat/long → null
- null census tract → FIPS_SitusCensusTract falls back to bare FIPS
- zero AssdTotalValue → cascade falls through → row dropped by the
  AssessmentUsed=='Assd' filter
- county 06037 has an entirely empty appr side (fa-etl.py:370-391)
- merged = exactly 17 columns, ≤1 row per (PropertyID, Year),
  Value == AssdTotalValue everywhere, SaleAmt never null
"""

from __future__ import annotations

import os
import zipfile

import pytest
from pyspark.sql import functions as F

from firstamerican_etl_spark.pipeline.run import run_pipeline
from firstamerican_etl_spark.pipeline.unify import MERGED_COLUMNS

DEED_HEADER = "PropertyID|SaleAmt|RecordingDate|FIPS|FATimeStamp|FATransactionID|TransactionType|SaleDate|ExtraCol"
PROP_HEADER = (
    "PropertyID|PropertyClassID|FATimeStamp|SitusLatitude|SitusLongitude"
    "|SitusFullStreetAddress|SitusCity|SitusState|SitusZIP5|FIPS"
    "|SitusCensusTract|SitusCensusBlock|SitusGeoStatusCode"
)
TAXHIST_HEADER = "PropertyID|TaxYear|TaxAmt"
VALHIST_HEADER = (
    "PropertyID|AssdTotalValue|AssdYear|MarketTotalValue|MarketValueYear"
    "|ApprTotalValue|ApprYear|TaxableYear"
)

# County 36061 deed rows. Property 1: two 2020 sales (tie on date) + one
# 2021 sale; property 2: one qualifying and one non-qualifying sale;
# property 3: rows that all fail cleaning filters.
DEED_36061 = [
    "1|100000|20200315|36061|20200316|1A99|2|20200314",   # qualifying
    "1|120000|20200315|36061|20200316|6B01|3|20200314",   # tie date, qualifying
    "1|150000|20210601|36061|20210602|1C11|2|20210530",   # 2021 sale
    "2|80000|20190710|36061|20190711|6D77|3|20190709",    # qualifying
    "2|90000|20190801|36061|20190802|9E55|2|20190731",    # FATransactionID_1='9' → flag 0
    "2|85000|20190901|36061|20190902|1F66|8|20190830",    # TransactionType '8' → null → flag 0
    "3||20200101|36061|20200102|1G11|2|20191231",         # null SaleAmt → dropped
    "3|0|20200101|36061|20200102|1H11|2|20191231",        # zero SaleAmt → dropped
    "3|-5|20200101|36061|20200102|1I11|2|20191231",       # negative → dropped
    "|70000|20200101|36061|20200102|1J11|2|20191231",     # null PropertyID → dropped
    "4|60000|notadate|36061|20200102|1K11|2|20191231",    # bad RecordingDate → null year
]
# County 06037 (leading-zero FIPS arrives as 4-digit "6037")
DEED_06037 = [
    "10|500000|20200505|6037|20200506|1M11|2|20200504",
    "11|450000|20210505|6037|20210506|6N11|3|20210504",
]

PROP_36061 = [
    "1|R|20200101|40.7|-74.0|123 MAIN ST|NEW YORK|NY|10001|36061|000100|1001|A",
    "2|R|20200101|0|0|456 OAK AVE|NEW YORK|NY|2134|36061||1002|5",   # zero latlong→null; 4-digit zip; null tract
    "3|C|20200101|40.8|-74.1|789 ELM ST|NEW YORK|NY|10003|36061|000300|1003|7",  # class C → dropped
    "5|R|20200101|40.9|-74.2|12 PINE RD|NEW YORK|NY|10004|36061|300|0042|Z",  # tract lpad to 6; code Z → null
]
PROP_06037 = [
    "10|R|20200101|34.05|-118.24|1 SUNSET BLVD|LOS ANGELES|CA|90001|6037|123456|0001|B",
    "11|R|20200101|34.06|-118.25|2 VINE ST|LOS ANGELES|CA|90002|6037|654321|0002|X",
]

TAXHIST_36061 = [
    "1|2020|1234500",
    "1|2021|1300000",
    "2|2019|890000",
    "9|2020|50000",  # property with no valhist → never reaches merged
]
TAXHIST_06037 = [
    "10|2020|2000000",
    "11|2021|2100000",
]

# ValHist: (value, year) pairs per assessment type.
# Property 1: assd 2020+2021; market 2020; appr 2021.
# Property 2: assd 2019 zero value (cascade falls to market → filtered out);
#             assd 2019 is the ONLY (2,2019) assd row with value 0.
# Property 5: assd with null year → excluded from the assd slice.
VALHIST_36061 = [
    "1|300000|2020|310000|2020|320000|2021|2020",
    "1|305000|2021|||||2021",
    "2|0|2019|200000|2019|||2019",
    "5|400000||||||",
]
# County 06037: appr side entirely empty (fa-etl.py:370-391 branch)
VALHIST_06037 = [
    "10|900000|2020|910000|2020|||2020",
    "11|950000|2021|||||2021",
]


def _write_zip(raw_dir: str, name: str, header: str, rows: list[str]) -> None:
    txt = f"{name}.txt"
    txt_path = os.path.join(raw_dir, txt)
    with open(txt_path, "w") as f:
        f.write(header + "\n")
        f.write("\n".join(rows) + "\n")
    with zipfile.ZipFile(os.path.join(raw_dir, f"{txt}.zip"), "w") as zf:
        zf.write(txt_path, arcname=txt)
    os.remove(txt_path)


@pytest.fixture(scope="module")
def fa_dirs(spark, tmp_path_factory):
    input_dir = str(tmp_path_factory.mktemp("fa_input"))
    raw_dir = os.path.join(input_dir, "raw")
    os.makedirs(raw_dir)
    _write_zip(raw_dir, "Deed36061", DEED_HEADER, DEED_36061)
    _write_zip(raw_dir, "Deed06037", DEED_HEADER, DEED_06037)
    _write_zip(raw_dir, "Prop36061", PROP_HEADER, PROP_36061)
    _write_zip(raw_dir, "Prop06037", PROP_HEADER, PROP_06037)
    _write_zip(raw_dir, "TaxHist36061", TAXHIST_HEADER, TAXHIST_36061)
    _write_zip(raw_dir, "TaxHist06037", TAXHIST_HEADER, TAXHIST_06037)
    _write_zip(raw_dir, "ValHist36061", VALHIST_HEADER, VALHIST_36061)
    _write_zip(raw_dir, "ValHist06037", VALHIST_HEADER, VALHIST_06037)
    merged = run_pipeline(spark, input_dir, validate=True)
    return input_dir, merged


def test_staged_deed(spark, fa_dirs):
    input_dir, _ = fa_dirs
    deed = spark.read.parquet(os.path.join(input_dir, "staging", "deed"))
    rows = {r["PropertyID"]: r for r in deed.collect() if r["PropertyID"] == 4}
    # cleaning filters: null/zero/negative SaleAmt and null PropertyID gone
    assert deed.filter(F.col("SaleAmt") <= 0).count() == 0
    assert deed.filter(F.col("PropertyID").isNull()).count() == 0
    # malformed RecordingDate → null date and year, row retained
    assert rows[4]["RecordingDate"] is None
    assert rows[4]["RecordingYear"] is None
    assert rows[4]["RecordingYearSlice"] == "nota"
    # FIPS lpad on the 06037 county
    fips = {r["FIPS"] for r in deed.select("FIPS").distinct().collect()}
    assert fips == {"36061", "06037"}
    # SaleFlag heuristic
    flags = {
        (r["PropertyID"], r["RecordingYear"], r["SaleAmt"]): r["SaleFlag"]
        for r in deed.collect()
    }
    assert flags[(2, 2019, 80000)] == 1
    assert flags[(2, 2019, 90000)] == 0  # first char '9'
    assert flags[(2, 2019, 85000)] == 0  # TransactionType whitelisted away


def test_ranked_deed_grain(spark, fa_dirs):
    input_dir, _ = fa_dirs
    ranked = spark.read.parquet(os.path.join(input_dir, "staging", "ranked_deed"))
    assert ranked.columns == ["PropertyID", "SaleAmt", "RecordingYear"]
    # exactly one row per (PropertyID, RecordingYear)
    dupes = (
        ranked.groupBy("PropertyID", "RecordingYear").count().filter("count > 1")
    )
    assert dupes.count() == 0
    got = {
        (r["PropertyID"], r["RecordingYear"]): r["SaleAmt"] for r in ranked.collect()
    }
    # tie on (1, 2020): exactly one survivor, deterministically chosen
    assert (1, 2020) in got and got[(1, 2020)] in (100000, 120000)
    assert got[(1, 2021)] == 150000
    assert got[(2, 2019)] == 80000  # only the qualifying sale competes
    # determinism across re-runs: re-rank from staging and compare
    from firstamerican_etl_spark.pipeline.convert import rank_deed

    staged = spark.read.parquet(os.path.join(input_dir, "staging", "deed"))
    again = {
        (r["PropertyID"], r["RecordingYear"]): r["SaleAmt"]
        for r in rank_deed(staged).collect()
    }
    assert got == again


def test_staged_prop(spark, fa_dirs):
    input_dir, _ = fa_dirs
    prop = spark.read.parquet(os.path.join(input_dir, "staging", "prop"))
    rows = {r["PropertyID"]: r for r in prop.collect()}
    assert 3 not in rows  # class 'C' dropped
    assert rows[2]["SitusLatitude"] is None and rows[2]["SitusLongitude"] is None
    assert rows[2]["SitusZIP5"] == "02134"  # lpad
    assert rows[5]["SitusCensusTract"] == "000300"  # lpad 6
    assert rows[5]["SitusGeoStatusCode"] is None  # 'Z' not whitelisted
    assert rows[10]["FIPS"] == "06037"
    # tract fallback: null tract → bare FIPS, no trailing separator
    assert rows[2]["FIPS_SitusCensusTract"] == "36061"
    assert rows[1]["FIPS_SitusCensusTract"] == "36061_000100"


def test_valhist_cascade(spark, fa_dirs):
    input_dir, _ = fa_dirs
    rv = spark.read.parquet(os.path.join(input_dir, "staging", "ranked_valhist"))
    assert rv.columns == ["PropertyID", "Year", "Value", "MarketTotalValue", "ApprTotalValue"]
    rows = {(r["PropertyID"], r["Year"]): r for r in rv.collect()}
    # zero assd value falls through the cascade → AssessmentUsed!='Assd' → dropped
    assert (2, 2019) not in rows
    # null AssdYear excluded from the assd slice
    assert all(pid != 5 for pid, _ in rows)
    # Value always equals AssdTotalValue on surviving rows
    assert rows[(1, 2020)]["Value"] == 300000
    assert rows[(1, 2020)]["MarketTotalValue"] == 310000
    assert rows[(1, 2020)]["ApprTotalValue"] is None  # appr year was 2021
    assert rows[(1, 2021)]["Value"] == 305000
    assert rows[(1, 2021)]["ApprTotalValue"] == 320000
    # empty-appr county still has the ApprTotalValue column, all null
    assert rows[(10, 2020)]["ApprTotalValue"] is None


def test_merged_golden(spark, fa_dirs):
    _, merged = fa_dirs
    assert sorted(merged.columns) == sorted(MERGED_COLUMNS)
    assert len(merged.columns) == 17
    rows = {(r["PropertyID"], r["Year"]): r for r in merged.collect()}
    # grain: ≤1 row per (PropertyID, Year)
    assert merged.groupBy("PropertyID", "Year").count().filter("count > 1").count() == 0
    # only rows with a ranked sale survive
    assert merged.filter(F.col("SaleAmt").isNull()).count() == 0
    # property 1, 2020: sale + tax + geo all joined
    r = rows[(1, 2020)]
    assert r["Value"] == 300000
    assert r["SaleAmt"] in (100000, 120000)
    assert r["TaxAmt"] == 1234500
    assert r["TaxAmtAdjusted"] == pytest.approx(12345.0)
    assert r["SitusCity"] == "NEW YORK"
    # cross-county row from the leading-zero county
    r10 = rows[(10, 2020)]
    assert r10["FIPS"] == "06037"
    assert r10["SaleAmt"] == 500000
    # (2, 2019) died in the cascade even though a sale exists
    assert (2, 2019) not in rows


def test_idempotent_resume(spark, fa_dirs):
    """S6: a second run with staged outputs present skips conversion and
    still produces the same merged result."""
    input_dir, merged = fa_dirs
    before = sorted(map(str, merged.collect()))
    merged2 = run_pipeline(spark, input_dir)
    after = sorted(map(str, merged2.collect()))
    assert before == after


def test_staged_schema_contracts(spark, fa_dirs):
    """Every staged/ranked output matches its declared schema contract
    exactly (names, order, types) — drift fails loudly here instead of
    nulling columns downstream."""
    from firstamerican_etl_spark.pipeline.schemas import assert_staged_schema

    input_dir, _ = fa_dirs
    for family in ("deed", "ranked_deed", "prop", "taxhist", "valhist", "ranked_valhist"):
        df = spark.read.parquet(os.path.join(input_dir, "staging", family))
        assert_staged_schema(df, family)


def test_fazip_pipeline_parity(spark, fa_dirs, tmp_path_factory):
    """The executor-side fazip ingest path produces a byte-identical
    merged result to the driver-side unzip path."""
    import shutil

    input_dir, _ = fa_dirs
    alt = str(tmp_path_factory.mktemp("fa_fazip"))
    shutil.copytree(os.path.join(input_dir, "raw"), os.path.join(alt, "raw"))
    merged2 = run_pipeline(spark, alt, use_fazip_source=True)
    # re-read from disk: earlier tests may have rewritten the output,
    # leaving the fixture's DataFrame with a stale file index
    merged = spark.read.parquet(os.path.join(input_dir, "unified", "merged.parquet"))
    a = sorted(map(str, merged.collect()))
    b = sorted(map(str, merged2.collect()))
    assert a == b


def test_preflight_missing_family(spark, tmp_path_factory):
    """O4: a raw dir missing any of the 4 families aborts loudly."""
    bad = str(tmp_path_factory.mktemp("fa_bad"))
    raw = os.path.join(bad, "raw")
    os.makedirs(raw)
    _write_zip(raw, "Deed36061", DEED_HEADER, DEED_36061)  # only deeds
    with pytest.raises(FileNotFoundError, match="missing required file families"):
        run_pipeline(spark, bad)


def test_unify_m1_validation(spark, fa_dirs):
    """validate_m1 promotes fa-etl.py:464's commented-out m:1 check
    into a real assertion: clean staged inputs pass, a duplicated prop
    build side raises."""
    from firstamerican_etl_spark.pipeline.unify import unify

    input_dir, _ = fa_dirs
    staging = os.path.join(input_dir, "staging")
    rv = spark.read.parquet(os.path.join(staging, "ranked_valhist"))
    prop = spark.read.parquet(os.path.join(staging, "prop"))
    deed = spark.read.parquet(os.path.join(staging, "ranked_deed"))
    tax = spark.read.parquet(os.path.join(staging, "taxhist"))

    ok = unify(rv, prop, deed, tax, validate_m1=True)
    assert ok.count() >= 0  # clean sides pass

    dup_prop = prop.unionByName(prop.limit(1))
    with pytest.raises(ValueError, match="m:1 join validation failed: prop"):
        unify(rv, dup_prop, deed, tax, validate_m1=True)


def test_unify_merge_plans_shuffled_hash_joins(spark, fa_dirs):
    """r12 decade probe (BASELINE.md): the merge's three SMJ sorts were
    its top cost at 20M properties (15.3 s + a 7.25 GiB sorter spill
    vs 12.1 s / zero spill with SHUFFLE_HASH build hints, identical
    rows). The m:1-validated build sides keep per-partition hash maps
    bounded, so the default plan must carry ShuffledHashJoin for the
    cascade and no SortMergeJoin anywhere; shuffle_hash_builds=False
    restores Catalyst's choice for un-validated ingests."""
    from firstamerican_etl_spark.pipeline.unify import unify

    input_dir, _ = fa_dirs
    staging = os.path.join(input_dir, "staging")
    rv = spark.read.parquet(os.path.join(staging, "ranked_valhist"))
    prop = spark.read.parquet(os.path.join(staging, "prop"))
    deed = spark.read.parquet(os.path.join(staging, "ranked_deed"))
    tax = spark.read.parquet(os.path.join(staging, "taxhist"))

    plan = unify(rv, prop, deed, tax)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ShuffledHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan, plan

    # the opt-out really opts out (strategy back to Catalyst)
    plan_off = (
        unify(rv, prop, deed, tax, shuffle_hash_builds=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ShuffledHashJoin" not in plan_off, plan_off


def test_cli_main_end_to_end(spark, tmp_path_factory):
    """O1 CLI contract: main(argv) parses the reference's four flags,
    runs the pipeline, writes the log file, and produces the merged
    output under input_dir/unified."""
    from firstamerican_etl_spark.pipeline.run import main

    input_dir = str(tmp_path_factory.mktemp("fa_cli_input"))
    raw_dir = os.path.join(input_dir, "raw")
    os.makedirs(raw_dir)
    _write_zip(raw_dir, "Deed36061", DEED_HEADER, DEED_36061)
    _write_zip(raw_dir, "Prop36061", PROP_HEADER, PROP_36061)
    _write_zip(raw_dir, "TaxHist36061", TAXHIST_HEADER, TAXHIST_36061)
    _write_zip(raw_dir, "ValHist36061", VALHIST_HEADER, VALHIST_36061)
    log_file = os.path.join(input_dir, "etl.log")

    main([
        "--input_dir", input_dir,
        "--log_file", log_file,
        "--annual_file_string", "Prop",
        "--value_history_file_string", "ValHist",
        "--validate",
    ])

    merged = spark.read.parquet(os.path.join(input_dir, "unified", "merged.parquet"))
    assert merged.count() > 0
    assert len(merged.columns) == len(MERGED_COLUMNS)
    assert os.path.exists(log_file) and os.path.getsize(log_file) > 0


def test_bucketed_staging_parity_and_colocated_merge(spark, fa_dirs, tmp_path_factory):
    """--bucket_staging: staged/ranked frames persisted as PropertyID-
    bucketed tables must (a) produce the byte-identical merged output
    of the plain run and (b) plan the ENTIRE 4-way unified merge with
    zero shuffle exchanges — the staging shuffle is the only one."""
    import shutil

    from firstamerican_etl_spark.operators.scale import join_is_colocated

    input_dir, _ = fa_dirs
    alt = str(tmp_path_factory.mktemp("fa_bucketed"))
    shutil.copytree(
        os.path.join(input_dir, "raw"), os.path.join(alt, "raw")
    )
    merged_b = run_pipeline(spark, alt, bucket_staging=4)
    # fresh read: earlier tests may have rewritten the plain merged
    # output, staling the module fixture's file index
    merged_plain = spark.read.parquet(
        os.path.join(input_dir, "unified", "merged.parquet")
    )
    assert sorted(map(str, merged_b.collect())) == sorted(
        map(str, merged_plain.collect())
    )
    # re-derive the merge plan from the bucketed catalog tables: the
    # three PropertyID joins must consume the bucket partitioning
    from firstamerican_etl_spark.pipeline.run import _bucket_table
    from firstamerican_etl_spark.pipeline.unify import unify

    merged_from_tables = unify(
        ranked_valhist=spark.table(_bucket_table("ranked_valhist", alt)),
        prop=spark.table(_bucket_table("prop", alt)),
        ranked_deed=spark.table(_bucket_table("ranked_deed", alt)),
        taxhist=spark.table(_bucket_table("taxhist", alt)),
    )
    assert join_is_colocated(merged_from_tables), (
        merged_from_tables._jdf.queryExecution().executedPlan().toString()[:2000]
    )


def test_incremental_county_append(spark, tmp_path_factory):
    """The national-scale operating mode: new counties arrive after an
    initial run. The freshness-aware resume must (a) skip all staging
    on a no-change rerun, (b) RESTAGE when a new county's raw files
    land (a bare existence check would serve stale staging forever —
    the bug class stage_is_fresh exists for), and (c) produce a merged
    output that includes the new county while preserving the original
    county's rows."""
    input_dir = str(tmp_path_factory.mktemp("fa_incr"))
    raw_dir = os.path.join(input_dir, "raw")
    os.makedirs(raw_dir)
    _write_zip(raw_dir, "Deed36061", DEED_HEADER, DEED_36061)
    _write_zip(raw_dir, "Prop36061", PROP_HEADER, PROP_36061)
    _write_zip(raw_dir, "TaxHist36061", TAXHIST_HEADER, TAXHIST_36061)
    _write_zip(raw_dir, "ValHist36061", VALHIST_HEADER, VALHIST_36061)
    merged1 = run_pipeline(spark, input_dir)
    rows1 = {tuple(r) for r in merged1.collect()}
    assert rows1

    staging = os.path.join(input_dir, "staging")

    def staged_mtimes():
        return {
            os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
            for dp, _, fs in os.walk(staging)
            for f in fs
            if f == "_SUCCESS"
        }

    before = staged_mtimes()
    assert before

    # (a) no-change rerun: every stage skipped, nothing rewritten
    run_pipeline(spark, input_dir)
    assert staged_mtimes() == before

    # the new county lands → (b) the touched families restage
    _write_zip(raw_dir, "Deed06037", DEED_HEADER, DEED_06037)
    _write_zip(raw_dir, "Prop06037", PROP_HEADER, PROP_06037)
    _write_zip(raw_dir, "TaxHist06037", TAXHIST_HEADER, TAXHIST_06037)
    _write_zip(raw_dir, "ValHist06037", VALHIST_HEADER, VALHIST_06037)
    merged2 = run_pipeline(spark, input_dir)
    rows2 = {tuple(r) for r in merged2.collect()}
    after = staged_mtimes()
    assert all(after[p] > before[p] for p in before), "stale staging served"

    # (c) new county present, original county's rows preserved
    ids = {r[0] for r in rows2}
    assert {10, 11} & ids, ids
    assert rows1 <= rows2
    assert len(rows2) > len(rows1)


def test_standardize_geo_stage(spark, tmp_path_factory):
    """--standardize_geo wires the point-in-polygon validation the
    reference documents but never ships (fa-etl.py:492): LA-county
    fixture coords land in FA tract 102 → 'V'; NY coords are outside
    every FA tract → 'O'; nulled (zero) coords → null. The unified
    output gains exactly GeoTractID + SitusGeoMatch."""
    input_dir = str(tmp_path_factory.mktemp("fa_geo"))
    raw_dir = os.path.join(input_dir, "raw")
    os.makedirs(raw_dir)
    _write_zip(raw_dir, "Deed36061", DEED_HEADER, DEED_36061)
    _write_zip(raw_dir, "Deed06037", DEED_HEADER, DEED_06037)
    _write_zip(raw_dir, "Prop36061", PROP_HEADER, PROP_36061)
    _write_zip(raw_dir, "Prop06037", PROP_HEADER, PROP_06037)
    _write_zip(raw_dir, "TaxHist36061", TAXHIST_HEADER, TAXHIST_36061)
    _write_zip(raw_dir, "TaxHist06037", TAXHIST_HEADER, TAXHIST_06037)
    _write_zip(raw_dir, "ValHist36061", VALHIST_HEADER, VALHIST_36061)
    _write_zip(raw_dir, "ValHist06037", VALHIST_HEADER, VALHIST_06037)
    merged = run_pipeline(spark, input_dir, standardize_geo=True)
    assert set(merged.columns) == set(MERGED_COLUMNS) | {
        "GeoTractID", "SitusGeoMatch"
    }
    rows = {r["PropertyID"]: r for r in merged.collect()}
    # LA fixture coords (34.05, -118.24) → centideg (3405, -11824):
    # inside tract 102 of pipeline.geo.FA_TRACTS
    assert rows[10]["SitusGeoMatch"] == "V" and rows[10]["GeoTractID"] == 102
    assert rows[11]["SitusGeoMatch"] == "V" and rows[11]["GeoTractID"] == 102
    # NY coords present but outside the FA tract grid
    assert rows[1]["SitusGeoMatch"] == "O" and rows[1]["GeoTractID"] is None
    # zero→null coords (property 2 never reaches merged — its zero assd
    # value drops it in the cascade — so assert on the staged frame)
    from firstamerican_etl_spark.pipeline.geo import standardize_geo

    prop = spark.read.parquet(os.path.join(input_dir, "staging", "prop"))
    geo = {r["PropertyID"]: r for r in standardize_geo(prop).collect()}
    assert geo[2]["SitusGeoMatch"] is None and geo[2]["GeoTractID"] is None


def test_standardize_geo_custom_tracts_file(spark, tmp_path_factory):
    """--tracts_file routes REAL tract rings into the geo stage (the
    FA_TRACTS default is fixture-only): with a ring around the NY
    fixture coords, NY properties validate 'V' into the custom tract
    and the LA properties — inside the default fixture grid but
    outside the custom ring — are stamped 'O'."""
    import json

    from firstamerican_etl_spark.pipeline.geo import load_tracts, standardize_geo

    tdir = tmp_path_factory.mktemp("tracts")
    tracts_path = os.path.join(str(tdir), "ny_tracts.json")
    # one ring around (40.7..40.95, -74.25..-73.95) in centidegrees,
    # boundaries offset off the fixture lattice
    ring = [[-7426, 4065], [-7394, 4065], [-7394, 4096], [-7426, 4096]]
    with open(tracts_path, "w") as f:
        json.dump([[36061001, ring]], f)

    input_dir = str(tmp_path_factory.mktemp("fa_geo_custom"))
    raw_dir = os.path.join(input_dir, "raw")
    os.makedirs(raw_dir)
    for name, header, rows in [
        ("Deed36061", DEED_HEADER, DEED_36061),
        ("Deed06037", DEED_HEADER, DEED_06037),
        ("Prop36061", PROP_HEADER, PROP_36061),
        ("Prop06037", PROP_HEADER, PROP_06037),
        ("TaxHist36061", TAXHIST_HEADER, TAXHIST_36061),
        ("TaxHist06037", TAXHIST_HEADER, TAXHIST_06037),
        ("ValHist36061", VALHIST_HEADER, VALHIST_36061),
        ("ValHist06037", VALHIST_HEADER, VALHIST_06037),
    ]:
        _write_zip(raw_dir, name, header, rows)
    merged = run_pipeline(
        spark, input_dir, standardize_geo=True, tracts_file=tracts_path
    )
    rows = {r["PropertyID"]: r for r in merged.collect()}
    assert rows[1]["SitusGeoMatch"] == "V"
    assert rows[1]["GeoTractID"] == 36061001
    assert rows[10]["SitusGeoMatch"] == "O" and rows[10]["GeoTractID"] is None

    # loader validates shape
    bad = os.path.join(str(tdir), "bad.json")
    with open(bad, "w") as f:
        json.dump([[1, [[0, 0], [1, 1]]]], f)  # 2-vertex ring
    import pytest

    with pytest.raises(ValueError, match=">=3 vertices"):
        load_tracts(bad)

    # direct-call parity: the same rings through the public API
    prop = spark.read.parquet(os.path.join(input_dir, "staging", "prop"))
    geo = {
        r["PropertyID"]: r
        for r in standardize_geo(prop, tracts=load_tracts(tracts_path)).collect()
    }
    assert geo[5]["SitusGeoMatch"] == "V"  # (40.9, -74.2) inside the ring


def test_reference_parity_edge_rows(spark):
    """Three reference-parity edges (r9 review): (a) a NON-NUMERIC
    PropertyID nulls under the cast and must be DROPPED, not staged as
    a NULL-key row; (b) a flagged sale whose RecordingDate is
    malformed (NULL after compact_date) must emit NO ranked row — the
    reference's null rank drops the whole all-null-date group; (c)
    validate=True must reject duplicate (PropertyID, Year) keys on the
    ASSD slice, the left side that sets the output grain."""
    import pytest

    from firstamerican_etl_spark.pipeline.convert import (
        clean_deed,
        rank_deed,
        valhist_long,
        clean_valhist,
    )

    deed_rows = [
        # PropertyID, SaleAmt, RecordingDate, SaleDate, FATimeStamp,
        # FATransactionID, TransactionType, FIPS
        ("ABC12", "70000", "20200101", "20200101", "20200102", "1J11", "2", "6037"),
        ("7", "50000", "2020-13-45", "20200101", "20200102", "1J11", "2", "6037"),
        ("8", "60000", "20200301", "20200301", "20200302", "1J11", "2", "6037"),
    ]
    raw = spark.createDataFrame(
        deed_rows,
        "PropertyID string, SaleAmt string, RecordingDate string, "
        "SaleDate string, FATimeStamp string, FATransactionID string, "
        "TransactionType string, FIPS string",
    )
    staged = clean_deed(raw)
    ids = [r["PropertyID"] for r in staged.select("PropertyID").collect()]
    assert None not in ids and len(ids) == 2  # 'ABC12' dropped
    ranked = rank_deed(staged).collect()
    assert [r["PropertyID"] for r in ranked] == [8]  # null-date group gone

    vh_rows = [
        ("1", "100", "2020", "110", "2020", "120", "2020", "2020"),
        ("1", "105", "2020", None, None, None, None, "2020"),  # dup assd key
    ]
    vraw = spark.createDataFrame(
        vh_rows,
        "PropertyID string, AssdTotalValue string, AssdYear string, "
        "MarketTotalValue string, MarketValueYear string, "
        "ApprTotalValue string, ApprYear string, TaxableYear string",
    )
    with pytest.raises(ValueError, match="assd slice"):
        valhist_long(clean_valhist(vraw), validate=True)


def test_scaled_shuffle_conf_sizes_from_input_bytes(spark, tmp_path, monkeypatch):
    """r13 100M probe regression: a pinned shuffle-partition count let
    every SHUFFLE_HASH build map grow linearly with input volume until
    the merge OOMed ('not enough memory to build hash map'). The
    pipeline entry must size spark.sql.shuffle.partitions from the
    measured uncompressed input bytes (zip central-directory metadata)
    and restore the session conf afterwards — including on failure."""
    from firstamerican_etl_spark.pipeline import run as run_mod

    raw = tmp_path / "raw"
    raw.mkdir()
    with zipfile.ZipFile(raw / "Deed1.txt.zip", "w") as zf:
        zf.writestr("Deed1.txt", "PropertyID|x\n" + "1|y\n" * 1000)
    member_bytes = sum(
        i.file_size for i in zipfile.ZipFile(raw / "Deed1.txt.zip").infolist()
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    # small inputs: no change, nothing to restore
    assert run_mod._scaled_shuffle_conf(spark, str(raw)) is None
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    # force the target above the current count: 4 bytes per partition
    monkeypatch.setattr(run_mod, "_SHUFFLE_TARGET_BYTES", 4)
    old = run_mod._scaled_shuffle_conf(spark, str(raw))
    try:
        assert old is not None
        scaled = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert scaled == -(-member_bytes // 4)  # ceil(bytes / target)
        assert (
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
            == "32m"
        )
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    # run_pipeline restores the conf even when the body raises
    monkeypatch.setattr(
        run_mod, "_run_pipeline_impl",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("boom")),
    )
    with pytest.raises(RuntimeError, match="boom"):
        run_mod.run_pipeline(spark, str(tmp_path))
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_auto_fazip_ingest_selection(spark, tmp_path, monkeypatch):
    """r13 VERDICT ask #4: run_pipeline auto-selects the ingest path
    from the zip member count (crossover measured in SCALING.md —
    fazip wins >=~4x cores members, extract wins below). Pins the
    decision function on both measured 20M input shapes and the
    override semantics."""
    from firstamerican_etl_spark.pipeline import run as run_mod

    raw = tmp_path / "raw"
    raw.mkdir()

    def write_zip(name, n_members):
        with zipfile.ZipFile(raw / name, "w") as zf:
            for i in range(n_members):
                zf.writestr(f"{name}.{i}.txt", "PropertyID|x\n1|y\n")

    # the 8-member shape (one member per zip x 8 zips): extract wins
    for i in range(8):
        write_zip(f"Deed{i}.txt.zip", 1)
    cores = 32
    assert run_mod._auto_fazip(str(raw), cores) is False

    # the 128-member shape: fazip wins (>= 4 x 32 cores)
    for i in range(8, 16):
        write_zip(f"Prop{i}.txt.zip", 15)  # 8 + 120 = 128 members
    assert run_mod._auto_fazip(str(raw), cores) is True

    # threshold is cores-relative: same 128 members, huge core count
    assert run_mod._auto_fazip(str(raw), 1024) is False

    # any non-zip raw file forces the extract path (fazip reads zips only)
    (raw / "Tax99999.txt").write_text("PropertyID|TaxYear|TaxAmt\n")
    assert run_mod._auto_fazip(str(raw), cores) is False
    (raw / "Tax99999.txt").unlink()

    # run_pipeline wires the auto decision into the impl kwargs; an
    # explicit override always wins
    seen = {}

    def fake_impl(_spark, _input_dir, **kwargs):
        seen.update(kwargs)
        return None

    monkeypatch.setattr(run_mod, "_run_pipeline_impl", fake_impl)
    run_mod.run_pipeline(spark, str(tmp_path))
    assert seen["use_fazip_source"] is (
        run_mod._auto_fazip(str(raw), spark.sparkContext.defaultParallelism)
    )
    seen.clear()
    run_mod.run_pipeline(spark, str(tmp_path), use_fazip_source=False)
    assert seen["use_fazip_source"] is False
    seen.clear()
    run_mod.run_pipeline(spark, str(tmp_path), use_fazip_source=True)
    assert seen["use_fazip_source"] is True
