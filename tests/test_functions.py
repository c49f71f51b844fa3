"""Scalar-function and redaction tests (reference: redaction
parametrized cases tests/test_database_to_staging.py:1151-1786)."""

from __future__ import annotations

from pyspark.sql import functions as F

from genie_spark.functions.redact import age_days_to_release_years, redact_phi
from genie_spark.functions.scalars import (
    allele_ok,
    chromosome_ok,
    genie_id_ok,
    is_integer_string,
    parse_month_year,
    standardize_for_compare,
    strip_chr_prefix,
    days_to_years,
)


def _eval(spark, col, values, input_type="string"):
    df = spark.createDataFrame([(v,) for v in values], f"x {input_type}")
    return [r[0] for r in df.select(col).collect()]


def test_is_integer_string(spark):
    got = _eval(spark, is_integer_string("x"), ["3", "3.0", "3.5", "abc", None, "-7"])
    assert got == [True, True, False, False, False, True]


def test_genie_id(spark):
    ids = ["GENIE-SAGE-1-1", "GENIE-TEST-1", "SAGE-1", "GENIE-SAGE-" + "x" * 50]
    got = _eval(spark, genie_id_ok("x", "SAGE"), ids)
    assert got == [True, False, False, False]


def test_allele_charset(spark):
    # literal "NA" is a VALID allele (N+A) — genie_registry/maf.py:513-551
    got = _eval(spark, allele_ok("x"), ["ATCG", "atcg", "NA", "-", "--", "A-T", "XYZ", ""])
    assert got == [True, True, True, True, True, False, False, False]


def test_chromosome_domain(spark):
    got = _eval(spark, chromosome_ok("x", allow_chr_prefix=True),
                ["1", "22", "X", "MT", "chr5", "23", "chr23"])
    assert got == [True, True, True, True, True, False, False]


def test_strip_chr_and_standardize(spark):
    assert _eval(spark, strip_chr_prefix("x"), ["chr1", "1chr", "chrX"]) == ["1", "1chr", "X"]
    assert _eval(spark, standardize_for_compare("x"), ["A_B", "a-b"]) == ["a-b", "a-b"]


def test_parse_month_year(spark):
    got = _eval(spark, parse_month_year("x").cast("string"), ["Jan-2017", "jUL-1999", "bogus"])
    assert got == ["2017-01-01", "1999-07-01", None]


def test_days_to_years(spark):
    got = _eval(spark, days_to_years("x"), ["36500", "365", "0"])
    assert got == [99, 0, 0]


def test_redact_phi_interval_and_birth_year(spark):
    df = spark.createDataFrame(
        [
            ("p1", "40000", "1930", "2020"),   # >89y → redact age + birth year
            ("p2", "1000", "2010", "2020"),    # numeric <18y: NOT redacted (ref only acts on '<' marker)
            ("p3", "20000", "1980", "2020"),   # fine
            ("p4", ">32485", "1930", "2020"),  # already marked
            ("p5", "20000", "1920", "2015"),   # year diff 95 > 89 → redact BY
            ("p6", "20000", ">89", "2020"),    # sentinel birth year → redact
            ("p7", "<6570", "2010", "2020"),   # pre-redacted pediatric → withheld, BY untouched
            ("p8", "20000", "<1950", "2020"),  # '<' birth year → withheld
            ("p9", "20000", "1980", "<2020"),  # '<' year col → withheld
        ],
        ["PATIENT_ID", "AGE_AT_SEQ_REPORT", "BIRTH_YEAR", "YEAR_CONTACT"],
    )
    out = redact_phi(
        df, interval_cols=("AGE_AT_SEQ_REPORT",), birth_year_col="BIRTH_YEAR",
        year_cols=("YEAR_CONTACT",),
    )
    got = {
        r["PATIENT_ID"]: (r["AGE_AT_SEQ_REPORT"], r["BIRTH_YEAR"], r["YEAR_CONTACT"])
        for r in out.collect()
    }
    assert got["p1"][:2] == (">32485", "cannotReleaseHIPAA")
    assert got["p2"][:2] == ("1000", "2010")
    assert got["p3"][:2] == ("20000", "1980")
    assert got["p4"][:2] == (">32485", "cannotReleaseHIPAA")
    assert got["p5"][:2] == ("20000", "cannotReleaseHIPAA")
    assert got["p6"][1] == "cannotReleaseHIPAA"
    assert got["p7"][:2] == ("withheld", "2010")
    assert got["p8"][1] == "withheld"
    assert got["p9"][2] == "withheld"


def test_redact_numeric_interval_columns_as_written(spark):
    """Numeric-typed interval and year columns redact through their
    written text (integral doubles as integers) instead of raising an
    ANSI cast error on the string sentinels."""
    df = spark.createDataFrame(
        [
            ("p1", 10000.0, 1990, 2020),   # fine
            ("p2", 40000.0, 1930, 2020),   # >89y → redact age + birth year
            ("p3", 20000.5, 1920, 2015),   # year diff 95 > 89 → redact BY
        ],
        "PATIENT_ID string, AGE_AT_SEQ_REPORT double, BIRTH_YEAR long, "
        "YEAR_CONTACT long",
    )
    out = redact_phi(df).withColumn(
        "YEARS", age_days_to_release_years("AGE_AT_SEQ_REPORT")
    )
    got = {
        r["PATIENT_ID"]: (r["AGE_AT_SEQ_REPORT"], r["BIRTH_YEAR"], r["YEARS"])
        for r in out.collect()
    }
    assert got["p1"] == ("10000", "1990", "27")
    assert got["p2"] == (">32485", "cannotReleaseHIPAA", ">89")
    assert got["p3"] == ("20000.5", "cannotReleaseHIPAA", "54")
    direct = df.select(
        "PATIENT_ID", age_days_to_release_years("AGE_AT_SEQ_REPORT").alias("y")
    ).collect()
    assert {r["PATIENT_ID"]: r["y"] for r in direct}["p1"] == "27"


def test_rank_bounded_order_and_max_rows_guard(spark):
    """VERDICT r13 item 3: rank_bounded's <=k-rows precondition is a
    runtime contract — ranks within max_rows compute exactly
    row_number() in the total order; a frame past the bound raises
    loudly instead of silently serializing through one partition."""
    import pytest
    from pyspark.sql import functions as F

    from genie_spark.functions.ranking import rank_bounded

    df = spark.createDataFrame(
        [(i, (i * 37) % 11) for i in range(10)], ["id", "v"]
    )
    got = [
        (r["id"], r["rank"])
        for r in rank_bounded(
            df, F.desc("v"), F.asc("id"), max_rows=10
        ).orderBy("rank").collect()
    ]
    want = sorted(
        [(i, (i * 37) % 11) for i in range(10)],
        key=lambda t: (-t[1], t[0]),
    )
    assert got == [(i, rk + 1) for rk, (i, _) in enumerate(want)]
    # same frame under a smaller bound: loud raise, not silence
    with pytest.raises(Exception, match="max_rows=5"):
        rank_bounded(df, F.asc("id"), max_rows=5).collect()
    # plan discipline unchanged: no WindowExec in the guarded form
    plan = (
        rank_bounded(df, F.asc("id"), max_rows=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan, plan


def test_jsonx_extract_and_malformed_null(spark):
    """functions/jsonx: JVM-side JSON extraction — typed values out,
    NULL (never an ANSI throw) on missing fields, malformed JSON, and
    non-numeric values; parse_props parses ONCE and fans out typed
    columns with the same null contract."""
    from genie_spark.functions.jsonx import json_long, json_str, parse_props

    df = spark.createDataFrame(
        [
            (1, '{"k": 42, "s": "x"}'),
            (2, '{"s": "only"}'),
            (3, "not json"),
            (4, '{"k": "NaNish"}'),
            (5, None),
        ],
        "id long, props string",
    )
    got = {
        r["id"]: (r["k"], r["s"])
        for r in df.select(
            "id",
            json_long("props", "k").alias("k"),
            json_str("props", "s").alias("s"),
        ).collect()
    }
    assert got == {
        1: (42, "x"),
        2: (None, "only"),
        3: (None, None),
        4: (None, None),
        5: (None, None),
    }
    parsed = {
        r["id"]: (r["k"], r["s"])
        for r in parse_props(
            df, fields={"k": "long", "s": "string"}
        ).select("id", "k", "s").collect()
    }
    assert parsed[1] == (42, "x") and parsed[2] == (None, "only")
    assert parsed[3] == (None, None) and parsed[5] == (None, None)
    # the extraction stays codegen'd — no BatchEvalPython / UDF node
    plan = (
        df.select(json_long("props", "k"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
