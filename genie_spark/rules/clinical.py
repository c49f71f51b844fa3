"""Clinical file rule set (reference genie_registry/clinical.py:800-1298,
~500 LoC of imperative checks → declarative RowRules evaluated in one
pass)."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from genie_spark.functions.scalars import genie_id_ok, is_integer_string
from genie_spark.rules.engine import (
    AggRule,
    FrameRule,
    RowRule,
    RuleSet,
    ValidationMessage,
    no_duplicate_keys,
    required_columns,
)
from genie_spark.schemas import (
    DEAD_VALUES,
    INT_SENTINELS,
    INT_SENTINELS_DOD,
    SAMPLE_CLASSES,
    YEAR_SENTINELS,
    YEAR_SENTINELS_DEATH,
)

SAMPLE_REQUIRED = [
    "SAMPLE_ID", "PATIENT_ID", "AGE_AT_SEQ_REPORT", "ONCOTREE_CODE",
    "SAMPLE_TYPE", "SEQ_ASSAY_ID",
]
PATIENT_REQUIRED = ["PATIENT_ID", "SEX", "PRIMARY_RACE", "ETHNICITY", "BIRTH_YEAR"]


def _int_or(col: str, sentinels: list[str]) -> Column:
    return is_integer_string(col) | F.col(col).isin(sentinels)


def _year_ok(col: str, sentinels: list[str]) -> Column:
    """YYYY not in the future, or an allowed sentinel
    (genie_registry/clinical.py:20-69)."""
    y = F.col(col).try_cast("int")
    return (
        (y.isNotNull() & (y >= 1800) & (y <= F.year(F.current_date())))
        | F.col(col).isin(sentinels)
    )


def median_age_check(age_col: str = "AGE_AT_SEQ_REPORT") -> AggRule:
    """median(AGE) < 100 ⇒ the center uploaded years instead of days
    (genie_registry/clinical.py:953-961)."""
    return AggRule(
        "clinical.age_median", "error",
        (F.percentile(F.col(age_col).try_cast("double"), 0.5) < 100).cast("int"),
        "Patient Clinical File: median AGE_AT_SEQ_REPORT < 100 — "
        "the column must be in DAYS, not years.",
        required_cols=[age_col],
    )


def patient_ids_cover_samples() -> RowRule:
    """Every sample's PATIENT_ID must appear in the patient data and be
    a substring of its SAMPLE_ID (clinical.py:891-918)."""
    return RowRule(
        "clinical.patient_in_sample", "error",
        ~F.col("SAMPLE_ID").contains(F.col("PATIENT_ID"))
        & F.col("PATIENT_ID").isNotNull(),
        "Sample Clinical File: {n} SAMPLE_ID(s) do not contain their "
        "PATIENT_ID.",
        required_cols=["SAMPLE_ID", "PATIENT_ID"],
    )


MALE_ONCO_PRIMARY = ("TESTIS", "PROSTATE", "PENIS")
FEMALE_ONCO_PRIMARY = ("CERVIX", "VULVA", "UTERUS", "OVARY")


def sex_oncotree_consistency(oncotree: DataFrame) -> RowRule:
    """SEX must agree with sex-specific oncotree primary nodes
    (reference genie_registry/clinical.py:967-1024): male-only codes
    (TESTIS/PROSTATE/PENIS) need SEX=1, female-only
    (CERVIX/VULVA/UTERUS/OVARY) need SEX=2; a missing/blank SEX also
    flags, like the reference's NaN comparison.  Warning severity —
    the reference writes these to the warning stream.  The sex-specific
    codes are collected once, here, so the check is a row predicate."""
    male, female = [], []
    if "ONCOTREE_PRIMARY_NODE" in oncotree.columns:
        primary = F.upper(F.col("ONCOTREE_PRIMARY_NODE"))
        for r in (
            oncotree.where(primary.isin(*MALE_ONCO_PRIMARY, *FEMALE_ONCO_PRIMARY))
            .select(F.upper(F.col("ONCOTREE_CODE")).alias("c"), primary.alias("p"))
            .distinct()
            .collect()
        ):
            (male if r["p"] in MALE_ONCO_PRIMARY else female).append(r["c"])
    code = F.upper(F.col("ONCOTREE_CODE"))
    sex = F.col("SEX").try_cast("double")
    return RowRule(
        "clinical.sex_oncotree", "warning",
        (code.isin(male) & (sex.isNull() | (sex != 1.0)))
        | (code.isin(female) & (sex.isNull() | (sex != 2.0))),
        "Sample Clinical File: {n} SAMPLE_ID(s) have conflicting SEX and "
        "ONCOTREE_CODES: {examples}",
        example_col="SAMPLE_ID", required_cols=["SEX", "ONCOTREE_CODE", "SAMPLE_ID"],
    )


def sample_type_domain_rule(codes: list) -> RowRule:
    """SAMPLE_TYPE ∈ mapping-table CODE domain, nulls not allowed
    (reference check_col_and_values with required=True,
    genie/process_functions.py:651-705 called from
    genie_registry/clinical.py:1028-1035)."""
    st = F.col("SAMPLE_TYPE").try_cast("int")
    return RowRule(
        "clinical.sample_type_domain", "error",
        st.isNull() | ~st.isin([int(c) for c in codes]),
        "Sample Clinical File: {n} SAMPLE_TYPE value(s) outside the "
        "sample-type mapping domain: {examples}",
        example_col="SAMPLE_TYPE", required_cols=["SAMPLE_TYPE"],
    )


def _int_year_consistency_rule(
    interval_col: str, year_col: str, string_vals: list[str], rid: str
) -> RowRule:
    """Interval/year text + redaction consistency (reference
    ``_check_int_year_consistency`` genie_registry/clinical.py:112-219):
    a sentinel on exactly one of the pair is inconsistent (except a
    year may be known while the interval is Unknown), and the ``>32485``
    / ``>89`` and ``<6570`` / ``<18`` redaction markers must pair up."""
    iv, yr = F.col(interval_col), F.col(year_col)
    viol = F.lit(False)
    for s in string_vals:
        n = F.coalesce((iv == s).cast("int"), F.lit(0)) + F.coalesce(
            (yr == s).cast("int"), F.lit(0)
        )
        if s == "Unknown":
            viol = viol | ((n == 1) & ~iv.eqNullSafe("Unknown"))
        else:
            viol = viol | (n == 1)
    viol = (
        viol
        | (iv.eqNullSafe(">32485") != yr.eqNullSafe(">89"))
        | (iv.eqNullSafe("<6570") != yr.eqNullSafe("<18"))
    )
    return RowRule(
        rid, "error", viol,
        f"Patient Clinical File: {{n}} row(s) with inconsistent text or "
        f"redaction values in {year_col}, {interval_col}.",
        required_cols=[interval_col, year_col],
    )


def sample_rules(center: str, oncotree_codes: list[str] | None = None) -> RuleSet:
    """Sample-file rule set (clinical.py:800-1069)."""
    rules: list = [
        required_columns("clinical_sample", SAMPLE_REQUIRED),
        no_duplicate_keys("clinical_sample", ["SAMPLE_ID"]),
        patient_ids_cover_samples(),
        median_age_check(),
        RowRule(
            "clinical.sample_id_format", "error",
            ~genie_id_ok("SAMPLE_ID", center),
            "Sample Clinical File: {n} SAMPLE_ID(s) must start with "
            f"GENIE-{center} and be under 50 characters: {{examples}}",
            example_col="SAMPLE_ID", required_cols=["SAMPLE_ID"],
        ),
        RowRule(
            "clinical.patient_id_format", "error",
            F.col("PATIENT_ID").isNull() | ~genie_id_ok("PATIENT_ID", center),
            "Patient Clinical File: {n} PATIENT_ID(s) missing or not prefixed "
            f"GENIE-{center}: {{examples}}",
            example_col="PATIENT_ID", required_cols=["PATIENT_ID"],
        ),
        RowRule(
            "clinical.age_at_seq_report", "error",
            ~_int_or("AGE_AT_SEQ_REPORT", INT_SENTINELS),
            "Sample Clinical File: {n} AGE_AT_SEQ_REPORT value(s) must be "
            "integer days or an accepted sentinel: {examples}",
            example_col="AGE_AT_SEQ_REPORT", required_cols=["AGE_AT_SEQ_REPORT"],
        ),
        RowRule(
            "clinical.sample_class", "error",
            F.col("SAMPLE_CLASS").isNotNull() & ~F.col("SAMPLE_CLASS").isin(SAMPLE_CLASSES),
            "Sample Clinical File: {n} SAMPLE_CLASS value(s) not in "
            f"{SAMPLE_CLASSES}: {{examples}}",
            example_col="SAMPLE_CLASS", required_cols=["SAMPLE_CLASS"],
        ),
        RowRule(
            "clinical.seq_assay_id", "error",
            F.col("SEQ_ASSAY_ID").isNull()
            | (F.trim(F.col("SEQ_ASSAY_ID")) == "")
            | ~F.upper(F.col("SEQ_ASSAY_ID")).startswith(center.upper()),
            "Sample Clinical File: {n} SEQ_ASSAY_ID value(s) empty or not "
            f"prefixed with {center}: {{examples}}",
            example_col="SEQ_ASSAY_ID", required_cols=["SEQ_ASSAY_ID"],
        ),
        # cfDNA ⟺ SAMPLE_TYPE 8 (clinical.py:693-778)
        RowRule(
            "clinical.cfdna_sample_type", "error",
            (
                (F.col("SAMPLE_CLASS") == "cfDNA")
                & (F.col("SAMPLE_TYPE").try_cast("int") != 8)
            )
            | (
                (F.col("SAMPLE_TYPE").try_cast("int") == 8)
                & (F.col("SAMPLE_CLASS") != "cfDNA")
            ),
            "Sample Clinical File: {n} row(s) violate SAMPLE_CLASS=cfDNA ⟺ "
            "SAMPLE_TYPE=8.",
            required_cols=["SAMPLE_CLASS", "SAMPLE_TYPE"],
        ),
    ]
    # deprecated SEQ_DATE column must not exist (clinical.py:1065-1069)
    def no_seq_date(df: DataFrame) -> list[ValidationMessage]:
        if "SEQ_DATE" in df.columns:
            return [
                ValidationMessage(
                    "clinical.seq_date_deprecated", "error",
                    "Sample Clinical File: SEQ_DATE is deprecated and must be "
                    "removed.",
                )
            ]
        return []

    rules.append(FrameRule("clinical.seq_date_deprecated", no_seq_date))

    # no fully-empty rows (reference genie_registry/clinical.py:820-825)
    def no_empty_rows(df: DataFrame) -> list[RowRule]:
        if not df.columns:
            return []
        empty = [F.col(c).isNull() | (F.col(c).cast("string") == "") for c in df.columns]
        return [
            RowRule(
                "clinical.empty_rows", "error",
                reduce(lambda a, b: a & b, empty),
                "Clinical file(s): No empty rows allowed.",
            )
        ]

    rules.append(FrameRule("clinical.empty_rows", no_empty_rows))

    if oncotree_codes is not None:
        codes = [c.upper() for c in oncotree_codes] + ["UNKNOWN"]
        rules.append(
            RowRule(
                "clinical.oncotree_code", "error",
                ~F.upper(F.col("ONCOTREE_CODE")).isin(codes),
                "Sample Clinical File: {n} ONCOTREE_CODE(s) not in the oncotree "
                "mapping: {examples}",
                example_col="ONCOTREE_CODE", required_cols=["ONCOTREE_CODE"],
            )
        )
    return RuleSet("clinical_sample", rules)


def patient_rules(
    center: str,
    sex_codes: list[int] = (1, 2, 99),
    race_codes: list[int] = (1, 2, 3, 4, 99),
    ethnicity_codes: list[int] = (1, 2, 99),
) -> RuleSet:
    """Patient-file rule set (clinical.py:1071-1296)."""

    def code_rule(col: str, codes, rid: str) -> RowRule:
        return RowRule(
            rid, "error",
            F.col(col).isNotNull() & ~F.col(col).try_cast("int").isin(list(codes)),
            f"Patient Clinical File: {{n}} {col} value(s) not in {list(codes)}: "
            "{examples}",
            example_col=col, required_cols=[col],
        )

    ycontact = F.col("YEAR_CONTACT").try_cast("int")
    ydeath = F.col("YEAR_DEATH").try_cast("int")
    icontact = F.col("INT_CONTACT").try_cast("int")
    idod = F.col("INT_DOD").try_cast("int")
    dead = F.col("DEAD")

    rules = [
        required_columns("clinical_patient", PATIENT_REQUIRED),
        no_duplicate_keys("clinical_patient", ["PATIENT_ID"]),
        code_rule("SEX", sex_codes, "clinical.sex_code"),
        code_rule("PRIMARY_RACE", race_codes, "clinical.primary_race_code"),
        code_rule("SECONDARY_RACE", race_codes, "clinical.secondary_race_code"),
        code_rule("TERTIARY_RACE", race_codes, "clinical.tertiary_race_code"),
        code_rule("ETHNICITY", ethnicity_codes, "clinical.ethnicity_code"),
        RowRule(
            "clinical.birth_year", "error",
            ~_year_ok("BIRTH_YEAR", YEAR_SENTINELS),
            "Patient Clinical File: {n} BIRTH_YEAR value(s) invalid: {examples}",
            example_col="BIRTH_YEAR", required_cols=["BIRTH_YEAR"],
        ),
        RowRule(
            "clinical.year_contact", "error",
            ~_year_ok("YEAR_CONTACT", YEAR_SENTINELS),
            "Patient Clinical File: {n} YEAR_CONTACT value(s) invalid: {examples}",
            example_col="YEAR_CONTACT", required_cols=["YEAR_CONTACT"],
        ),
        RowRule(
            "clinical.year_death", "error",
            ~_year_ok("YEAR_DEATH", YEAR_SENTINELS_DEATH),
            "Patient Clinical File: {n} YEAR_DEATH value(s) invalid: {examples}",
            example_col="YEAR_DEATH", required_cols=["YEAR_DEATH"],
        ),
        # YEAR_DEATH ≥ YEAR_CONTACT (clinical.py:222-245)
        RowRule(
            "clinical.death_before_contact", "error",
            ydeath.isNotNull() & ycontact.isNotNull() & (ydeath < ycontact),
            "Patient Clinical File: {n} row(s) have YEAR_DEATH before "
            "YEAR_CONTACT.",
            required_cols=["YEAR_DEATH", "YEAR_CONTACT"],
        ),
        RowRule(
            "clinical.int_contact", "error",
            ~_int_or("INT_CONTACT", INT_SENTINELS),
            "Patient Clinical File: {n} INT_CONTACT value(s) invalid: {examples}",
            example_col="INT_CONTACT", required_cols=["INT_CONTACT"],
        ),
        RowRule(
            "clinical.int_dod", "error",
            ~_int_or("INT_DOD", INT_SENTINELS_DOD),
            "Patient Clinical File: {n} INT_DOD value(s) invalid: {examples}",
            example_col="INT_DOD", required_cols=["INT_DOD"],
        ),
        # INT_DOD ≥ INT_CONTACT (clinical.py:271-317)
        RowRule(
            "clinical.dod_before_contact", "error",
            idod.isNotNull() & icontact.isNotNull() & (idod < icontact),
            "Patient Clinical File: {n} row(s) have INT_DOD before INT_CONTACT.",
            required_cols=["INT_DOD", "INT_CONTACT"],
        ),
        RowRule(
            "clinical.dead_domain", "error",
            dead.isNotNull() & ~dead.isin(DEAD_VALUES),
            f"Patient Clinical File: {{n}} DEAD value(s) not in {DEAD_VALUES}: "
            "{examples}",
            example_col="DEAD", required_cols=["DEAD"],
        ),
        # DEAD ⟺ INT_DOD consistency (clinical.py:72-109): dead can't be
        # Not Applicable, alive must be, and a sentinel DEAD value must
        # equal the INT_DOD sentinel
        RowRule(
            "clinical.dead_int_dod_consistency", "error",
            ((dead == "True") & F.col("INT_DOD").isin("Not Applicable"))
            | ((dead == "False") & idod.isNotNull())
            | ((dead == "False") & ~F.col("INT_DOD").eqNullSafe("Not Applicable"))
            | (
                dead.isin("Unknown", "Not Collected", "Not Applicable", "Not Released")
                & ~dead.eqNullSafe(F.col("INT_DOD"))
            ),
            "Patient Clinical File: {n} row(s) have DEAD inconsistent with "
            "INT_DOD.",
            required_cols=["DEAD", "INT_DOD"],
        ),
        # interval/year text + redaction pairing (clinical.py:112-219)
        _int_year_consistency_rule(
            "INT_CONTACT", "YEAR_CONTACT",
            ["Not Collected", "Unknown", "Not Released"],
            "clinical.contact_consistency",
        ),
        _int_year_consistency_rule(
            "INT_DOD", "YEAR_DEATH",
            ["Not Collected", "Unknown", "Not Applicable", "Not Released"],
            "clinical.death_consistency",
        ),
    ]
    return RuleSet("clinical_patient", rules)
