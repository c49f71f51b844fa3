"""PHI redaction (SURVEY.md §2.9) — release-critical.

Re-expresses ``redact_phi`` and its helpers (reference
genie/database_to_staging.py:109-233) as pure ``when/otherwise`` column
expressions: one narrow projection, no UDFs, safe to run over the full
patient table in a single codegen stage.

Rules, matching the reference exactly (values are strings because the
columns carry sentinels):
  * interval columns (AGE_AT_SEQ_REPORT, INT_CONTACT, INT_DOD):
    value > 32485 days (89 y) or carrying ``>`` → column ``">32485"``
    AND patient's BIRTH_YEAR → ``"cannotReleaseHIPAA"``
    (``_to_redact_interval`` lines 109-133); value carrying ``<``
    (pre-redacted pediatric) → column ``"withheld"`` and BIRTH_YEAR is
    NOT touched.  A *numeric* value < 6570 is NOT redacted — only the
    explicit ``<`` marker triggers, per the reference.
  * BIRTH_YEAR carrying ``>`` → ``"cannotReleaseHIPAA"``; carrying
    ``<`` → ``"withheld"`` (``_redact_year`` lines 136-152).
  * YEAR_CONTACT/YEAR_DEATH − BIRTH_YEAR > 89 → BIRTH_YEAR →
    ``"cannotReleaseHIPAA"`` (``_to_redact_difference`` lines 170-188).
  * YEAR_CONTACT / YEAR_DEATH carrying ``<`` → ``"withheld"``
    (``_redact_ped_year`` lines 154-167).

Numeric-typed columns (a double ``AGE_AT_SEQ_REPORT``, an integer
``BIRTH_YEAR``) are redacted through their written text, integral
doubles as integers (``scalars.as_written``, what the TSV sink writes):
the sentinels are strings, and Spark 4 ANSI raises on a string branch
of a numeric ``when``.

Reference write order (later pandas ``.loc`` writes win) is encoded as
``when``-chain priority: pediatric ``<`` beats ``>`` on the interval
column itself; for BIRTH_YEAR the interval-over rule beats the
year-sentinel rules which beat the year-difference rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from genie_spark.functions.scalars import as_written

DAYS_89Y = 32485
DAYS_18Y = 6570


def _num(col: str) -> Column:
    # try_cast: sentinel strings ("Unknown", ">32485") → null, never an
    # ANSI cast error (Spark 4 default).
    return F.col(col).try_cast("double")


def _is_over(col: str) -> Column:
    return F.col(col).contains(">") | (_num(col) > DAYS_89Y)


def _is_ped(col: str) -> Column:
    return F.col(col).contains("<")


def redact_interval_col(col: str) -> Column:
    """``_to_redact_interval`` application (genie/database_to_staging.py:109-133,
    211-215): ``<``-marked → withheld (written last in the reference, so it
    wins), over-89 → ``">32485"``."""
    return (
        F.when(_is_ped(col), F.lit("withheld"))
        .when(_is_over(col), F.lit(f">{DAYS_89Y}"))
        .otherwise(F.col(col))
    )


def redact_phi(
    df: DataFrame,
    interval_cols: tuple[str, ...] = ("AGE_AT_SEQ_REPORT", "INT_CONTACT", "INT_DOD"),
    birth_year_col: str = "BIRTH_YEAR",
    year_cols: tuple[str, ...] = ("YEAR_CONTACT", "YEAR_DEATH"),
) -> DataFrame:
    """Full redaction pass (genie/database_to_staging.py:192-233)."""
    redacted = {*interval_cols, birth_year_col, *year_cols}
    numeric = {
        f.name: as_written(f.name, f.dataType)
        for f in df.schema.fields
        if f.name in redacted and not isinstance(f.dataType, T.StringType)
    }
    if numeric:
        df = df.withColumns(numeric)
    present_intervals = [c for c in interval_cols if c in df.columns]
    over = None
    for c in present_intervals:
        o = _is_over(c)
        over = o if over is None else (over | o)
    out = df
    # year difference rule (``_to_redact_difference``, lines 170-188):
    # fires only on a still-numeric BIRTH_YEAR (redacted values coerce to
    # null), so it sits last in the when-chain below.
    year_over = None
    if birth_year_col in df.columns:
        for y in year_cols:
            if y in df.columns:
                d = _num(y) - _num(birth_year_col)
                cond = d.isNotNull() & (d > 89)
                year_over = cond if year_over is None else (year_over | cond)
    for c in present_intervals:
        out = out.withColumn(c, redact_interval_col(c))
    if birth_year_col in df.columns:
        by = F.col(birth_year_col)
        expr = by
        if year_over is not None:
            expr = F.when(F.coalesce(year_over, F.lit(False)), F.lit("cannotReleaseHIPAA")).otherwise(expr)
        # _redact_year (lines 136-152): '>' → cannotReleaseHIPAA, '<' → withheld
        expr = (
            F.when(by.contains(">"), F.lit("cannotReleaseHIPAA"))
            .when(by.contains("<"), F.lit("withheld"))
            .otherwise(expr)
        )
        if over is not None:
            expr = F.when(F.coalesce(over, F.lit(False)), F.lit("cannotReleaseHIPAA")).otherwise(expr)
        out = out.withColumn(birth_year_col, expr)
    # _redact_ped_year (lines 154-167) on the year range columns
    for y in year_cols:
        if y in df.columns:
            out = out.withColumn(
                y,
                F.when(F.col(y).contains("<"), F.lit("withheld")).otherwise(F.col(y)),
            )
    return out


def age_days_to_release_years(col: str) -> Column:
    """Post-redaction day→year conversion for the released age column
    (reference genie/database_to_staging.py:1288-1300): integer day counts
    become ``floor(days/365.25)`` years; the redaction sentinels map
    ``">32485"`` → ``">89"`` and ``"<6570"`` → ``"<18"``; anything else
    (``"withheld"``, free text) passes through.  Must run AFTER
    :func:`redact_phi` so a numeric year value can never exceed 89.
    A numeric-typed column is read through its string cast, so the
    sentinel comparisons never cast a sentinel to a number.
    """
    c = F.col(col).cast("string")
    n = c.try_cast("double")
    return (
        F.when(c == f">{DAYS_89Y}", F.lit(">89"))
        .when(c == f"<{DAYS_18Y}", F.lit("<18"))
        .when(n.isNotNull(), F.floor(n / F.lit(365.25)).cast("string"))
        .otherwise(c)
    )
