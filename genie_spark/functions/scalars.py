"""Scalar column expressions (SURVEY.md §2.8).

The reference's clinical columns mix numeric values with sentinel
strings ("Unknown", "Not Collected", ">32485", "<6570", ...) —
genie_registry/clinical.py:940-962 — forcing string-typed columns with
numeric sub-semantics.  These helpers keep that duality explicit while
staying JVM-side (no Python UDFs): every function returns a Column
expression that participates in whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Sentinels accepted in clinical "integer" columns
# (genie_registry/clinical.py:933-962, 1122-1172).
CLINICAL_SENTINELS = (
    "Unknown",
    "Not Collected",
    "Not Applicable",
    "Not Released",
    ">32485",
    "<6570",
    ">89",
    "<18",
)


def to_number_or_null(col: str | Column, dtype: str = "double") -> Column:
    """``pd.to_numeric(errors='coerce')`` analog (reference
    genie_registry/clinical.py:236-237): non-numeric strings → null."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast(dtype)  # ANSI-safe: malformed → null, not an error


def is_integer_string(col: str | Column) -> Column:
    """True when the string is a (possibly signed) integer literal —
    the reference's ``checkInt`` (genie/process_functions.py:633-647),
    which accepts float-typed whole numbers like ``"3.0"``."""
    c = F.col(col) if isinstance(col, str) else col
    d = c.try_cast("double")
    return d.isNotNull() & (d == F.floor(d))


def is_int_or_sentinel(col: str | Column, sentinels: Sequence[str] = CLINICAL_SENTINELS) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return is_integer_string(c) | c.isin(list(sentinels))


def genie_id_ok(col: str | Column, center: str) -> Column:
    """GENIE identifier rule (reference
    genie/process_functions.py:199-222): starts with ``GENIE-<CENTER>-``
    and is under 50 characters."""
    c = F.col(col) if isinstance(col, str) else col
    return c.startswith(f"GENIE-{center}-") & (F.length(c) < 50)


def standardize_for_compare(col: str | Column) -> Column:
    """Lowercase + underscore→dash, the reference's fuzzy compare
    normalization (genie/validate.py:401-423)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.translate(c, "_", "-"))


def strip_chr_prefix(col: str | Column) -> Column:
    """Remove a leading ``chr`` from chromosome names (reference
    genie/validate.py:206, genie_registry/seg.py:34, bed.py:547)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "^chr", "")

VALID_CHROMOSOMES = [str(i) for i in range(1, 23)] + ["X", "Y", "MT"]


def chromosome_ok(col: str | Column, allow_chr_prefix: bool = False) -> Column:
    """Chromosome domain check (reference genie/validate.py:22,170-216)."""
    c = F.col(col) if isinstance(col, str) else col
    if allow_chr_prefix:
        c = strip_chr_prefix(c)
    return c.isin(VALID_CHROMOSOMES)


ALLELE_REGEX = r"^(?i)([ATCGN]+|-+)$"


def allele_ok(col: str | Column) -> Column:
    """Allele charset (reference genie/validate.py:426-480): one or more
    of A/T/C/G/N (case-insensitive) or a run of dashes.  Note literal
    string ``"NA"`` IS a valid allele (N + A) — the reason MAF readers
    disable default NA parsing (genie_registry/maf.py:513-551)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike(ALLELE_REGEX)


def parse_month_year(col: str | Column) -> Column:
    """Parse the reference's ``%b-%Y`` SEQ_DATE strings ("Jan-2017") to a
    date (genie/process_functions.py:341-349).  Title-cases first, as the
    reference does (genie_registry/clinical.py:440)."""
    c = F.col(col) if isinstance(col, str) else col
    # try_to_timestamp: unparseable → null (ANSI-safe), like strptime+except
    return F.try_to_timestamp(F.initcap(c), F.lit("MMM-yyyy")).cast("date")


def titlecase_with_abbrevs(col: str | Column, abbrevs: Sequence[str] = ("Dna", "Rna", "Sv", "Ncbi")) -> Column:
    """``str.title()`` with abbreviation fixups (reference
    genie/transform.py:11-29 keeps DNA_/RNA_/SV_/NCBI_ upper)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.initcap(F.lower(c))
    for a in abbrevs:
        out = F.regexp_replace(out, rf"\b{a}\b", a.upper())
    return out


def days_to_years(col: str | Column) -> Column:
    """AGE days→years at release (reference
    genie/database_to_staging.py:1290-1298): floor(days/365.25)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c.cast("double") / 365.25).cast("long")


def as_written(col: str | Column, dtype: T.DataType) -> Column:
    """The text a TSV sink writes for a ``dtype`` value (reference
    ``removePandasDfFloat`` genie/process_functions.py:258-303): integral
    doubles render as integers, everything else as its string cast."""
    c = F.col(col) if isinstance(col, str) else col
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.when(
            c.isNotNull() & (c == F.floor(c)), c.cast("long").cast("string")
        ).otherwise(c.cast("string"))
    return c.cast("string")


def concat_key(cols: Sequence[str], sep: str = " ") -> Column:
    """Space-joined primary key, the reference's UNIQUE_KEY convention
    (genie/load.py:249-252; variant keys
    genie/database_to_staging.py:316-335)."""
    return F.concat_ws(sep, *[F.col(c).cast("string") for c in cols])
