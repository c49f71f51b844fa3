"""Declarative validation-rule engine.

The reference's main "query workload" is per-format ``_validate``
methods: imperative pandas code accumulating error/warning strings
(genie/example_filetype_format.py:223-271, ValidationResults at 17-50).
Here a format's rule set is data, and ``RuleSet.validate`` issues
exactly ONE Spark query per upload: one projection of every rule's
violation flag, then one ``agg()`` computing every violation count
(and capped example values) — one scan at 100 TB instead of one scan
per rule.  The rule kinds:

  * ``RowRule`` — a boolean violation predicate (a Column expression,
    window expressions included — duplicate keys are
    ``count(1) over (partition by keys) > 1``) plus a message template.
  * ``AggRule`` — a whole-frame check that is an aggregate, not a row
    predicate (median sanity, the TSA1 convention): an aggregate Column
    giving the violation count, evaluated in the same ``agg()``.
  * ``FrameRule`` — reads only the upload's schema (``df.columns``)
    and returns messages (required columns, header order) and/or
    RowRules built from the schema (empty rows, VCF sample columns).
    It runs no Spark action.

The one exception is the cross-file builders ``ids_subset_of`` and
``concat_key_subset_of``: they need a second table, so each runs its
own anti-join.

The report mirrors ``ValidationResults`` semantics: errors block
processing, warnings don't.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from genie_spark.session import local_rows_df

MAX_EXAMPLES = 5


def qcol(name: str) -> Column:
    """Column reference that survives any name: dotted (SEG's
    LOC.START), quoted, or holding a backtick (escaped by doubling)."""
    return F.col("`" + name.replace("`", "``") + "`")


@dataclass
class ValidationMessage:
    rule_id: str
    severity: str  # "error" | "warning"
    message: str
    n_violations: int = 0
    examples: list = field(default_factory=list)


@dataclass
class ValidationReport:
    file_type: str
    messages: list[ValidationMessage] = field(default_factory=list)

    @property
    def errors(self) -> list[ValidationMessage]:
        return [m for m in self.messages if m.severity == "error"]

    @property
    def warnings(self) -> list[ValidationMessage]:
        return [m for m in self.messages if m.severity == "warning"]

    @property
    def is_valid(self) -> bool:
        return not self.errors

    def render(self) -> str:
        """Newline-joined report, errors first (the reference emails
        this text — genie/write_invalid_reasons.py)."""
        lines = [f"{m.severity.upper()} [{m.rule_id}]: {m.message}" for m in self.errors]
        lines += [f"{m.severity.upper()} [{m.rule_id}]: {m.message}" for m in self.warnings]
        return "\n".join(lines)

    def to_df(self, spark) -> DataFrame:
        """Report as a DataFrame — the engine-native ValidationResults
        table (file, rule_id, severity, n_violations, message)."""
        rows = [
            (self.file_type, m.rule_id, m.severity, m.n_violations,
             [str(e) for e in m.examples], m.message)
            for m in self.messages
        ]
        return local_rows_df(
            spark,
            rows,
            "file_type string, rule_id string, severity string, "
            "n_violations long, examples array<string>, message string",
        )


@dataclass
class RowRule:
    """Row-level rule: ``violation`` is a boolean Column (True = bad
    row), a window expression allowed; ``message`` may contain {n} and
    {examples} placeholders.  ``example_col`` (optional) names the
    column — or gives the Column expression — whose offending values
    are sampled into the message."""

    rule_id: str
    severity: str
    violation: Column
    message: str
    example_col: str | Column | None = None
    required_cols: Sequence[str] = ()


@dataclass
class AggRule:
    """Whole-frame aggregate rule: ``n`` is an aggregate Column giving
    the violation count (null or 0 = pass); ``message`` may contain
    {n}."""

    rule_id: str
    severity: str
    n: Column
    message: str
    required_cols: Sequence[str] = ()


@dataclass
class FrameRule:
    """Schema rule: ``check(df)`` reads only ``df.columns`` and returns
    ValidationMessages and/or RowRules built from the schema (empty =
    pass).  It runs no Spark action — only the cross-file builders
    below (``ids_subset_of``, ``concat_key_subset_of``) query, because
    they need a second table."""

    rule_id: str
    check: Callable[[DataFrame], list[ValidationMessage | RowRule]]


class RuleSet:
    def __init__(self, file_type: str, rules: Sequence[RowRule | AggRule | FrameRule]):
        self.file_type = file_type
        self.rules = list(rules)

    def validate(self, df: DataFrame) -> ValidationReport:
        report = ValidationReport(self.file_type)
        fused: list[RowRule | AggRule] = []
        for r in self.rules:
            for x in r.check(df) if isinstance(r, FrameRule) else [r]:
                if isinstance(x, ValidationMessage):
                    report.messages.append(x)
                elif all(c in df.columns for c in x.required_cols):
                    fused.append(x)  # rules on absent optional columns skip
        if fused:
            report.messages.extend(_evaluate(df, fused))
        return report


def _evaluate(df: DataFrame, rules: list[RowRule | AggRule]) -> list[ValidationMessage]:
    """ONE query evaluates every row and aggregate rule: the violation
    flags are projected first (a window expression cannot sit inside
    an aggregate), then one ``agg()`` counts them."""
    flagged = df.select(
        "*",
        *[r.violation.alias(f"__gs_v{i}")
          for i, r in enumerate(rules) if isinstance(r, RowRule)],
    )
    aggs = []
    for i, r in enumerate(rules):
        if isinstance(r, AggRule):
            aggs.append(F.coalesce(r.n, F.lit(0)).alias(f"n_{i}"))
            continue
        v = F.col(f"__gs_v{i}")
        aggs.append(F.count(F.when(v, 1)).alias(f"n_{i}"))
        if r.example_col is not None:
            ex = qcol(r.example_col) if isinstance(r.example_col, str) else r.example_col
            # capped example sample; the slice bounds driver memory,
            # collect_set dedups (bounded-domain columns only —
            # high-cardinality columns should pass example_col=None)
            aggs.append(
                F.slice(
                    F.array_sort(F.collect_set(F.when(v, ex.cast("string")))),
                    1,
                    MAX_EXAMPLES,
                ).alias(f"ex_{i}")
            )
    row = flagged.agg(*aggs).collect()[0].asDict()
    out = []
    for i, r in enumerate(rules):
        n = row[f"n_{i}"]
        if n > 0:
            examples = list(row.get(f"ex_{i}", []))
            out.append(
                ValidationMessage(
                    r.rule_id,
                    r.severity,
                    r.message.format(n=n, examples=", ".join(examples)),
                    n_violations=n,
                    examples=examples,
                )
            )
    return out


# --------------------------------------------------------------------------
# shared rule builders
# --------------------------------------------------------------------------

def required_columns(file_type: str, required: Sequence[str]) -> FrameRule:
    """Required-header check (every format has one, e.g.
    genie_registry/maf.py:229-236)."""

    def check(df: DataFrame) -> list[ValidationMessage]:
        missing = sorted(set(required) - set(df.columns))
        if missing:
            return [
                ValidationMessage(
                    f"{file_type}.required_columns",
                    "error",
                    f"{file_type}: your file must at least have these headers: "
                    + ", ".join(missing),
                )
            ]
        return []

    return FrameRule(f"{file_type}.required_columns", check)


def duplicated(keys: Sequence[str]) -> Column:
    """True on every row whose (keys...) tuple occurs more than once —
    a window count, so it joins the rule set's one query."""
    return F.count(F.lit(1)).over(Window.partitionBy(*[qcol(k) for k in keys])) > 1


def no_duplicate_keys(
    file_type: str, keys: Sequence[str], severity: str = "error",
    description: str | None = None,
) -> RowRule:
    """Duplicate-key check (MAF 5-col variant key maf.py:274-299,
    clinical SAMPLE_ID clinical.py:855-861).  Counts the rows in a
    duplicated group and samples the duplicated key values."""
    if len(keys) == 1:
        example = keys[0]
    else:
        example = F.concat(
            F.lit("("),
            F.concat_ws(", ", *[F.coalesce(qcol(k).cast("string"), F.lit("null")) for k in keys]),
            F.lit(")"),
        )
    return RowRule(
        f"{file_type}.duplicate_keys",
        severity,
        duplicated(keys),
        f"{file_type}: {{n}} row(s) share a duplicated "
        f"({description or ', '.join(keys)}); duplicated value(s): {{examples}}.",
        example_col=example,
        required_cols=list(keys),
    )


def concat_key_subset_of(
    file_type: str,
    keys: Sequence[str],
    parent: DataFrame,
    severity: str = "error",
    message: str | None = None,
) -> FrameRule:
    """Multi-column key containment: every (keys...) tuple of the child
    must exist in the parent, nulls comparing as "" — the reference's
    ``primaryAll`` string-concat check for mutationsInCis uploads
    (genie_registry/mutationsInCis.py:48-118)."""

    def _key(df_cols):
        return F.concat_ws(
            "\x01",
            *[F.coalesce(qcol(k).cast("string"), F.lit("")) for k in keys],
        )

    def check(df: DataFrame) -> list[ValidationMessage]:
        if any(k not in df.columns for k in keys) or any(
            k not in parent.columns for k in keys
        ):
            return []
        missing = (
            df.select(_key(df.columns).alias("__gs_k"))
            .distinct()
            .join(
                parent.select(_key(parent.columns).alias("__gs_k")).distinct(),
                "__gs_k",
                "left_anti",
            )
        )
        n = missing.count()
        if n:
            return [
                ValidationMessage(
                    f"{file_type}.cross_file.key",
                    severity,
                    message
                    or f"{file_type}: {n} key tuple(s) ({', '.join(keys)}) not "
                    "found in the parent table.",
                    n_violations=n,
                )
            ]
        return []

    return FrameRule(f"{file_type}.cross_file.key", check)


def ids_subset_of(
    file_type: str,
    col: str,
    parent: DataFrame,
    parent_col: str,
    severity: str = "error",
    what: str = "",
    normalize: Callable[[Column], Column] | None = None,
) -> FrameRule:
    """Cross-file containment (genie/validate.py:308-368): all values
    of ``col`` must exist in the parent table — anti-join count == 0.
    ``normalize`` maps both sides' values before comparing (the
    reference's ignore_case / allow_underscore comparison,
    genie/validate.py:283-305)."""

    def check(df: DataFrame) -> list[ValidationMessage]:
        if col not in df.columns:
            return []
        expr, pexpr = qcol(col), qcol(parent_col)
        if normalize is not None:
            expr, pexpr = normalize(expr), normalize(pexpr)
        missing = (
            df.select(expr.alias("__gs_id"))
            .distinct()
            .join(parent.select(pexpr.alias("__gs_id")).distinct(), "__gs_id", "left_anti")
        )
        n = missing.count()
        if n:
            return [
                ValidationMessage(
                    f"{file_type}.cross_file.{col}",
                    severity,
                    f"{file_type}: {n} {what or col} value(s) not found in the "
                    "expected parent table.",
                    n_violations=n,
                )
            ]
        return []

    return FrameRule(f"{file_type}.cross_file.{col}", check)
