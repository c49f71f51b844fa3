"""Declarative validation-rule engine.

The reference's main "query workload" is per-format ``_validate``
methods: imperative pandas code accumulating error/warning strings
(genie/example_filetype_format.py:223-271, ValidationResults at 17-50).
Here a format's rule set is data: a list of

  * ``RowRule`` — a boolean violation predicate (a Column expression)
    plus a message template.  ALL row rules of a format are evaluated
    in ONE Spark job: a single ``agg()`` computes every rule's
    violation count (and capped example values) simultaneously —
    one scan at 100 TB instead of one scan per rule.
  * ``FrameRule`` — driver-side structural checks (required columns,
    header order) or checks needing their own aggregation shape
    (duplicate keys, median sanity); each returns messages directly.

The report mirrors ``ValidationResults`` semantics: errors block
processing, warnings don't.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from genie_spark.session import local_rows_df

MAX_EXAMPLES = 5


def qcol(name: str) -> Column:
    """Column reference that survives dotted names (SEG's LOC.START)."""
    return F.col(f"`{name}`")


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
    row); ``message`` may contain {n} and {examples} placeholders.
    ``example_col`` (optional) names the column whose offending values
    are sampled into the message."""

    rule_id: str
    severity: str
    violation: Column
    message: str
    example_col: str | None = None
    required_cols: Sequence[str] = ()


@dataclass
class FrameRule:
    """Whole-frame rule: ``check(df)`` returns a list of
    ValidationMessage (empty = pass)."""

    rule_id: str
    check: Callable[[DataFrame], list[ValidationMessage]]


class RuleSet:
    def __init__(self, file_type: str, rules: Sequence[RowRule | FrameRule]):
        self.file_type = file_type
        self.rules = list(rules)

    def validate(self, df: DataFrame) -> ValidationReport:
        report = ValidationReport(self.file_type)

        row_rules: list[RowRule] = []
        for r in self.rules:
            if isinstance(r, FrameRule):
                report.messages.extend(r.check(df))
            else:
                missing = [c for c in r.required_cols if c not in df.columns]
                if not missing:  # rules on absent optional columns skip
                    row_rules.append(r)

        if row_rules:
            aggs = []
            for i, r in enumerate(row_rules):
                v = r.violation
                aggs.append(F.sum(F.when(v, 1).otherwise(0)).alias(f"n_{i}"))
                if r.example_col:
                    # capped example sample; the slice bounds driver
                    # memory, collect_set dedups (bounded-domain columns
                    # only — high-cardinality columns should pass
                    # example_col=None)
                    aggs.append(
                        F.slice(
                            F.array_sort(
                                F.collect_set(
                                    F.when(v, qcol(r.example_col).cast("string"))
                                )
                            ),
                            1,
                            MAX_EXAMPLES,
                        ).alias(f"ex_{i}")
                    )
            # ONE job evaluates every row rule
            row = df.agg(*aggs).collect()[0]
            for i, r in enumerate(row_rules):
                n = row[f"n_{i}"] or 0
                if n > 0:
                    examples = list(row[f"ex_{i}"]) if r.example_col else []
                    report.messages.append(
                        ValidationMessage(
                            r.rule_id,
                            r.severity,
                            r.message.format(n=n, examples=", ".join(examples)),
                            n_violations=n,
                            examples=examples,
                        )
                    )
        return report


# --------------------------------------------------------------------------
# shared FrameRule builders
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


def no_duplicate_keys(
    file_type: str, keys: Sequence[str], severity: str = "error",
    description: str | None = None,
) -> FrameRule:
    """Duplicate-key check (MAF 5-col variant key maf.py:274-299,
    clinical SAMPLE_ID clinical.py:855-861, SV whole row)."""

    def check(df: DataFrame) -> list[ValidationMessage]:
        if any(k not in df.columns for k in keys):
            return []
        total = (
            df.groupBy(*keys).count().where(F.col("count") > 1).count()
        )
        if total:
            what = description or ", ".join(keys)
            return [
                ValidationMessage(
                    f"{file_type}.duplicate_keys",
                    severity,
                    f"{file_type}: found {total} duplicated value(s) for ({what}).",
                    n_violations=total,
                )
            ]
        return []

    return FrameRule(f"{file_type}.duplicate_keys", check)


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
