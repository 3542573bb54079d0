"""Declarative data-quality rule engine (reference V1-V5).

The reference validates row-at-a-time in Python with ~106 rules across 6
entity validators, returning ``(is_valid, fixed_row, errors)`` (call
contract ``main.py:674-681``; rule inventory
``COMPLETE_DOCUMENTATION.md:265-306``; the engine source itself is
absent from the snapshot — rules here are reconstructed from the dirty
fixtures, SURVEY.md §5).

Spark-first re-expression: a rule is a named ``Column`` predicate with
an optional fix expression. A RuleSet compiles to ONE projection adding
an ``_errors`` array column — fully vectorized, whole-stage-codegen,
no UDFs — so validating 100 TB costs one scan. The clean/error split is
two filters over the same validated plan (Catalyst shares the scan).

Fixes are applied BEFORE checks, mirroring the reference's fix-then-
validate contract (it can repair a row, then reject it on remaining
violations).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


@dataclass(frozen=True)
class Rule:
    """One validation rule: ``check`` is a Column predicate that is True
    for PASSING rows; ``message`` is the error recorded on failure.
    ``field`` tags the rule's target column for inventory accounting
    (the reference documents its rule counts per entity per field)."""

    name: str
    check: Column
    message: str
    field: str | None = None


@dataclass(frozen=True)
class Fix:
    """One fix rule: replaces ``column`` with ``expr`` BEFORE checks run
    (fix-then-validate contract). Multiple fixes may target the same
    column; they compose in declaration order."""

    name: str
    column: str
    expr: Column
    field: str | None = None


@dataclass(frozen=True)
class RelationalRule:
    """Inventory marker for a rule that is a JOIN, not a row predicate
    (FK existence via :func:`entity_rules.fk_exists`, first-wins dedup
    via :func:`reject_duplicates`). ``validate`` ignores these — the
    caller applies them at the DataFrame level — but they count toward
    the documented per-entity rule inventory, where the reference lists
    'Foreign key checks' and 'Duplicate detection' as rule categories."""

    name: str
    kind: str  # 'fk' | 'dedup'
    message: str
    field: str | None = None


@dataclass
class RuleSet:
    """Ordered fixes + rules for one entity."""

    entity: str
    fixes: list[Fix] = field(default_factory=list)
    rules: list[Rule] = field(default_factory=list)
    relationals: list[RelationalRule] = field(default_factory=list)

    def fix(
        self,
        column: str,
        expr: Column,
        name: str | None = None,
        field: str | None = None,
    ) -> "RuleSet":
        self.fixes.append(
            Fix(name or f"fix_{column}_{len(self.fixes)}", column, expr, field)
        )
        return self

    def rule(
        self,
        name: str,
        check: Column,
        message: str | None = None,
        field: str | None = None,
    ) -> "RuleSet":
        self.rules.append(Rule(name, check, message or name, field))
        return self

    def relational(
        self, name: str, kind: str, message: str, field: str | None = None
    ) -> "RuleSet":
        self.relationals.append(RelationalRule(name, kind, message, field))
        return self

    def inventory(self) -> dict[str, int]:
        """Rule count per field tag (fixes + checks + relational rules —
        the reference's per-field inventory counts all three kinds)."""
        counts: dict[str, int] = {}
        for item in [*self.fixes, *self.rules, *self.relationals]:
            key = item.field or "_untagged"
            counts[key] = counts.get(key, 0) + 1
        return counts

    @property
    def total_rules(self) -> int:
        return len(self.fixes) + len(self.rules) + len(self.relationals)

    # -- compilation ------------------------------------------------------

    def apply_fixes(self, df: DataFrame) -> DataFrame:
        """Sequential column rewrites; same-column fixes compose in
        order. Catalyst collapses the projection chain into one."""
        for f in self.fixes:
            df = df.withColumn(f.column, f.expr)
        return df

    def validate(self, df: DataFrame) -> DataFrame:
        """Add ``_errors: array<string>`` (empty = valid) and
        ``_is_valid: boolean`` after applying fixes."""
        fixed = self.apply_fixes(df)
        error_slots = F.array(
            *[
                F.when(~F.coalesce(r.check, F.lit(False)), F.lit(r.message))
                for r in self.rules
            ]
        )
        errors = F.filter(error_slots, lambda x: x.isNotNull())
        return fixed.withColumn("_errors", errors).withColumn(
            "_is_valid", F.size("_errors") == 0
        )

    def split(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Validate ``df`` and split it into its clean and error zones
        (:func:`split_validated`)."""
        return split_validated(self.validate(df))


def split_validated(validated: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Clean/error zone split of rows carrying ``_is_valid`` and an
    ``_errors`` array (reference V3, STEP3_QUALITY_ENGINE.py:129-165):
    clean rows drop the annotation columns; error rows carry ``_errors``
    joined with ``' | '``."""
    clean = validated.filter("_is_valid").drop("_errors", "_is_valid")
    error = (
        validated.filter(~F.col("_is_valid"))
        .withColumn("_errors", F.concat_ws(" | ", "_errors"))
        .drop("_is_valid")
    )
    return clean, error


# ---------------------------------------------------------------------------
# Common rule predicates
# ---------------------------------------------------------------------------


def not_null(col: str) -> Column:
    return F.col(col).isNotNull()


def not_blank(col: str) -> Column:
    return F.col(col).isNotNull() & (F.trim(F.col(col)) != "")


def matches(col: str, pattern: str) -> Column:
    """Regex rule (the reference's ~30 regex rules → ``rlike``).
    NULL input fails the rule explicitly."""
    return F.col(col).isNotNull() & F.col(col).rlike(pattern)


def if_present(col: str, pred: Column) -> Column:
    """Secondary-check combinator: PASS on NULL/blank input — the
    present/blank rule owns missing values, so length/charset/domain
    checks don't pile extra messages onto an already-reported blank.
    SQL twin: ``(x IS NULL OR trim(CAST(x AS VARCHAR)) = '' OR pred)``."""
    c = F.col(col)
    return c.isNull() | (F.trim(c.cast("string")) == "") | pred


def in_domain(col: str, values: list) -> Column:
    return F.col(col).isin(values)


def in_range(col: str, lo, hi) -> Column:
    return F.col(col).between(lo, hi)


def valid_email(col: str) -> Column:
    """Catches the fixtures' ``test@`` truncation (FIXTURES.md §A1)."""
    return matches(col, r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$")


def positive(col: str) -> Column:
    return F.col(col).isNotNull() & (F.col(col) > 0)


# ---------------------------------------------------------------------------
# Ordered first-wins duplicate handling (V2/V5)
# ---------------------------------------------------------------------------


def first_wins(
    df: DataFrame, keys: list[str], order_by: list[str | Column]
) -> DataFrame:
    """Deterministic first-occurrence-wins dedup (reference V2: consumers
    accumulate ``seen_ids`` in message order, ``main.py:663-700``; V5:
    CSV-produced-first beats SQL on key collision).

    Spark has no inherent row order, so the ingestion order must be an
    explicit column (line number / source priority). Adds ``_dup_rank``;
    callers keep rank 1 or route rank>1 to the error zone. This is the
    scale-safe form of ``dropDuplicates`` (which is nondeterministic):
    one shuffle on ``keys``, no driver state.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn("_dup_rank", F.row_number().over(w))


def reject_duplicates(
    df: DataFrame,
    keys: list[str],
    order_by: list[str | Column],
    message: str = "duplicate key",
    skip_null_keys: bool = False,
) -> DataFrame:
    """first_wins + fold the verdict into ``_errors`` (appends to an
    existing ``_errors`` array if present). ``skip_null_keys`` exempts
    rows whose key is NULL from the duplicate verdict (two rows with
    MISSING emails are not 'the same email' — SQL UNIQUE semantics);
    the missing-value rule reports those rows instead."""
    ranked = first_wins(df, keys, order_by)
    is_dup = F.col("_dup_rank") > 1
    if skip_null_keys:
        for k in keys:
            is_dup = is_dup & F.col(k).isNotNull()
    dup_err = F.when(is_dup, F.lit(message))
    if "_errors" in df.columns:
        errors = F.when(
            dup_err.isNotNull(), F.array_append(F.col("_errors"), dup_err)
        ).otherwise(F.col("_errors"))
    else:
        errors = F.filter(F.array(dup_err), lambda x: x.isNotNull())
    return (
        ranked.withColumn("_errors", errors)
        .withColumn("_is_valid", F.size("_errors") == 0)
        .drop("_dup_rank")
    )
