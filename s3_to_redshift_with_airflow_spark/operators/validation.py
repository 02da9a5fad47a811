"""Declarative data-quality validation engine.

Re-expresses the reference's schema/quality checker (reference:
dags/etl/schema_check.py) Spark-first. The reference runs one pandas pass per
rule (nulls, dups, ranges, whitelist — :95-224); here the whole rule registry
for a table compiles into ONE aggregate plan, so a 100 TB table is scanned
once regardless of rule count. `validate_datasets` evaluates its tables
concurrently, so their scans share the executors instead of queueing.

Rule semantics preserved (schema_check.py:77-127, 258-329):
  - required column absent            → ERROR   (V1)
  - dtype outside allowed set         → WARNING (V2)
  - empty relation                    → ERROR   (V3)
  - duplicate full rows               → WARNING (V4)
  - null key values                   → ERROR   (V5)
  - duplicate key values              → WARNING (V6)
  - value outside whitelist           → WARNING (V7, ≤10 offenders listed)
  - non-coercible numeric             → WARNING (V8, try_cast null count)
  - range violations                  → WARNING (V9)
  - roll-up: errors ⇒ failed=True (caller raises), warnings logged (V10)

The report shape mirrors the reference's JSON document
(schema_check.py:229-256): per-dataset pass/fail + errors[] + warnings[] +
summary stats.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import run_concurrently


@dataclass
class RangeCheck:
    """V9: count rows where `column` violates [min_value, max_value]."""

    column: str
    min_value: Optional[float] = None
    max_value: Optional[float] = None


@dataclass
class TableRules:
    """Validation registry entry for one table (schema_check.py:27-52 shape)."""

    required_columns: list[str] = field(default_factory=list)
    optional_columns: list[str] = field(default_factory=list)
    data_types: dict[str, list[str]] = field(default_factory=dict)
    key_columns: list[str] = field(default_factory=list)
    whitelist: dict[str, list[str]] = field(default_factory=dict)
    numeric_coercible: list[str] = field(default_factory=list)
    range_checks: list[RangeCheck] = field(default_factory=list)
    # lenient-ingest hook (SURVEY §1.4): when the frame came from
    # sources.readers.read_csv_lenient, this names the PERMISSIVE-mode
    # corrupt-record column so malformed-row counts join the report.
    corrupt_col: str = "_corrupt_record"


def _null_count(c: str) -> Column:
    return F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))


def metrics_plan(df: DataFrame, rules: TableRules) -> DataFrame:
    """Compile the data-dependent rules into a single one-row aggregate plan.

    Everything here is built-in expressions — the scan is one pass with
    partial aggregation; no per-rule jobs like the reference's pandas loops.
    """
    present = set(df.columns)
    aggs: list[Column] = [F.count(F.lit(1)).alias("row_count")]

    # Lenient-ingest metric: malformed-row count from a PERMISSIVE CSV scan
    # (readers.read_csv_lenient). The corrupt column is excluded from the
    # dup-rows struct below — it is ingest metadata, not data.
    data_cols = [c for c in df.columns if c != rules.corrupt_col]
    if rules.corrupt_col in present:
        aggs.append(
            F.sum(F.when(F.col(rules.corrupt_col).isNotNull(), 1).otherwise(0))
            .alias("corrupt_rows")
        )

    # V4: duplicate full rows (count - distinct over all columns)
    aggs.append(
        (F.count(F.lit(1)) - F.count_distinct(F.struct(*data_cols))).alias("dup_rows")
    )
    # V5: null counts for required + key columns present
    for c in dict.fromkeys(rules.required_columns + rules.key_columns):
        if c in present:
            aggs.append(_null_count(c).alias(f"nulls__{c}"))
    # V6: duplicate keys
    if rules.key_columns and all(c in present for c in rules.key_columns):
        aggs.append(
            (
                F.count(F.lit(1))
                - F.count_distinct(F.struct(*rules.key_columns))
            ).alias("dup_keys")
        )
    # V7: whitelist violations (count; offender sample fetched separately)
    for c, allowed in rules.whitelist.items():
        if c in present:
            aggs.append(
                F.sum(
                    F.when(~F.lower(F.col(c)).isin([a.lower() for a in allowed]), 1)
                    .otherwise(0)
                ).alias(f"whitelist_viol__{c}")
            )
    # V8: numeric coercibility — try_cast preserves the reference's
    # pd.to_numeric(errors='coerce') null-on-failure semantics under ANSI.
    for c in rules.numeric_coercible:
        if c in present:
            aggs.append(
                F.sum(
                    F.when(
                        F.col(c).isNotNull()
                        & F.col(c).cast("string").try_cast("double").isNull(),
                        1,
                    ).otherwise(0)
                ).alias(f"non_numeric__{c}")
            )
    # V9: range checks
    for rc in rules.range_checks:
        if rc.column in present:
            cond = F.lit(False)
            if rc.min_value is not None:
                cond = cond | (F.col(rc.column) < rc.min_value)
            if rc.max_value is not None:
                cond = cond | (F.col(rc.column) > rc.max_value)
            aggs.append(
                F.sum(F.when(cond, 1).otherwise(0)).alias(f"range_viol__{rc.column}")
            )
    return df.agg(*aggs)


def whitelist_offenders_plan(
    df: DataFrame, column: str, allowed: list[str], limit: int = 10
) -> DataFrame:
    """V7 offender preview as a plan (schema_check.py:176-181): the distinct
    out-of-whitelist values with their row counts, deterministic order
    (value asc), capped at `limit` — the reference's `[:10]` sample.

    Scale shape: the NOT IN filter pushes to the scan, the distinct-with-
    count is one hash aggregate, and the cap runs as TakeOrderedAndProject
    (per-partition top-k, driver merge) — never a full sort of offenders."""
    return (
        df.filter(~F.lower(F.col(column)).isin([a.lower() for a in allowed]))
        .groupBy(F.lower(F.col(column)).alias("value"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("value")
        .limit(limit)
    )


def whitelist_offenders(
    df: DataFrame, column: str, allowed: list[str], limit: int = 10
) -> list[str]:
    """V7 offender sample (schema_check.py:181 lists ≤10), deterministic order."""
    rows = whitelist_offenders_plan(df, column, allowed, limit).collect()
    return [r["value"] for r in rows]


def evaluate(
    df: DataFrame,
    rules: TableRules,
    dataset: str = "dataset",
    extra_errors: list[str] | None = None,
) -> dict:
    """Run schema checks (driver-side) + the single-pass metrics plan and
    produce the errors/warnings report (V10 roll-up semantics).

    `extra_errors` lets source-level checks (e.g. CSV header validation,
    sources.readers.missing_required_columns) flow into the same report."""
    errors: list[str] = list(extra_errors or [])
    warnings: list[str] = []
    present = set(df.columns)

    # V1: required columns (error, aborts the reference DAG — schema_check.py:320)
    for c in rules.required_columns:
        if c not in present:
            errors.append(f"missing required column: {c}")
    # V2: dtype membership (warning)
    for c, allowed in rules.data_types.items():
        if c in present:
            actual = df.schema[c].dataType.simpleString()
            if actual not in allowed:
                warnings.append(f"column {c} dtype {actual} not in {allowed}")

    metrics = metrics_plan(df, rules).collect()[0].asDict()

    # V3: empty relation (error)
    if metrics["row_count"] == 0:
        errors.append("dataset is empty")
    if metrics.get("dup_rows", 0):
        warnings.append(f"{metrics['dup_rows']} duplicate rows")
    if metrics.get("corrupt_rows", 0):
        warnings.append(f"{metrics['corrupt_rows']} malformed rows (PERMISSIVE ingest)")
    for k, v in metrics.items():
        if k.startswith("nulls__") and v:
            col = k.removeprefix("nulls__")
            if col in rules.key_columns:
                errors.append(f"{v} null values in key column {col}")
            else:
                warnings.append(f"{v} null values in required column {col}")
        elif k == "dup_keys" and v:
            warnings.append(f"{v} duplicate keys on {rules.key_columns}")
        elif k.startswith("whitelist_viol__") and v:
            col = k.removeprefix("whitelist_viol__")
            sample = whitelist_offenders(df, col, rules.whitelist[col])
            warnings.append(f"{v} values of {col} outside whitelist; sample {sample}")
        elif k.startswith("non_numeric__") and v:
            warnings.append(f"{v} non-numeric values in {k.removeprefix('non_numeric__')}")
        elif k.startswith("range_viol__") and v:
            warnings.append(f"{v} range violations in {k.removeprefix('range_viol__')}")

    return {
        "dataset": dataset,
        "row_count": metrics["row_count"],
        "column_count": len(df.columns),
        "columns": list(df.columns),
        "errors": errors,
        "warnings": warnings,
        "passed": not errors,
    }


def validate_datasets(
    named: dict[str, tuple[DataFrame, TableRules]],
    raise_on_error: bool = True,
    extra_errors: dict[str, list[str]] | None = None,
) -> dict:
    """Validate several tables (the reference's validate_datasets task,
    schema_check.py:258-329): aggregate report; errors abort when asked.

    Tables are evaluated concurrently (session.run_concurrently); the report
    keeps the input order, and nothing raises until every table is done."""
    extra_errors = extra_errors or {}
    reports = dict(zip(named, run_concurrently([
        partial(evaluate, df, rules, name, extra_errors.get(name))
        for name, (df, rules) in named.items()
    ])))
    overall = {"datasets": reports, "passed": all(r["passed"] for r in reports.values())}
    if raise_on_error and not overall["passed"]:
        failed = [n for n, r in reports.items() if not r["passed"]]
        raise ValueError(f"validation failed for {failed}: "
                         + "; ".join(e for n in failed for e in reports[n]["errors"]))
    return overall
