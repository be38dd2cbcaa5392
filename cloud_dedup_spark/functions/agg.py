"""Shared aggregate expressions with engine-portable numeric semantics."""

from __future__ import annotations

from pyspark.sql import functions as F


def money_sum(col: str = "value") -> F.Column:
    """Order-independent money sum, exact to the cent.

    A double sum's partial-aggregation order differs run-to-run (and
    engine-to-engine), so its low bits are not reproducible — the
    supplier_part_span lesson.  Summing as decimal(18,4) is exact integer
    arithmetic, rounded once at the end; the DuckDB oracle twin is
    ``round(sum(CAST(v AS DECIMAL(18,4))), 2)::DOUBLE``.  One shared
    definition so a future precision change (e.g. widening for ANSI
    sum-overflow at larger scale) cannot silently diverge between the
    sessionizer and the bucket rollup."""
    return F.round(F.sum(F.col(col).cast("decimal(18,4)")), 2).cast("double")
