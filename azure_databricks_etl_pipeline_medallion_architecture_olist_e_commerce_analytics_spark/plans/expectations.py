"""Row-level data-quality expectations (warn / drop / fail).

Re-implements the DLT expectation surface on open-source PySpark
(behavioral spec, not a port):

- ``@dlt.expect_all({name: predicate, ...})`` — warn-level: record violation
  counts, keep all rows (reference: /root/reference/scripts/silver/Silver_orders.py:23-24,
  order_payments.py:26-32).
- ``@dlt.expect(name, predicate)`` — single warn expectation
  (reference: silver_sellers.py:48).
- SQL ``CONSTRAINT n EXPECT (p) ON VIOLATION FAIL UPDATE`` — abort the refresh
  if any row violates (reference: scripts/gold/fact_order_items.sql:3-7).
- ``ON VIOLATION DROP ROW`` — filter violating rows (DLT public semantics;
  unused by the reference but part of the API surface).

The contract
------------
One meaning per expectation, whether the dataset is a pipeline table, a
materialized view or a streaming table:

- **Violation.** A row violates an expectation when its predicate is FALSE
  or NULL (DLT's "expectation not met"). :func:`violation` is the one
  definition of that rule; every count and every filter here uses it.
- **Ordering.** DROP filters first (:func:`apply_expectations`); WARN and
  FAIL then judge the rows that remain, which are the rows written. A row
  that violates both a DROP and a FAIL expectation is dropped and fails
  nothing; a row that violates both a WARN and a DROP expectation is not
  counted.
- **Counts.** Written datasets take their row, warn and fail counts from
  one :class:`~pyspark.sql.Observation` riding the pass that produces the
  rows (:func:`observe_expectations`); the fail gate judges those counts
  (:func:`enforce_fail`). The write step is
  ``plans/registry.py::checked_write``. :func:`expectation_report` is the
  same count as a lazy per-expectation frame for reporting queries.

Scale notes
-----------
Predicates are compiled with ``F.expr`` so they stay JVM-side inside
whole-stage codegen — no Python round trip. Counts are ONE aggregate over
the dataset (a map-side partial aggregation; no per-predicate jobs). The
fail gate runs no job of its own: it reads the counts of the pass that
already scanned every row.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WARN = "warn"
DROP = "drop"
FAIL = "fail"


@dataclass(frozen=True)
class Expectation:
    name: str
    predicate: str  # SQL boolean expression over the dataset's columns
    action: str = WARN  # warn | drop | fail


def violation(e: Expectation) -> Column:
    """TRUE for a row that violates ``e``: its predicate is FALSE or NULL."""
    return ~F.coalesce(F.expr(e.predicate).cast("boolean"), F.lit(False))


def _violation_counts(expectations: list[Expectation]) -> list[Column]:
    return [F.sum(violation(e).cast("long")).alias(e.name) for e in expectations]


class ExpectationViolation(Exception):
    """Raised when a fail-level expectation has violating rows."""

    def __init__(self, dataset: str, failed: list[tuple[str, int]]):
        self.dataset = dataset
        self.failed = failed
        detail = ", ".join(f"{n} ({c} rows)" for n, c in failed)
        super().__init__(f"dataset {dataset!r}: fail-level expectations violated: {detail}")


def apply_expectations(df: DataFrame, expectations: list[Expectation]) -> DataFrame:
    """Filter out the rows that violate a drop-mode expectation (lazy).

    Warn and fail expectations do not change the row set; they judge the
    rows this returns (module docstring: ordering rule).
    """
    drops = [e for e in expectations if e.action == DROP]
    if not drops:
        return df
    return df.filter(~reduce(lambda a, b: a | b, map(violation, drops)))


def expectation_report(df: DataFrame, expectations: list[Expectation]) -> DataFrame:
    """Lazy ``(expectation, violations, n_rows)`` frame, one row per
    expectation in the given order: one aggregate pass over ``df``, unpivoted
    with ``stack``."""
    counted = df.agg(F.count(F.lit(1)).alias("__rows"), *_violation_counts(expectations))
    stack = ", ".join(f"'{e.name}', `{e.name}`" for e in expectations)
    return counted.selectExpr(
        f"stack({len(expectations)}, {stack}) AS (expectation, violations)",
        "__rows AS n_rows",
    )


def expectation_metrics(df: DataFrame, expectations: list[Expectation]) -> dict[str, int]:
    """Violation count per given expectation, computed in one aggregate job."""
    if not expectations:
        return {}
    return {
        r.expectation: int(r.violations or 0)
        for r in expectation_report(df, expectations).collect()
    }


def observe_expectations(df: DataFrame, expectations: list[Expectation]):
    """Attach a row count and the violation count of every warn and fail
    expectation to the plan as an :class:`~pyspark.sql.Observation` — the
    counts ride whatever action materializes the DataFrame next (the table
    write, or the checkpoint of a gated dataset), so they cost ZERO
    additional scans. This is the mechanism DLT itself uses for its
    expectation metrics (``observe`` feeds the Spark listener bus).

    Returns ``(df_observed, observation)``; read ``observation.get`` only
    AFTER an action that scans every row.
    """
    from pyspark.sql import Observation

    judged = [e for e in expectations if e.action != DROP]
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("__rows"), *_violation_counts(judged)), obs


def enforce_fail(dataset: str, counts: dict[str, int], expectations: list[Expectation]) -> None:
    """Raise :class:`ExpectationViolation` if a fail-level expectation has
    violations in ``counts`` (``{expectation: violations}``, as an
    observation of every row yields them)."""
    failed = [
        (e.name, counts[e.name]) for e in expectations if e.action == FAIL and counts[e.name]
    ]
    if failed:
        raise ExpectationViolation(dataset, failed)
