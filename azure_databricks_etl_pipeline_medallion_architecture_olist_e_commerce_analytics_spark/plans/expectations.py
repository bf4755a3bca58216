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
- **Counts.** Written datasets take their row and warn counts from the
  :class:`~pyspark.sql.Observation` riding the write
  (:func:`observe_expectations`; the write step is
  ``plans/registry.py::checked_write``). :func:`expectation_report` is the
  same count as a lazy per-expectation frame for reporting queries.

Scale notes
-----------
Predicates are compiled with ``F.expr`` so they stay JVM-side inside
whole-stage codegen — no Python round trip. Counts are ONE aggregate over
the dataset (a map-side partial aggregation; no per-predicate jobs). Fail
mode short-circuits with ``isEmpty()`` on the violation filter, which stops
scanning at the first violating row per partition.
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
    """Attach warn-expectation violation counters plus a row count to the
    plan as an :class:`~pyspark.sql.Observation` — the metrics ride whatever
    action materializes the DataFrame next (normally the table write), so
    expectation reporting costs ZERO additional scans. This is the mechanism
    DLT itself uses for its expectation metrics (``observe`` feeds the
    Spark listener bus).

    Returns ``(df_observed, observation)``; read ``observation.get`` only
    AFTER an action that scans every row. In particular, do not run the
    short-circuiting :func:`enforce_fail` on the observed plan — its
    ``isEmpty`` probe stops early and would freeze the observation at
    partial counts.
    """
    from pyspark.sql import Observation

    warns = [e for e in expectations if e.action == WARN]
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("__rows"), *_violation_counts(warns)), obs


def enforce_fail(dataset: str, df: DataFrame, expectations: list[Expectation]) -> None:
    """Raise :class:`ExpectationViolation` if any fail-level predicate has violations.

    Single filtered scan over the union of fail predicates; ``isEmpty`` lets
    Spark stop at the first violating row instead of counting all of them.
    """
    fails = [e for e in expectations if e.action == FAIL]
    if not fails or df.filter(reduce(lambda a, b: a | b, map(violation, fails))).isEmpty():
        return
    # Violations exist: now pay for exact per-expectation counts in one pass
    # (only on the failure path, so the happy path stays one cheap scan).
    counts = expectation_metrics(df, fails)
    raise ExpectationViolation(dataset, [(n, c) for n, c in counts.items() if c > 0])
