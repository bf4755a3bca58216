"""The engine's runtime session contract, defined once.

The driver hands ``entry``/``queries`` an already-built SparkSession; these
are the runtime-settable confs the engine depends on for correctness
(UTC timezone for oracle comparability, nanos-as-long for the events table)
and scale behavior (AQE).

The contract is applied in two places and defined only here:
``session.get_spark`` tunes every session it builds, and
:func:`catalog_entry` wraps every ``SPARK_QUERIES`` value so each catalog
call re-applies the contract before the query body runs — the analog of
DLT applying its pipeline settings once per pipeline rather than per
dataset.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # restore the runaway-recursion admission guard to its default on every
    # catalog call: q_recursive_chain must raise it for the duration of its
    # (lazy) execution, and the returned DataFrame is collected by the
    # caller after the function returns — so the reset lives here, at the
    # next query's catalog_entry, not in a finally that would fire too early
    "spark.sql.cteRecursionRowLimit": "1000000",
}


def tune_session(spark: SparkSession) -> SparkSession:
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this session build; engine defaults apply
    return spark


def catalog_entry(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Wrap a catalog query so every call runs on a tuned session."""

    @functools.wraps(fn)
    def entry(spark: SparkSession, sf_dir: str) -> DataFrame:
        tune_session(spark)
        return fn(spark, sf_dir)

    return entry
