"""Output checks, run outside the timed path.

Each check returns a list of problems (empty when the output is right).
Catalog outputs are compared with their DuckDB twins from ``ORACLES`` using
the repository's own canonical comparison (``tests/oracle_utils.py``).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

from inputs import SOURCE_TABLES


def _compare_frames():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tests_dir = os.path.join(root, "tests")
    if tests_dir not in sys.path:
        sys.path.append(tests_dir)
    from oracle_utils import compare_frames

    return compare_frames


def duck_over(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in SOURCE_TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def against_oracle(spark_pdf: pd.DataFrame, con, oracle_sql: str, name: str) -> list[str]:
    duck_pdf = con.execute(oracle_sql).fetchdf()
    return _compare_frames()(spark_pdf, duck_pdf, name)


def refresh_problems(spark, con, report: dict, warehouse: str, oracles: dict,
                     bronze: tuple, gold: bool = True) -> list[str]:
    """Row count of every dataset the refresh wrote and, with ``gold``, every
    gold table in ``warehouse`` against its ``gold_<name>`` oracle (compared
    on the oracle's columns)."""
    counts = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in SOURCE_TABLES}
    expected = {f"bronze.bronze_{t}": counts[t] for t in bronze}
    expected.update(
        {
            f"silver.silver_{t}": counts[t]
            for t in "orders lineitem customer supplier nation region documents".split()
        }
    )
    expected["silver.silver_part"] = con.execute(
        "SELECT count(DISTINCT p_partkey) FROM part"
    ).fetchone()[0]
    expected["silver.silver_events"] = con.execute(
        "SELECT count(DISTINCT e.event_id) FROM events e "
        "JOIN (SELECT DISTINCT o_custkey FROM orders) o ON e.user_id = o.o_custkey"
    ).fetchone()[0]
    problems = []
    for name, want in expected.items():
        got = report.get(name, {}).get("rows")
        if got != want:
            problems.append(f"{name}: {got} rows, expected {want}")
    check_gold, gold = gold, sorted(k for k in report if k.startswith("gold."))
    if len(gold) != 6:
        problems.append(f"expected 6 gold datasets, refresh wrote {gold}")
    for name in gold if check_gold else ():
        table = name.split(".", 1)[1]
        oracle = oracles.get(f"gold_{table}")
        if oracle is None:
            problems.append(f"{name}: no oracle")
            continue
        duck_pdf = con.execute(oracle).fetchdf()
        written = spark.read.parquet(os.path.join(warehouse, "gold", table))
        missing = sorted(set(duck_pdf.columns) - set(written.columns))
        if missing:
            problems.append(f"{name}: missing columns {missing}")
            continue
        spark_pdf = written.select(*duck_pdf.columns).toPandas()
        problems += _compare_frames()(spark_pdf, duck_pdf, name)
        if report[name].get("rows") != len(duck_pdf):
            problems.append(f"{name}: {report[name].get('rows')} rows, oracle {len(duck_pdf)}")
    return problems


MV_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(value) AS BIGINT) AS n_values,
       min(value) AS min_value,
       max(value) AS max_value,
       CAST(sum(CAST(value AS DECIMAL(38, 6))) AS DOUBLE) AS sum_value_d,
       CAST(sum(CAST(value AS DECIMAL(38, 6))) AS DOUBLE) / count(value) AS avg_value
FROM landed GROUP BY event_type
"""

CDC_ORACLE = """
SELECT user_id, event_id, event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM landed) WHERE rn = 1
"""


def ingest_problems(mv_pdf: pd.DataFrame | None, cdc_pdf: pd.DataFrame | None,
                    landed: pd.DataFrame) -> list[str]:
    """The MV against a GROUP BY event_type, and the CDC snapshot against
    the latest row (highest event_id) per user_id, both over the landed rows."""
    if mv_pdf is None or cdc_pdf is None:
        return ["incremental outputs missing"]
    con = duckdb.connect()
    try:
        con.register("landed", landed)
        compare = _compare_frames()
        return compare(mv_pdf, con.execute(MV_ORACLE).fetchdf(), "gold_mv") + compare(
            cdc_pdf, con.execute(CDC_ORACLE).fetchdf(), "silver_cdc"
        )
    finally:
        con.close()
