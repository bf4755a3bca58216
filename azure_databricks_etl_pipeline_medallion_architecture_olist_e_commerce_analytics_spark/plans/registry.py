"""Declarative dataset registry + DAG execution — the DLT-equivalent core.

The reference declares its pipeline with ``@dlt.view`` / ``@dlt.table``
decorators and ``dlt.read`` / ``dlt.readStream`` name references
(/root/reference/scripts/silver/Silver_orders.py:6-26), plus SQL
``CREATE OR REFRESH MATERIALIZED VIEW`` files referencing ``LIVE.`` siblings
(/root/reference/scripts/gold/fact_order_items.sql:1,28). This module
implements those semantics on stock PySpark:

- :class:`Pipeline` holds a registry of dataset definitions (name, body
  function or SQL text, expectations, table properties).
- Dependencies are discovered *by execution*: a body calls
  ``ctx.read("silver.orders")`` which recursively resolves the upstream
  dataset (memoized), so the DAG is walked depth-first in exact topological
  order with cycle detection — the same name-reference model DLT uses. The
  resolver records which datasets each body read; that record is the DAG.
- Two materialization modes:
  * ``views`` (default): every dataset is a lazy DataFrame; nothing touches
    disk. Catalyst sees the WHOLE pipeline as one logical plan per output, so
    cross-layer optimizations (filter pushdown through silver into the bronze
    scan, column pruning across the medallion) happen for free. At 100 TB this
    is the mode you run ad-hoc queries in.
  * ``tables`` (:meth:`Pipeline.run`): each table/MV dataset is written to
    the warehouse (parquet ``saveAsTable``).
    Downstream datasets are still computed from the resolved lineage, not
    from the written files; the tables are the run's outputs.

``Pipeline.run`` works like a DLT update. It resolves every dataset on the
calling thread, in registration order (drop-mode expectations filter in the
resolver), and hands each table/MV to a thread pool as soon as it is
resolved and every table it reads (looking through views) has been written.
There its :func:`checked_write` step runs beside those of other datasets,
so independent bronze, silver and gold datasets refresh at the same time.
That step counts rows, warn and fail violations in one Observation on the
pass that produces the rows; a dataset with a fail expectation or
``cluster_by`` is materialized once first, so its fail gate judges every
row before anything is written and a failed gate leaves the table as it
was. The pool has ``defaultParallelism`` threads. After the first failure
no further dataset starts; the ones already running finish, and the first
exception (e.g. :class:`ExpectationViolation`) is raised. Downstream
datasets of a failed one are therefore never written.

Every table here runs in batch mode (``availableNow`` parity: a streaming
table's update over the data present gives the same rows). The
true-streaming runner, ``streaming/incremental.py::
run_incremental_with_expectations``, writes each microbatch through the same
:func:`checked_write` step, so both paths judge rows by one contract
(``plans/expectations.py``).
"""

from __future__ import annotations

import re
import time
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from .expectations import (
    DROP,
    FAIL,
    WARN,
    Expectation,
    ExpectationViolation,
    apply_expectations,
    enforce_fail,
    observe_expectations,
)

_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*){0,2}$")


def _normalize(name: str) -> str:
    """Canonical dataset key: lowercase, ``live.``/catalog prefixes stripped.

    The reference addresses the same dataset as ``LIVE.silver_orders``,
    ``silver.silver_orders`` and ``olist_cat.silver.silver_geolocations``
    (fact_order_items.sql:28, dim_customers.sql:37); all three collapse to
    one registry key here (catalog part dropped, schema kept).
    """
    parts = name.strip().lower().split(".")
    if parts and parts[0] == "live":
        parts = parts[1:]
    if len(parts) == 3:  # catalog.schema.table → schema.table
        parts = parts[1:]
    return ".".join(parts)


@dataclass
class DatasetDef:
    name: str  # normalized "schema.table" or bare name for views
    kind: str  # "table" | "view" | "mv"
    fn: Callable | None = None  # body: fn(ctx) -> DataFrame
    sql: str | None = None  # SELECT body for SQL MVs
    comment: str = ""
    table_properties: dict = field(default_factory=dict)
    expectations: list[Expectation] = field(default_factory=list)
    cluster_by: tuple = ()
    bucket_by: tuple = ()  # (n_buckets, col, ...) — hash-bucketed, sorted by col


def checked_write(d: DatasetDef, df: DataFrame, write: Callable[[DataFrame], None]) -> dict:
    """The one checked-write step of a table, an MV or a streaming microbatch.

    ``df`` holds the rows of dataset ``d`` left after drop-mode
    expectations. One Observation counts them and every warn and fail
    violation in the pass that produces them. A dataset with a fail
    expectation or ``cluster_by`` is materialized first (one eager
    ``localCheckpoint``, which completes the counts); its fail gate then
    judges every row before anything is written, and ``write`` reads the
    checkpoint. Any other dataset's counts ride ``write`` itself. Returns
    ``{"rows": n}``, plus ``"expectations": {warn_name: violations}`` when
    ``d`` has warn expectations.
    """
    observed, obs = observe_expectations(df, d.expectations)
    if d.cluster_by or any(e.action == FAIL for e in d.expectations):
        # a clustered write re-reads its input (range sampling), re-running the build;
        # localCheckpoint, not persist, also sheds the CTEs Spark's InlineCTE trips on
        observed = observed.localCheckpoint()
        enforce_fail(d.name, _counts(obs), d.expectations)
    write(observed)
    counts = _counts(obs)
    entry: dict = {"rows": counts["__rows"]}
    warns = {e.name: counts[e.name] for e in d.expectations if e.action == WARN}
    if warns:
        entry["expectations"] = warns
    return entry


def _counts(obs) -> dict[str, int]:
    return {k: int(v or 0) for k, v in obs.get.items()}


class _Resolver:
    """Per-build memoized recursive resolver (one per ``Pipeline.dataframe`` call)."""

    def __init__(self, pipeline: "Pipeline", spark: SparkSession):
        self.pipeline = pipeline
        self.spark = spark
        self.cache: dict[str, DataFrame] = {}
        self.stack: list[str] = []
        self.reads: dict[str, set[str]] = {}  # dataset -> datasets its body read

    # --- the ctx API exposed to dataset bodies -------------------------
    def read(self, name: str) -> DataFrame:
        """Batch read of a sibling pipeline dataset (``dlt.read`` equivalent)."""
        return self._resolve(name)

    def read_stream(self, name: str) -> DataFrame:
        """Streaming read — batch-incremental mode returns the batch frame.

        Reference uses ``dlt.readStream``/``dlt.read_stream``
        (Silver_orders.py:12,26); with availableNow-trigger semantics a batch
        read over the unprocessed data is behaviorally identical, and it is
        what the engine's batch mode executes.
        """
        return self._resolve(name)

    @property
    def spark_session(self) -> SparkSession:
        return self.spark

    # -------------------------------------------------------------------
    def _resolve(self, name: str) -> DataFrame:
        key = self.pipeline._lookup(name)
        if key is None:
            raise KeyError(
                f"unknown dataset {name!r}; registered: {sorted(self.pipeline._defs)}"
            )
        if self.stack:
            self.reads.setdefault(self.stack[-1], set()).add(key)
        if key in self.cache:
            return self.cache[key]
        if key in self.stack:
            cycle = " -> ".join(self.stack + [key])
            raise ValueError(f"dependency cycle in pipeline: {cycle}")
        d = self.pipeline._defs[key]
        self.stack.append(key)
        try:
            if d.sql is not None:
                df = self._run_sql(d)
            else:
                df = d.fn(self)
        finally:
            self.stack.pop()
        df = apply_expectations(df, d.expectations)
        self.cache[key] = df
        return df

    def upstream_tables(self, key: str) -> set[str]:
        """Tables and MVs a resolved dataset reads, seen through views."""
        out: set[str] = set()
        for dep in self.reads.get(key, ()):
            if self.pipeline._defs[dep].kind == "view":
                out |= self.upstream_tables(dep)
            else:
                out.add(dep)
        return out

    def _run_sql(self, d: DatasetDef) -> DataFrame:
        """Execute a SQL dataset body, resolving ``LIVE.x`` / ``schema.x`` refs.

        Every referenced pipeline dataset is materialized as a session temp
        view with a mangled name, and the SQL text is rewritten to use the
        mangled names before ``spark.sql`` — the engine's equivalent of DLT's
        ``LIVE.`` resolution (fact_order_items.sql:28,86-112).
        """
        sql = d.sql
        refs = self.pipeline._sql_refs(sql)
        for ref in refs:
            key = self.pipeline._lookup(ref)
            if key == d.name:
                continue
            dep_df = self._resolve(key)
            view = "__mdl_" + key.replace(".", "__")
            dep_df.createOrReplaceTempView(view)
            sql = re.sub(
                r"(?<![A-Za-z0-9_.])" + re.escape(ref) + r"(?![A-Za-z0-9_])",
                view,
                sql,
                flags=re.IGNORECASE,
            )
        return self.spark.sql(sql)


class Pipeline:
    """Registry + runner for a declarative medallion pipeline."""

    def __init__(self, name: str = "pipeline"):
        self.name = name
        self._defs: dict[str, DatasetDef] = {}

    # --- declaration API ----------------------------------------------
    def view(self, name: str | None = None, comment: str = ""):
        """Register a named, non-materialized staging dataflow.

        Equivalent of ``@dlt.view`` (Silver_orders.py:6-13).
        """
        return self._decorator(kind="view", name=name, comment=comment)

    def table(
        self,
        name: str | None = None,
        comment: str = "",
        table_properties: dict | None = None,
        cluster_by: tuple = (),
        bucket_by: tuple = (),
    ):
        """Register a (streaming) table. Equivalent of ``@dlt.table``
        (Silver_orders.py:16-21, bronze_ingestion.py:38-45).

        ``bucket_by=(n, col, ...)`` hash-buckets the stored table so joins
        and aggregations on those columns read pre-shuffled data (Spark's
        bucketed-table optimization — no Exchange at query time).
        """
        return self._decorator(
            kind="table",
            name=name,
            comment=comment,
            table_properties=table_properties or {},
            cluster_by=tuple(cluster_by),
            bucket_by=tuple(bucket_by),
        )

    def materialized_view(
        self,
        name: str,
        sql: str | None = None,
        comment: str = "",
        table_properties: dict | None = None,
        expectations: list[Expectation] | None = None,
        cluster_by: tuple = (),
    ):
        """Register a full-refresh materialized view from SQL text or a body fn.

        Equivalent of ``CREATE OR REFRESH MATERIALIZED VIEW``
        (scripts/gold/*.sql:1). When ``sql`` is given this registers directly;
        otherwise returns a decorator for a Python body.
        """
        key = _normalize(name)
        if sql is not None:
            self._register(
                DatasetDef(
                    name=key,
                    kind="mv",
                    sql=sql,
                    comment=comment,
                    table_properties=table_properties or {},
                    expectations=list(expectations or []),
                    cluster_by=tuple(cluster_by),
                )
            )
            return None
        return self._decorator(
            kind="mv",
            name=name,
            comment=comment,
            table_properties=table_properties or {},
            cluster_by=tuple(cluster_by),
        )

    # expectation decorators — attach to the body fn, collected by _decorator.
    def expect_all(self, rules: dict[str, str]):
        """Warn-level expectations (``@dlt.expect_all``, Silver_orders.py:23-24)."""
        return self._expect_decorator([Expectation(n, p, WARN) for n, p in rules.items()])

    def expect(self, name: str, predicate: str):
        """Single warn expectation (``@dlt.expect``, silver_sellers.py:48)."""
        return self._expect_decorator([Expectation(name, predicate, WARN)])

    def expect_all_or_drop(self, rules: dict[str, str]):
        return self._expect_decorator([Expectation(n, p, DROP) for n, p in rules.items()])

    def expect_all_or_fail(self, rules: dict[str, str]):
        """Fail-level (``ON VIOLATION FAIL UPDATE``, fact_order_items.sql:3-7)."""
        return self._expect_decorator([Expectation(n, p, FAIL) for n, p in rules.items()])

    @staticmethod
    def _expect_decorator(exps: list[Expectation]):
        def deco(fn):
            existing = getattr(fn, "_mdl_expectations", [])
            fn._mdl_expectations = existing + exps
            return fn

        return deco

    def _decorator(self, kind: str, name: str | None, comment: str = "", **kw):
        def deco(fn):
            ds_name = _normalize(name or fn.__name__)
            exps = list(getattr(fn, "_mdl_expectations", []))
            self._register(
                DatasetDef(
                    name=ds_name, kind=kind, fn=fn, comment=comment, expectations=exps, **kw
                )
            )
            return fn

        return deco

    def _register(self, d: DatasetDef) -> None:
        if not _NAME_RE.match(d.name):
            raise ValueError(f"invalid dataset name: {d.name!r}")
        if d.name in self._defs:
            raise ValueError(f"duplicate dataset definition: {d.name!r}")
        if d.cluster_by and d.bucket_by:
            raise ValueError(f"{d.name}: cluster_by and bucket_by are exclusive layouts; pick one")
        self._defs[d.name] = d

    # --- querying ------------------------------------------------------
    def dataframe(self, spark: SparkSession, name: str) -> DataFrame:
        """Resolve a dataset to a lazy DataFrame (views mode — no I/O)."""
        return _Resolver(self, spark).read(name)

    def datasets(self) -> list[DatasetDef]:
        return list(self._defs.values())

    def _lookup(self, name: str) -> str | None:
        """Registry key for a dataset reference, or None.

        ``LIVE.x`` resolves against table basenames across schemas (DLT
        resolves LIVE-namespace references to pipeline datasets regardless of
        their target schema — fact_order_items.sql:28 references
        ``LIVE.silver_order_payments`` which is ``silver.silver_order_payments``).
        """
        key = _normalize(name)
        if key in self._defs:
            return key
        if "." not in key:
            matches = [k for k in self._defs if k.rpartition(".")[2] == key]
            if len(matches) == 1:
                return matches[0]
        return None

    def _sql_refs(self, sql: str) -> list[str]:
        """Dataset references inside a SQL body (dotted identifiers only),
        longest-first so that ``a.b.c`` is rewritten before ``b.c``."""
        found: set[str] = set()
        for m in re.finditer(
            r"(?i)\b[a-z_][a-z0-9_]*(?:\.[a-z_][a-z0-9_]*){1,2}\b", sql
        ):
            tok = m.group(0)
            if self._lookup(tok) is not None:
                found.add(tok)
        return sorted(found, key=len, reverse=True)

    # --- execution -----------------------------------------------------
    def run(self, spark: SparkSession, warehouse: str | None = None) -> dict:
        """Materialize every table/MV dataset, upstream tables first.

        Tables overwrite as parquet managed tables under the Spark warehouse
        (sources/sinks.py); views stay virtual. Datasets are resolved here,
        in registration order, and written on a pool of
        ``defaultParallelism`` threads as soon as every table they read is
        written (module docstring: schedule and failure rule). Returns, in registration order, per-dataset row counts,
        expectation metrics, and ``start_s``/``end_s``: seconds from the start
        of the run to the start and end of the dataset's :func:`checked_write`.

        Full-refresh semantics for MVs mirror the reference's gold layer
        ("Materialized views / Full Refresh", docs/pipeline-flow.png).
        """
        from ..sources.sinks import write_table  # late import to avoid cycle

        t0 = time.perf_counter()
        targets = [d for d in self._defs.values() if d.kind != "view"]
        for schema in dict.fromkeys(d.name.rpartition(".")[0] for d in targets):
            if schema:  # once per schema, before any write starts
                spark.sql(f"CREATE DATABASE IF NOT EXISTS `{schema}`")

        def materialize(d: DatasetDef, df: DataFrame) -> dict:
            start = time.perf_counter() - t0
            entry = checked_write(
                d, df, lambda out: write_table(spark, out, d, warehouse=warehouse)
            )
            entry.update(start_s=start, end_s=time.perf_counter() - t0)
            return entry

        # pool threads take the caller's job group / description, so a
        # cancel of the caller's jobs also reaches the writes
        task = inheritable_thread_target(spark)(materialize)
        resolver = _Resolver(self, spark)
        waiting: list[tuple[DatasetDef, DataFrame, set[str]]] = []
        running: dict = {}  # future -> dataset name
        written: dict[str, dict] = {}
        errors: list[BaseException] = []

        def settle(timeout: float | None) -> None:
            """Collect finished writes, then start every dataset whose
            upstream tables are all written — unless one has failed."""
            done, _ = wait(running, timeout=timeout, return_when=FIRST_COMPLETED)
            for fut in done:
                name = running.pop(fut)
                if fut.exception() is not None:
                    errors.append(fut.exception())
                else:
                    written[name] = fut.result()
            if errors:
                return
            for item in [w for w in waiting if w[2].issubset(written)]:
                waiting.remove(item)
                d, df, _ = item
                running[pool.submit(task, d, df)] = d.name

        with ThreadPoolExecutor(spark.sparkContext.defaultParallelism) as pool:
            for d in targets:
                df = resolver.read(d.name)
                waiting.append((d, df, resolver.upstream_tables(d.name)))
                settle(timeout=0)
                if errors:
                    break
            while running:
                settle(timeout=None)
        if errors:
            raise errors[0]
        return {d.name: written[d.name] for d in targets}


# One shared resolution per pipeline builder. DLT resolves the pipeline graph
# ONCE per update and serves every dataset from that resolution (SURVEY.md
# §3.1 step 2); re-running the recursive resolver for each dataset request
# would instead re-pay Catalyst analysis of the whole pipeline (~0.9s for the
# medallion fact at any SF — driver-side cost that grows with plan width, not
# data). DataFrames are immutable logical plans, so serving a memoized one is
# semantically identical. Keyed by builder, so the medallion and corpus
# resolutions never evict each other.
_SHARED: dict[Callable, tuple[tuple, _Resolver]] = {}


def shared_dataframe(
    spark: SparkSession, build: Callable[[str], Pipeline], sf_dir: str, dataset: str
) -> DataFrame:
    """Resolve ``dataset`` against the shared resolution of ``build(sf_dir)``.

    Datasets resolved while building another one (the medallion fact pulls
    in every silver table and all five dims) are served from the same cache,
    so e.g. ``gold.dim_customers`` after ``gold.fact_lineitem`` costs zero
    analysis. The builder's resolver is replaced when the Spark application
    or ``sf_dir`` changes, which also drops resolutions of stopped sessions.
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    held = _SHARED.get(build)
    if held is None or held[0] != key:
        held = _SHARED[build] = (key, _Resolver(build(sf_dir), spark))
    return held[1].read(dataset)
