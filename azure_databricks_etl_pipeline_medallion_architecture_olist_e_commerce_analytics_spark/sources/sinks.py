"""Table sinks: managed warehouse tables with Delta-or-parquet fallback.

The reference writes every layer as managed Delta tables with tuning
properties (bronze_ingestion.py:38-45; gold TBLPROPERTIES incl.
``delta.targetFileSize``/``optimizeWrite``, fact_order_items.sql:11-18) and
liquid clustering on the fact (``CLUSTER BY``, fact_order_items.sql:9).

Open-source mapping:
- Delta jars present  → ``format("delta")`` with the same properties.
- No Delta (this image) → parquet ``saveAsTable``; clustering degrades to
  ``repartition(cluster_cols).sortWithinPartitions(cluster_cols)`` which gives
  the same data-skipping-friendly file layout (min/max zone maps in parquet
  footers) without the Delta metadata.

Scale notes: writes go through AQE-coalesced shuffles; cluster and bucket
columns are honored so downstream joins on those keys scan co-located files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

try:  # pragma: no cover - Delta not in the test image
    from delta import DeltaTable  # noqa: F401

    HAVE_DELTA = True
except ImportError:
    HAVE_DELTA = False


def write_table(
    spark: SparkSession,
    df: DataFrame,
    dataset,
    warehouse: str | None = None,
    fmt: str = "parquet",
) -> None:
    """Full-refresh write of a dataset to the warehouse.

    MVs and tables both overwrite here (the engine's batch mode re-derives
    every table per run, mirroring the reference's full-refresh gold layer);
    incremental appends are the streaming runner's job. The row count is
    not re-read from the table: ``Pipeline.run`` takes it from the
    Observation riding the write job itself (plans/registry.py).

    The dataset's schema (database) must already exist: ``Pipeline.run``
    creates each one once, before its concurrent writes start.
    """
    import os
    import shutil

    schema, _, table = dataset.name.rpartition(".")
    ident = f"`{schema}`.`{table}`" if schema else f"`{table}`"
    plain = f"{schema}.{table}" if schema else table

    if warehouse:
        # caller-isolated run: the table becomes EXTERNAL at
        # <warehouse>/<schema>/<table>. A catalog entry left by a previous
        # run may point at a different location — drop it so saveAsTable
        # re-creates at the requested path (files of the old location are
        # untouched; full-refresh overwrite replaces the new location).
        location = os.path.join(warehouse, *dataset.name.split("."))
        spark.sql(f"DROP TABLE IF EXISTS {ident}")
    else:
        location = None
        if not spark.catalog.tableExists(plain):
            # stale MANAGED location from a previous session: the catalog
            # entry died with that session's metastore but the directory
            # survived, and saveAsTable refuses to create over it
            # (LOCATION_ALREADY_EXISTS). Full-refresh semantics make the
            # leftover safe to clear.
            wh = spark.conf.get(
                "spark.sql.warehouse.dir", "spark-warehouse"
            ).removeprefix("file:")
            stale = os.path.join(
                wh, f"{schema}.db" if schema else "", table
            )
            shutil.rmtree(stale, ignore_errors=True)

    out = df
    if dataset.cluster_by and not dataset.bucket_by:
        # Liquid-clustering equivalent (CLUSTER BY, reference
        # fact_order_items.sql:9): Morton-key range clustering so parquet
        # footer min/max stats prune scans on ANY clustered column, not just
        # the leading one. The clustered write makes extra passes over the
        # frame (stats aggregate + range-partitioner sampling), so
        # materialize it once rather than re-running the MV's build DAG per
        # pass — the local analog of Delta's post-write OPTIMIZE, which
        # clusters from already-materialized files. localCheckpoint (not
        # persist) on purpose: it TRUNCATES the logical lineage, so the
        # morton stats self-join sees plain checkpointed scans. A lazy
        # persist leaves the MV's CTE definitions in both sides of that
        # self-join, which trips Spark's InlineCTE.buildCTEMap
        # ("key not found" NoSuchElementException) on some write plans.
        # One column needs it too: the range sampling pass would otherwise
        # re-run the frame, and the row-count Observation attached by
        # Pipeline.run would count every row twice.
        from ..operators.layout import cluster_frame

        out = cluster_frame(df.localCheckpoint(), list(dataset.cluster_by))

    use_fmt = "delta" if (HAVE_DELTA and fmt == "delta") else "parquet"
    writer = out.write.format(use_fmt).mode("overwrite")
    if dataset.bucket_by:
        # Hash-bucketed layout: every read of this table is pre-shuffled on
        # the bucket columns, so joins/aggs between tables bucketed the same
        # way run with ZERO Exchange — the co-located-join strategy for a
        # star schema at 100 TB.
        n, *cols = dataset.bucket_by
        writer = writer.bucketBy(int(n), *cols).sortBy(*cols)
    dropped_delta_props = []
    for k, v in dataset.table_properties.items():
        if k.startswith("delta.") and use_fmt != "delta":
            # The reference's write tuning (optimizeWrite/autoCompact,
            # deletion vectors, targetFileSize — fact_order_items.sql:11-18)
            # only means something to a Delta table; under the parquet
            # fallback it must not masquerade as a parquet writer option.
            # Parsed and carried this far so a Delta-equipped deployment
            # gets the reference's tuning for free; warn-once here.
            dropped_delta_props.append(k)
            continue
        writer = writer.option(k, str(v))
    if dropped_delta_props:
        import warnings

        warnings.warn(
            f"{dataset.name}: Delta table properties {dropped_delta_props} "
            "ignored under the parquet fallback (no Delta jars in this "
            "environment); they apply when the sink writes format('delta').",
            stacklevel=2,
        )
    if location:
        writer = writer.option("path", location)
    writer.saveAsTable(ident)
