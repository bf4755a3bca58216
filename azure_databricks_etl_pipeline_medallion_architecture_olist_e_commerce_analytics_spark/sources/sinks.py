"""Table sinks: managed warehouse tables, written as parquet.

The reference writes every layer as managed Delta tables with tuning
properties (bronze_ingestion.py:38-45; gold TBLPROPERTIES incl.
``delta.targetFileSize``/``optimizeWrite``, fact_order_items.sql:11-18) and
liquid clustering on the fact (``CLUSTER BY``, fact_order_items.sql:9).

Open-source mapping: parquet ``saveAsTable``; ``CLUSTER BY`` becomes a
Morton-key range-clustered write (``operators/layout.py::cluster_frame``),
which gives the data-skipping-friendly file layout (min/max zone maps in
parquet footers) without the Delta metadata. ``delta.*`` table properties
are warned about and skipped.

Scale notes: writes go through AQE-coalesced shuffles; cluster and bucket
columns are honored so downstream joins on those keys scan co-located files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_table(
    spark: SparkSession,
    df: DataFrame,
    dataset,
    warehouse: str | None = None,
) -> None:
    """Full-refresh write of a dataset to the warehouse.

    MVs and tables both overwrite here (the engine's batch mode re-derives
    every table per run, mirroring the reference's full-refresh gold layer);
    incremental appends are the streaming runner's job. The row count is
    not re-read from the table: ``Pipeline.run`` takes it from the
    Observation of ``plans/registry.py::checked_write``, which also hands a
    clustered dataset over already materialized.

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
    if dataset.cluster_by:
        # Liquid-clustering equivalent (CLUSTER BY, reference
        # fact_order_items.sql:9): Morton-key range clustering so parquet
        # footer min/max stats prune scans on ANY clustered column, not just
        # the leading one.
        from ..operators.layout import cluster_frame

        out = cluster_frame(df, list(dataset.cluster_by))

    writer = out.write.format("parquet").mode("overwrite")
    if dataset.bucket_by:
        # Hash-bucketed layout: every read of this table is pre-shuffled on
        # the bucket columns, so joins/aggs between tables bucketed the same
        # way run with ZERO Exchange — the co-located-join strategy for a
        # star schema at 100 TB.
        n, *cols = dataset.bucket_by
        writer = writer.bucketBy(int(n), *cols).sortBy(*cols)
    dropped_delta_props = []
    for k, v in dataset.table_properties.items():
        if k.startswith("delta."):
            # The reference's write tuning (optimizeWrite/autoCompact,
            # deletion vectors, targetFileSize — fact_order_items.sql:11-18)
            # only means something to a Delta table; under the parquet
            # fallback it must not masquerade as a parquet writer option.
            # Carried this far so the registry keeps the reference's DDL
            # intact; warn-once here.
            dropped_delta_props.append(k)
            continue
        writer = writer.option(k, str(v))
    if dropped_delta_props:
        import warnings

        warnings.warn(
            f"{dataset.name}: Delta table properties {dropped_delta_props} "
            "ignored under the parquet fallback (the sink writes parquet "
            "tables only).",
            stacklevel=2,
        )
    if location:
        writer = writer.option("path", location)
    writer.saveAsTable(ident)
