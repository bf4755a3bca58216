"""Incremental CSV ingestion — the engine's Auto Loader replacement (S1–S3).

The reference lands nine CSV datasets with Databricks Auto Loader
(/root/reference/scripts/bronze/bronze_ingestion.py:20-32): incremental file
discovery, header + delimiter + whitespace-trim options, schema inference
with a persisted schema location (``cloudFiles.schemaLocation``,
``cloudFiles.inferColumnTypes``), and malformed rows rescued into a
``_rescued_data`` column that every silver script later drops
(/root/reference/scripts/silver/Silver_orders.py:26).

Open-source mapping (SURVEY.md §1.4, §3.3):

- **Schema inference, persisted**: first run infers from the files present
  (``inferSchema=True``) and pins the result as a DDL string in
  ``<state_dir>/schema.ddl`` — infer-once-then-pin, matching
  ``cloudFiles.schemaLocation`` v1 behavior.
- **Rescued data**: the pinned schema gets a trailing ``_rescued_data
  STRING`` field and files are read ``mode=PERMISSIVE`` with
  ``columnNameOfCorruptRecord=_rescued_data`` — rows that do not fit the
  pinned schema arrive whole in that column, rest NULL.
- **Incremental discovery**: processed file paths are recorded in
  ``<state_dir>/ledger.json``; each ``ingest`` call reads only unseen files
  (Auto Loader's checkpoint-backed file tracking). ``append`` records them
  only after their rows have landed (at-least-once).

Scale notes: the *listing* is driver-side (exactly as Auto Loader's directory
listing mode is), but the listing is file names only — O(files), not O(rows).
The *read* is a distributed ``spark.read.csv`` over the new files; Spark
splits large CSVs by ``spark.sql.files.maxPartitionBytes`` so a 100 GB drop
of new files fans out across the cluster. No data ever passes through the
driver.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

RESCUED_COL = "_rescued_data"

#: Reader options mirroring the reference's Auto Loader options
#: (bronze_ingestion.py:22-31): header, ',' delimiter, whitespace trim.
CSV_OPTIONS = {
    "header": "true",
    "delimiter": ",",
    "ignoreLeadingWhiteSpace": "true",
    "ignoreTrailingWhiteSpace": "true",
}


@dataclass
class IngestResult:
    df: DataFrame | None  # new rows this run (None when no new files)
    new_files: list[str]
    total_seen: int


class CsvIngestor:
    """Incremental CSV reader for one dataset directory.

    ``state_dir`` plays the role of Auto Loader's ``schemaLocation`` +
    checkpoint: it holds the pinned schema and the processed-file ledger.

    ``schema_evolution``:

    - ``"none"`` (default): infer-once-then-pin — files whose shape drifts
      surface rows in ``_rescued_data``.
    - ``"add_new_columns"``: Auto Loader's default evolution mode
      (``cloudFiles.schemaEvolutionMode=addNewColumns``). Each run, headers
      of unseen files are compared with the pinned schema; never-seen column
      names are appended (types inferred from the files that introduced
      them) and the pinned schema file is rewritten. Files are then read in
      per-header groups and aligned BY NAME (a file that omits evolved
      columns yields NULLs; a file that reorders columns still maps
      correctly), so old data needs no rewrite — exactly the semantics of an
      evolving cloudFiles stream. Existing columns never change type; rows
      that do not parse under the pinned type still land in
      ``_rescued_data``.
    """

    def __init__(self, source_dir: str, state_dir: str, schema_evolution: str = "none"):
        if schema_evolution not in ("none", "add_new_columns"):
            raise ValueError(f"unknown schema_evolution mode: {schema_evolution!r}")
        self.source_dir = source_dir
        self.state_dir = state_dir
        self.schema_evolution = schema_evolution
        os.makedirs(state_dir, exist_ok=True)

    # --- state files ---------------------------------------------------
    @property
    def _schema_path(self) -> str:
        return os.path.join(self.state_dir, "schema.ddl")

    @property
    def _ledger_path(self) -> str:
        return os.path.join(self.state_dir, "ledger.json")

    def _load_ledger(self) -> set[str]:
        if os.path.exists(self._ledger_path):
            with open(self._ledger_path) as f:
                return set(json.load(f))
        return set()

    def _save_ledger(self, seen: set[str]) -> None:
        tmp = self._ledger_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(sorted(seen), f)
        os.replace(tmp, self._ledger_path)

    # --- schema --------------------------------------------------------
    def _pinned_schema(self, spark: SparkSession, files: list[str]) -> T.StructType:
        """Pinned dataset schema; inferred from ``files`` on first contact.

        Matches ``cloudFiles.inferColumnTypes=true`` +
        ``cloudFiles.schemaLocation`` (bronze_ingestion.py:25,29-30): infer
        once, persist, reuse — later files with extra/renamed columns do not
        silently change the schema; their rows surface in ``_rescued_data``.
        """
        if os.path.exists(self._schema_path):
            with open(self._schema_path) as f:
                return T._parse_datatype_string(f.read())
        inferred = (
            spark.read.options(**CSV_OPTIONS)
            .option("inferSchema", "true")
            .csv(files)
            .schema
        )
        with open(self._schema_path, "w") as f:
            f.write(inferred.simpleString())
        return inferred

    # --- discovery + read ----------------------------------------------
    def _list_files(self) -> list[str]:
        return sorted(
            os.path.join(self.source_dir, n)
            for n in os.listdir(self.source_dir)
            if n.endswith(".csv") and not n.startswith(".")
        )

    @staticmethod
    def _file_header(path: str) -> tuple[str, ...]:
        """Column names from a file's header line (driver-side, O(1) bytes).

        Same order of work as the directory listing itself — one small read
        per NEW file, never per row.
        """
        import csv as _csv

        with open(path, newline="") as f:
            first = f.readline()
        return tuple(c.strip() for c in next(_csv.reader([first], delimiter=",")))

    def _evolve_schema(
        self, spark: SparkSession, schema: T.StructType, new: list[str]
    ) -> T.StructType:
        """Append never-seen columns (types inferred from their files)."""
        known = {f.name for f in schema.fields}
        introducers: dict[str, list[str]] = {}
        for p in new:
            for col in self._file_header(p):
                if col not in known:
                    introducers.setdefault(col, []).append(p)
        if not introducers:
            return schema
        inferred = (
            spark.read.options(**CSV_OPTIONS)
            .option("inferSchema", "true")
            .csv(sorted({p for ps in introducers.values() for p in ps}))
            .schema
        )
        by_name = {f.name: f for f in inferred.fields}
        added = [
            T.StructField(c, by_name[c].dataType if c in by_name else T.StringType())
            for c in sorted(introducers)
        ]
        evolved = T.StructType(list(schema.fields) + added)
        with open(self._schema_path, "w") as f:
            f.write(evolved.simpleString())
        return evolved

    def _read_aligned(
        self, spark: SparkSession, schema: T.StructType, files: list[str]
    ) -> DataFrame:
        """Read ``files`` aligned BY NAME to the evolved schema.

        Files are grouped by header signature; each group reads with a
        schema in the group's own column order (pinned types by name), then
        projects to the evolved column list with NULLs for absent columns.
        """
        types = {f.name: f.dataType for f in schema.fields}
        groups: dict[tuple[str, ...], list[str]] = {}
        for p in files:
            groups.setdefault(self._file_header(p), []).append(p)
        out: DataFrame | None = None
        for header, paths in sorted(groups.items()):
            group_schema = T.StructType(
                [T.StructField(c, types.get(c, T.StringType())) for c in header]
                + [T.StructField(RESCUED_COL, T.StringType())]
            )
            df = (
                spark.read.options(**CSV_OPTIONS)
                .option("mode", "PERMISSIVE")
                .option("columnNameOfCorruptRecord", RESCUED_COL)
                .schema(group_schema)
                .csv(paths)
            )
            projected = df.select(
                *[
                    F.col(f.name) if f.name in header else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                    if f.name != RESCUED_COL
                ],
                F.col(RESCUED_COL),
            )
            out = projected if out is None else out.unionByName(projected)
        return out

    def _read(self, spark: SparkSession, new: list[str]) -> DataFrame:
        """Rows of the ``new`` files under the pinned (maybe evolved) schema."""
        had_schema = os.path.exists(self._schema_path)
        schema = self._pinned_schema(spark, new)
        if self.schema_evolution == "add_new_columns" and had_schema:
            schema = self._evolve_schema(spark, schema, new)
        if self.schema_evolution == "add_new_columns":
            return self._read_aligned(
                spark,
                T.StructType([f for f in schema.fields if f.name != RESCUED_COL]),
                new,
            )
        read_schema = T.StructType(
            [f for f in schema.fields if f.name != RESCUED_COL]
            + [T.StructField(RESCUED_COL, T.StringType())]
        )
        return (
            spark.read.options(**CSV_OPTIONS)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", RESCUED_COL)
            .schema(read_schema)
            .csv(new)
        )

    def _pending(self, spark: SparkSession) -> tuple[set[str], IngestResult]:
        """The ledger, and the rows of files not yet in it (ledger untouched)."""
        seen = self._load_ledger()
        new = [p for p in self._list_files() if p not in seen]
        df = self._read(spark, new) if new else None
        return seen, IngestResult(df=df, new_files=new, total_seen=len(seen) + len(new))

    def ingest(self, spark: SparkSession) -> IngestResult:
        """Read rows from files not yet in the ledger; advance the ledger.

        The ledger advances before the caller consumes the rows, so a
        caller that writes them should use :meth:`append` instead."""
        seen, result = self._pending(spark)
        if result.new_files:
            self._save_ledger(seen | set(result.new_files))
        return result

    def append(self, spark: SparkSession, target_path: str) -> int:
        """Append the rows of unseen files to a parquet table, then advance
        the ledger; returns the number of files ingested.

        The ledger is saved only after the append has landed, so a failed
        append leaves its files unseen and the next run retries them. A
        crash between the append and the ledger save re-appends those
        files: delivery is at-least-once."""
        seen, result = self._pending(spark)
        if result.df is None:
            return 0
        (
            result.df.withColumn("_ingested_at", F.current_timestamp())
            .write.mode("append")
            .parquet(target_path)
        )
        self._save_ledger(seen | set(result.new_files))
        return len(result.new_files)


def ingest_csv_append(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    target_path: str,
) -> int:
    """One bronze-ingestion run: new CSV rows appended to a parquet table.

    The batch-incremental analogue of one ``availableNow`` microbatch of the
    reference's bronze streaming tables (bronze_ingestion.py:35-49). Returns
    the number of files ingested this run.
    """
    return CsvIngestor(source_dir, state_dir).append(spark, target_path)
