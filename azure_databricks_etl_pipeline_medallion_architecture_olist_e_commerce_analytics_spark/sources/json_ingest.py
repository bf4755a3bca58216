"""Incremental JSONL ingestion — the Auto Loader pattern for JSON landing
zones (same contract as csv_ingest.py: infer-once-then-pin schema,
PERMISSIVE reads with a ``_rescued_data`` corrupt-record column, and a
processed-file ledger for incremental discovery).

The reference only lands CSV (/root/reference/scripts/bronze/
bronze_ingestion.py:20-32), but its Auto Loader call is format-parameterized
(``cloudFiles`` supports json identically); a complete replacement needs the
JSON path too. Line-delimited JSON (``multiLine=false``) keeps files
splittable — Spark fans a large JSONL file out by
``spark.sql.files.maxPartitionBytes`` exactly like CSV; a multiline JSON
document would pin each file to one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .csv_ingest import RESCUED_COL, CsvIngestor


class JsonlIngestor(CsvIngestor):
    """Incremental line-delimited-JSON reader for one dataset directory.

    Shares the schema-pin, ledger and append machinery with
    :class:`CsvIngestor`; only discovery suffix and the reader differ. Rows
    that do not parse or do not fit the pinned schema arrive whole in
    ``_rescued_data``.
    """

    EXTENSION = ".jsonl"

    def _list_files(self) -> list[str]:
        import os

        return sorted(
            os.path.join(self.source_dir, n)
            for n in os.listdir(self.source_dir)
            if n.endswith((".jsonl", ".json")) and not n.startswith(".")
        )

    def _pinned_schema(self, spark: SparkSession, files: list[str]) -> T.StructType:
        import os

        if os.path.exists(self._schema_path):
            with open(self._schema_path) as f:
                return T._parse_datatype_string(f.read())
        inferred = spark.read.option("multiLine", "false").json(files).schema
        with open(self._schema_path, "w") as f:
            f.write(inferred.simpleString())
        return inferred

    def _read(self, spark: SparkSession, new: list[str]) -> DataFrame:
        schema = self._pinned_schema(spark, new)
        read_schema = T.StructType(
            [f for f in schema.fields if f.name != RESCUED_COL]
            + [T.StructField(RESCUED_COL, T.StringType())]
        )
        return (
            spark.read.option("multiLine", "false")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", RESCUED_COL)
            .schema(read_schema)
            .json(new)
        )
