"""Parquet source loading for the driver's synthetic tables.

Equivalent role to the reference's bronze landing reads (one directory per
dataset, /root/reference/scripts/bronze/bronze_ingestion.py:7-15), but the
driver testdata is parquet — same operator, different format option
(SURVEY.md §3.3). CSV-with-rescued-data ingestion lives in csv_ingest.py.

Scale notes: a bare ``spark.read.parquet`` keeps Catalyst in charge —
predicate pushdown and column pruning reach the parquet scan, and
``spark.sql.files.maxPartitionBytes`` splits big files across executors.
Never collect here.
"""

from __future__ import annotations

import os
from functools import lru_cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _file_stamp(path: str) -> tuple[int, int] | None:
    """``(st_mtime_ns, st_size)`` of a path, or None if it is missing.

    The nanosecond mtime is exact where the float of ``os.path.getmtime``
    rounds to about 0.2 µs, and the size catches an overwrite that lands on
    the same timestamp tick.
    """
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


@lru_cache(maxsize=256)
def _nano_ts_columns_at(path: str, stamp: tuple | None) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) (footer-only read, cached).

    ``path`` is a concrete part FILE (resolution from a table directory
    happens in ``_nano_ts_columns``) and the cache key is that file's own
    stamp, so a table regenerated at the same path within one session never
    serves stale footer metadata — including dynamic partition overwrites
    that replace part files inside an existing hive subdirectory without
    bumping the table root's mtime (same staleness class the side-artifact
    cache keys by path+mtime).
    """
    import pyarrow as pa

    schema = pq.read_schema(path)
    return tuple(
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )


def _nano_ts_columns(path: str) -> tuple[str, ...]:
    """Resolve a table path (file or directory) and read its NANOS columns.

    For a directory of part files the footer of one part speaks for the
    table, but the cache must be keyed by the stamp of the part file
    actually read — the table root's mtime does not change when a dynamic
    partition overwrite replaces parts inside an existing subdirectory.
    """
    if os.path.isdir(path):
        parts = _part_files(path)
        if not parts:
            return ()
        path = parts[0]
    return _nano_ts_columns_at(path, _file_stamp(path))


def _part_files(path: str) -> list[str]:
    """Sorted parquet part files of a table directory."""
    import glob

    return sorted(glob.glob(os.path.join(path, "*.parquet"))) or sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP (session tz is pinned UTC).

    Parquet written with naive ``timestamp[us]`` columns loads as
    TIMESTAMP_NTZ under Spark 4, which ``withWatermark`` and unix-time casts
    reject. With the session timezone fixed to UTC the cast is value-identical
    to what the naive DuckDB oracle sees, so every downstream comparison and
    event-time operator works on plain TimestampType.
    """
    from pyspark.sql.types import TimestampNTZType

    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


# Session-scoped resolved-relation cache (round-11). Re-resolving the same
# table path costs ~0.1 s of DRIVER work per call — parquet footer read,
# file listing, plan analysis — and the catalog pays it on every query
# invocation (the bench re-invokes fn() per timed pass). A catalog-backed
# table would get exactly this for free: Spark's SessionCatalog caches the
# resolved relation and its InMemoryFileIndex per session (the guide-§6
# ``filesourcePartitionFileCacheSize`` machinery); bare-path reads bypass
# that cache, so we keep the equivalent here. This memoizes only the LAZY
# analyzed plan — no rows, no results; every execution still scans the
# parquet files. Invalidation mirrors ``_nano_ts_columns_at``: the key
# carries the resolved path's stamp (and, for a directory, the first part
# file's stamp — root mtime misses dynamic partition overwrites), so a
# regenerated table is re-resolved. Sessions compare by identity, so a plan
# is only ever served back to the exact session that built it. The caches
# are LRUs: past 256 entries the least recently used one is evicted.
def _table_stamp(path: str) -> tuple | None:
    root = _file_stamp(path)
    if root is None or not os.path.isdir(path):
        return root
    parts = _part_files(path)
    return (root, _file_stamp(parts[0]) if parts else None, len(parts))


@lru_cache(maxsize=256)
def _relation(spark: SparkSession, path: str, stamp: tuple | None) -> DataFrame:
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    for c in _nano_ts_columns(path):
        # Only convert when the column actually ARRIVED as long: pyarrow
        # also reports INT96 (Spark-written legacy) timestamps as ns, but
        # Spark loads those as TIMESTAMP directly — the div-1000 fixup
        # applies solely to TIMESTAMP(NANOS) surfaced via nanosAsLong.
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return normalize_ntz(df)


@lru_cache(maxsize=256)
def _raw_schema(spark: SparkSession, path: str, stamp: tuple | None):
    return spark.read.parquet(path).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table; all timestamps normalized to TimestampType.

    Two parquet encodings need normalizing: TIMESTAMP(NANOS) arrives as long
    (``legacy.parquet.nanosAsLong``) and integer-div by 1000 floors to
    microseconds — the same truncation DuckDB applies; naive ``timestamp[us]``
    arrives as TIMESTAMP_NTZ and is cast to TIMESTAMP (UTC session, so
    value-identical to the oracle).

    The resolved (lazy) relation is cached per (session, path, stamp) — see
    ``_relation`` above; execution always reads the files.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    return _relation(spark, path, _table_stamp(path))


def raw_parquet_schema(spark: SparkSession, path: str):
    """The UN-normalized schema of a parquet path (what ``spark.read``
    infers), cached per (session, path, stamp) like the relations above —
    streaming sources need it on every query build and the inference is
    the same ~0.1 s driver-side footer/listing round-trip."""
    return _raw_schema(spark, path, _table_stamp(path))


def spread_partitions(df: DataFrame) -> DataFrame:
    """Repartition an under-split input up to the session's parallelism.

    Parquet splits at row-group granularity, so a small corpus written as one
    file/row-group arrives as ONE partition and any CPU-heavy per-row stage
    (fingerprinting, signature computation, Arrow-batch scoring) serializes
    onto a single core no matter how many the cluster has. One narrow shuffle
    here decouples compute parallelism from the file layout. At production
    scale inputs arrive in thousands of row-group splits, `getNumPartitions
    >= defaultParallelism` holds, and this is a no-op — it exists for the
    small-file edge, which is also exactly the local-test shape.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # ``df.rdd`` builds the javaToPython conversion plan just to ask the
    # partition count — ~0.1 s of driver work per call. The count of a given
    # (immutable) DataFrame never changes, so memoize it on the object;
    # cached base relations (load_table) then answer instantly on reuse.
    n = getattr(df, "_sg_num_partitions", None)
    if n is None:
        n = df.rdd.getNumPartitions()
        try:
            df._sg_num_partitions = n
        except Exception:  # pragma: no cover - slots/immutability guard
            pass
    if n < target:
        return df.repartition(target)
    return df

