"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` but every default here is chosen to also be
the right call on a 1000-executor cluster reading 100 TB. The builder holds
only launch-time confs (master, driver memory and JVM options, the initial
shuffle width, the UI switch). The runtime SQL confs — AQE, Arrow, the UTC
session timezone, nanos-as-long parquet reads — are the engine's session
contract, defined once in tuning.py and applied by ``tune_session`` after
the session exists, the same call every catalog query makes on entry.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .tuning import tune_session


def get_spark(app_name: str = "medallion-engine", extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    On a real cluster the ``master`` is supplied externally and the
    local[] default is ignored by spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # A 150-query session generates thousands of whole-stage-codegen
        # classes; the JDK17 default 240 MB code cache fills mid-session,
        # the JIT stops compiling, and LATE queries run partially
        # interpreted (the r04 "TPC-H block 1.3-1.5x at position 120+"
        # drift). Double the cache and let the sweeper evict cold code.
        # Applies at driver-JVM launch (first session in the process);
        # harmless no-op via getOrCreate on an already-running JVM.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing",
        )
    )
    if not os.environ.get("SPARK_MASTER_OVERRIDE"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = tune_session(builder.getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    return spark
