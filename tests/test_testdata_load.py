"""Regression: the REAL driver testdata parquet must load clean.

Round-1 failure mode: the driver's parquet stores naive ``timestamp[us]``
columns, which Spark 4 infers as TIMESTAMP_NTZ — ``withWatermark`` and
unix-time casts then throw. These tests load the actual /root/testdata
files (NOT Spark-written fixtures, which come out UTC-adjusted) through
every batch and streaming entry point that touches event time.
"""

import pytest

from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
    _stream_events,
)
from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources.loader import (
    TABLES,
    load_table,
)

SF_SMALL = "/root/testdata/sf0.001"


def test_no_ntz_survives_load_table(spark):
    for t in TABLES:
        df = load_table(spark, SF_SMALL, t)
        ntz = [f.name for f in df.schema.fields if "ntz" in f.dataType.simpleString()]
        assert not ntz, f"{t}: TIMESTAMP_NTZ leaked through load_table: {ntz}"


def test_stream_events_ts_is_timestamp(spark):
    stream = _stream_events(spark, SF_SMALL)
    assert dict(stream.dtypes)["ts"] == "timestamp"


def test_watermark_accepts_real_testdata_stream(spark):
    # withWatermark is exactly the call that blew up on NTZ in round 1.
    _stream_events(spark, SF_SMALL).withWatermark("ts", "1 hour")


@pytest.mark.parametrize(
    "qname",
    [
        "streaming_window_agg",
        "streaming_sliding_agg",
        "streaming_sessionize",
        "streaming_dedup",
        "streaming_stream_join",
        "streaming_distinct_users",
        "range_join",
    ],
)
def test_round1_ntz_casualties_run_on_real_testdata(spark, qname):
    import __spark_entry__ as entry

    df = entry.queries()[qname](spark, SF_SMALL)
    assert df.count() >= 0


def test_load_table_sees_same_second_overwrite(spark, tmp_path):
    """A table rewritten within the same second, closer than a float mtime
    can tell apart, must be re-resolved rather than served from the
    relation cache."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "region.parquet"
    second = 1_700_000_000 * 10**9
    pq.write_table(pa.table({"a": [1, 2]}), path)
    os.utime(path, ns=(second, second))
    assert load_table(spark, str(tmp_path), "region").columns == ["a"]

    pq.write_table(pa.table({"a": [1, 2, 3], "b": [4, 5, 6]}), path)
    os.utime(path, ns=(second + 1, second + 1))
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["a", "b"]
    assert df.count() == 3
