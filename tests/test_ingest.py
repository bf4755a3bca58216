"""CSV ingestion: pinned schema, _rescued_data, incremental file ledger."""

import os

import pytest
from pyspark.sql import functions as F

from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources.csv_ingest import (
    RESCUED_COL,
    CsvIngestor,
    ingest_csv_append,
)


def _write(path, text):
    with open(path, "w") as f:
        f.write(text)


def test_initial_ingest_infers_and_pins_schema(spark, tmp_path):
    src, state = tmp_path / "src", tmp_path / "state"
    src.mkdir()
    _write(src / "a.csv", "id,amount,city\n1, 10.5 ,Austin\n2,20.0,Boston\n")
    ing = CsvIngestor(str(src), str(state))
    res = ing.ingest(spark)
    rows = res.df.orderBy("id").collect()
    assert [r.id for r in rows] == [1, 2]
    assert abs(rows[0].amount - 10.5) < 1e-9  # whitespace trimmed, typed
    assert rows[0].city == "Austin"
    assert all(r[RESCUED_COL] is None for r in rows)
    assert os.path.exists(state / "schema.ddl")


def test_incremental_reads_only_new_files(spark, tmp_path):
    src, state = tmp_path / "src", tmp_path / "state"
    src.mkdir()
    _write(src / "a.csv", "id,amount,city\n1,10.5,Austin\n")
    ing = CsvIngestor(str(src), str(state))
    first = ing.ingest(spark)
    assert len(first.new_files) == 1

    _write(src / "b.csv", "id,amount,city\n2,20.0,Boston\n")
    second = ing.ingest(spark)
    assert len(second.new_files) == 1
    assert second.df.collect()[0].id == 2  # only the new file's rows

    third = ing.ingest(spark)
    assert third.df is None and third.new_files == []


def test_malformed_rows_land_in_rescued_data(spark, tmp_path):
    src, state = tmp_path / "src", tmp_path / "state"
    src.mkdir()
    _write(src / "a.csv", "id,amount\n1,10.5\n2,20.0\n")
    ing = CsvIngestor(str(src), str(state))
    ing.ingest(spark)

    # later file: non-numeric amount does not fit the pinned (int,double) schema
    _write(src / "b.csv", "id,amount\n3,notanumber\n4,40.0\n")
    res = ing.ingest(spark)
    rows = {r.id: r for r in res.df.collect() if r.id is not None}
    assert rows[4][RESCUED_COL] is None
    bad = [r for r in res.df.collect() if r[RESCUED_COL] is not None]
    assert len(bad) == 1 and "notanumber" in bad[0][RESCUED_COL]


def test_append_run_accumulates_parquet(spark, tmp_path):
    src, state, tgt = tmp_path / "src", tmp_path / "state", tmp_path / "bronze"
    src.mkdir()
    _write(src / "a.csv", "id,v\n1,1\n2,2\n")
    n = ingest_csv_append(spark, str(src), str(state), str(tgt))
    assert n == 1
    _write(src / "b.csv", "id,v\n3,3\n")
    n = ingest_csv_append(spark, str(src), str(state), str(tgt))
    assert n == 1
    out = spark.read.parquet(str(tgt))
    assert out.count() == 3
    assert "_ingested_at" in out.columns
    # no-op third run
    assert ingest_csv_append(spark, str(src), str(state), str(tgt)) == 0


def test_failed_append_keeps_files_for_the_next_run(spark, tmp_path):
    """The ledger advances only once the append has landed: an append that
    fails (the target is a plain file) leaves its files unseen, and the
    next run to a good target lands every row."""
    src, state = tmp_path / "src", tmp_path / "state"
    src.mkdir()
    _write(src / "a.csv", "id,v\n1,1\n2,2\n")
    bad = tmp_path / "not_a_dir"
    _write(bad, "occupied")
    with pytest.raises(Exception):
        ingest_csv_append(spark, str(src), str(state), str(bad))

    tgt = tmp_path / "bronze"
    assert ingest_csv_append(spark, str(src), str(state), str(tgt)) == 1
    assert sorted(r.id for r in spark.read.parquet(str(tgt)).collect()) == [1, 2]
    assert ingest_csv_append(spark, str(src), str(state), str(tgt)) == 0


def test_csv_roundtrip_matches_parquet_source(spark, tmp_path):
    """Export a real table to CSV, re-ingest through the Auto-Loader-
    equivalent path, and verify type recovery + content parity."""
    from pyspark.sql import functions as F

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources.loader import (
        load_table,
    )

    from conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders")
    landing = tmp_path / "landing"
    orders.coalesce(2).write.option("header", True).csv(str(landing))
    # CsvIngestor discovers Spark's part-files by .csv suffix
    res = CsvIngestor(str(landing), str(tmp_path / "state")).ingest(spark)
    ingested = res.df

    assert ingested.count() == orders.count()
    types = dict(ingested.dtypes)
    assert types["o_orderkey"] in ("int", "bigint")
    assert types["o_totalprice"] == "double"
    assert types["o_orderdate"] == "timestamp"
    # content checksum parity on a stable projection
    def checksum(df):
        return (
            df.select(
                F.sum(F.col("o_orderkey")).alias("k"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2).alias("v"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
        )

    assert checksum(ingested.select(orders.columns)) == checksum(orders)
    # rescued-column scans must reference a data column too (Spark forbids
    # corrupt-record-only queries over raw CSV)
    bad = ingested.agg(
        F.sum(F.when(F.col(RESCUED_COL).isNotNull(), 1).otherwise(0)).alias("bad"),
        F.count("o_orderkey").alias("n"),
    ).collect()[0]
    assert bad.bad == 0


def test_jsonl_incremental_ingest_with_rescue(spark, tmp_path):
    """JSONL: infer-once-then-pin, ledger-based incremental discovery, and
    malformed/mismatched rows rescued into _rescued_data."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources.json_ingest import (
        JsonlIngestor,
    )

    src = tmp_path / "landing"
    state = tmp_path / "state"
    src.mkdir()
    (src / "a.jsonl").write_text(
        '{"id": 1, "name": "x", "score": 1.5}\n{"id": 2, "name": "y", "score": 2.0}\n'
    )
    ing = JsonlIngestor(str(src), str(state))
    r1 = ing.ingest(spark)
    assert len(r1.new_files) == 1
    got1 = r1.df.collect()
    assert {r.id: r.name for r in got1} == {1: "x", 2: "y"}
    # (filtering on the corrupt-record column alone is disallowed on raw
    # JSON scans — inspect the collected rows instead)
    assert all(r._rescued_data is None for r in got1)

    # no new files -> no-op run
    assert ing.ingest(spark).df is None

    # second drop: one good row, one malformed line -> rescued
    (src / "b.jsonl").write_text('{"id": 3, "name": "z", "score": 3.0}\nnot-json-at-all\n')
    r2 = ing.ingest(spark)
    assert len(r2.new_files) == 1
    got = r2.df.collect()
    assert {r.id for r in got if r.id is not None} == {3}
    rescued = [r for r in got if r._rescued_data is not None]
    assert len(rescued) == 1 and "not-json-at-all" in rescued[0]._rescued_data


def test_jsonl_append_run(spark, tmp_path):
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources.json_ingest import (
        JsonlIngestor,
    )

    src = tmp_path / "landing"
    state = tmp_path / "state"
    tgt = tmp_path / "bronze_tbl"
    src.mkdir()

    def run():
        return JsonlIngestor(str(src), str(state)).append(spark, str(tgt))

    (src / "a.jsonl").write_text('{"k": 1}\n{"k": 2}\n')
    assert run() == 1
    (src / "b.jsonl").write_text('{"k": 3}\n')
    assert run() == 1
    assert run() == 0
    df = spark.read.parquet(str(tgt))
    assert sorted(r.k for r in df.collect()) == [1, 2, 3]
    assert "_ingested_at" in df.columns


def test_schema_evolution_adds_new_columns(spark, tmp_path):
    """addNewColumns mode: a later file's never-seen column is appended to
    the pinned schema; earlier-shape files in the same run yield NULLs."""
    src, state = tmp_path / "src", tmp_path / "state"
    src.mkdir()
    _write(src / "a.csv", "id,amount\n1,10.5\n")
    ing = CsvIngestor(str(src), str(state), schema_evolution="add_new_columns")
    first = ing.ingest(spark)
    assert sorted(first.df.columns) == ["_rescued_data", "amount", "id"]

    _write(src / "b.csv", "id,amount,city\n2,20.0,Boston\n")
    _write(src / "c.csv", "id,amount\n3,30.0\n")  # old shape, same run
    second = ing.ingest(spark)
    rows = {r.id: r for r in second.df.collect()}
    assert sorted(second.df.columns) == ["_rescued_data", "amount", "city", "id"]
    assert rows[2].city == "Boston"
    assert rows[3].city is None
    # pinned schema file evolved on disk
    with open(state / "schema.ddl") as f:
        assert "city" in f.read()


def test_schema_evolution_maps_reordered_columns_by_name(spark, tmp_path):
    src, state = tmp_path / "src", tmp_path / "state"
    src.mkdir()
    _write(src / "a.csv", "id,amount,city\n1,10.5,Austin\n")
    ing = CsvIngestor(str(src), str(state), schema_evolution="add_new_columns")
    ing.ingest(spark)
    _write(src / "b.csv", "city,id,amount\nBoston,2,20.0\n")  # reordered
    res = ing.ingest(spark)
    r = res.df.collect()[0]
    assert (r.id, r.city) == (2, "Boston")
    assert abs(r.amount - 20.0) < 1e-9


def test_schema_evolution_keeps_pinned_types(spark, tmp_path):
    """Existing columns never change type; unparsable rows still rescue."""
    src, state = tmp_path / "src", tmp_path / "state"
    src.mkdir()
    _write(src / "a.csv", "id,amount\n1,10.5\n")
    ing = CsvIngestor(str(src), str(state), schema_evolution="add_new_columns")
    ing.ingest(spark)
    _write(src / "b.csv", "id,amount\n2,not-a-number\n")
    res = ing.ingest(spark)
    r = res.df.collect()[0]
    assert r.amount is None and r[RESCUED_COL] is not None


def test_directory_layout_tables_load_and_stream(spark, tmp_path):
    """Engine tables written by Spark arrive as directories of part files —
    load_table must probe footers through the directory, must NOT apply the
    nanos fixup to INT96/µs timestamp columns, and the events file-stream
    must stream the table directory (a single-file pathGlobFilter would
    silently match zero part files)."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
        _stream_events,
        q_streaming_window_agg,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources.loader import (
        load_table,
    )

    from conftest import SF_SMALL

    sf_dir = str(tmp_path)
    for tbl in ("events", "orders"):
        load_table(spark, SF_SMALL, tbl).write.parquet(f"{sf_dir}/{tbl}.parquet")

    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.count() == load_table(spark, SF_SMALL, "events").count()
    orders = load_table(spark, sf_dir, "orders")
    assert dict(orders.dtypes)["o_orderdate"] == "timestamp"
    # values survive the round trip unchanged (no spurious div-1000)
    a = sorted(r[0] for r in load_table(spark, SF_SMALL, "orders").select("o_orderdate").limit(5).collect())
    b = sorted(r[0] for r in orders.select("o_orderdate").limit(5).collect())
    assert min(a) == min(b)

    stream = _stream_events(spark, sf_dir)
    assert stream.isStreaming and dict(stream.dtypes)["ts"] == "timestamp"
    agg = q_streaming_window_agg(spark, sf_dir)
    assert agg.count() > 0
