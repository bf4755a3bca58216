"""Incremental streaming runner: availableNow + checkpoint exactly-once."""

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL

from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.incremental import (
    dedup_stream,
    run_incremental,
    run_to_memory,
    stream_source,
    windowed_event_counts,
)


def _drop(spark, rows, path, schema="id int, v double, ts timestamp"):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)


def test_available_now_processes_each_file_once(spark, tmp_path):
    src = str(tmp_path / "landing")
    tgt = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    _drop(spark, [(1, 1.0, t0), (2, 2.0, t0)], src)
    stream = stream_source(spark, src)
    run_incremental(stream, tgt, ckpt)
    assert spark.read.parquet(tgt).count() == 2

    # second run with one new file: only its rows are appended
    _drop(spark, [(3, 3.0, t0)], src)
    run_incremental(stream_source(spark, src), tgt, ckpt)
    out = spark.read.parquet(tgt)
    assert out.count() == 3
    assert sorted(r.id for r in out.collect()) == [1, 2, 3]

    # no new files → no new rows
    run_incremental(stream_source(spark, src), tgt, ckpt)
    assert spark.read.parquet(tgt).count() == 3


def test_sink_log_suppresses_replayed_batch_after_checkpoint_loss(spark, tmp_path):
    src = str(tmp_path / "landing")
    tgt = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    _drop(spark, [(1, 1.0, t0)], src)
    run_incremental(stream_source(spark, src), tgt, ckpt)
    shutil.rmtree(ckpt)
    # fresh checkpoint restarts at batch 0, but the file sink's own
    # _spark_metadata transaction log already has a committed batch 0 →
    # the replay is suppressed and the sink stays exactly-once.
    run_incremental(stream_source(spark, src), tgt, str(tmp_path / "ckpt2"))
    assert spark.read.parquet(tgt).count() == 1


def test_dedup_stream_drops_in_batch_duplicates(spark, tmp_path):
    src = str(tmp_path / "landing")
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    _drop(
        spark,
        [(1, 1.0, t0), (1, 99.0, t0 + dt.timedelta(minutes=5)), (2, 2.0, t0)],
        src,
    )
    deduped = dedup_stream(stream_source(spark, src), ["id"], watermark="1 hour")
    out = run_to_memory(deduped, "mem_test_dedup")
    assert sorted(r.id for r in out.collect()) == [1, 2]


def test_watermark_advances_across_microbatches_and_gates_emission(spark, tmp_path):
    """maxFilesPerTrigger=1 splits the run into one microbatch per file; the
    watermark advances batch-over-batch, and append mode emits exactly the
    windows the final watermark has passed — windows still open at end-of-
    input are withheld (why the oracle-checked queries use complete mode)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.incremental import (
        run_to_memory,
        stream_source,
        windowed_event_counts,
    )

    src = tmp_path / "landing"
    src.mkdir()

    def write(name, rows, mtime):
        tbl = pa.table(
            {
                # tz-aware → Spark TimestampType (NTZ is rejected by watermarks)
                "ts": pa.array([r[0] for r in rows], pa.timestamp("us", tz="UTC")),
                "event_type": [r[1] for r in rows],
                "value": [r[2] for r in rows],
            }
        )
        path = src / name
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    t = dt.datetime(2024, 1, 1, 10, 0)
    h = dt.timedelta
    # batch 1: two events in the 10:00 window → watermark advances to 09:40
    write("f1.parquet", [(t, "click", 1.0), (t + h(minutes=10), "click", 2.0)], 1_000_000)
    # batch 2: one late event (08:30 < watermark) + one fresh event at 12:00
    write(
        "f2.parquet",
        [(t - h(minutes=90), "click", 99.0), (t + h(hours=2), "click", 4.0)],
        1_000_100,
    )

    stream = stream_source(spark, str(src), max_files_per_trigger=1)
    agg = windowed_event_counts(stream, window="1 hour", watermark="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("mem_late_data")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # one microbatch per file (plus the final flush batch), watermark rising
    marks = [p["eventTime"].get("watermark") for p in q.recentProgress]
    assert len(marks) >= 3
    assert marks[1] == "2024-01-01T09:40:00.000Z"  # 10:10 − 30 min after batch 0
    assert marks[2] == "2024-01-01T11:30:00.000Z"  # 12:00 − 30 min after batch 1

    emitted = {r.window_start: (r.n_events, r.total_value) for r in spark.table("mem_late_data").collect()}
    # finalized windows: 10:00 (batch-0 rows) and the late row's 08:00 window
    # (Spark guarantees state EVICTION at the watermark, not input drop —
    # rows later than the watermark MAY still be aggregated)
    assert emitted[t] == (2, 3.0)
    # the 12:00 window is still open at end-of-input → withheld in append mode
    assert t + h(hours=2) not in emitted


def test_run_to_memory_keeps_finalization_batch_for_append_aggregation(spark):
    """run_to_memory turns no-data microbatches off unless the output can
    wait on one. An append-mode window aggregation emits its windows only
    once the watermark passes, so its rows must equal a run with no-data
    batches on (dropping that batch emits nothing at all here)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
        _stream_events,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.incremental import (
        _needs_no_data_batches,
        stream_interval_join,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.stateful import (
        running_user_totals,
    )

    agg = windowed_event_counts(_stream_events(spark, SF_SMALL))
    got = run_to_memory(agg, "mem_append_window_rule", output_mode="append").collect()

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        q = (
            windowed_event_counts(_stream_events(spark, SF_SMALL))
            .writeStream.format("memory")
            .queryName("mem_append_window_nodata")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(key, prev)
    want = spark.table("mem_append_window_nodata").collect()
    assert want
    assert sorted(got) == sorted(want)

    ev = _stream_events(spark, SF_SMALL)
    assert not _needs_no_data_batches(agg, "complete")
    assert not _needs_no_data_batches(dedup_stream(ev, ["user_id"]), "append")
    assert not _needs_no_data_batches(running_user_totals(ev), "append")
    timed = (
        ev.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            lambda key, pdfs, state: iter(()),
            outputStructType="user_id long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    assert _needs_no_data_batches(timed, "update")  # timers fire in no-data batches
    left = ev.select(F.col("ts").alias("lts"), F.col("user_id").alias("lu"))
    right = _stream_events(spark, SF_SMALL).select("ts", "user_id")
    cond = (F.col("lu") == F.col("user_id")) & F.col("lts").between(
        F.col("ts") - F.expr("INTERVAL 1 HOUR"), F.col("ts")
    )
    assert _needs_no_data_batches(
        stream_interval_join(left, right, cond, "lts", "ts", how="left"), "append"
    )
    assert not _needs_no_data_batches(
        stream_interval_join(left, right, cond, "lts", "ts"), "append"
    )


def test_foreach_batch_expectations_warn_drop_per_microbatch(spark, tmp_path):
    """maxFilesPerTrigger=1 → one microbatch per file; warn metrics recorded
    per batch, drop rows filtered from the sink, nothing computed twice."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.plans.expectations import (
        DROP,
        WARN,
        Expectation,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.incremental import (
        run_incremental_with_expectations,
        stream_source,
    )

    src, tgt, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    _drop(spark, [(1, 5.0, dt.datetime(2024, 1, 1, 0, 0)), (2, -1.0, dt.datetime(2024, 1, 1, 0, 1))], src)
    _drop(spark, [(3, -2.0, dt.datetime(2024, 1, 1, 0, 2)), (4, 7.0, dt.datetime(2024, 1, 1, 0, 3))], src)
    exps = [
        Expectation("v_not_null", "v IS NOT NULL", WARN),
        Expectation("v_positive", "v >= 0", DROP),
    ]
    metrics = run_incremental_with_expectations(
        stream_source(spark, src, max_files_per_trigger=1), tgt, ckpt, exps
    )
    assert len(metrics) == 2  # one entry per microbatch
    assert all(m["v_not_null"] == 0 for m in metrics)
    kept = {r.id for r in spark.read.parquet(tgt).collect()}
    assert kept == {1, 4}  # negative-v rows dropped in their own batches


def test_stream_warn_counts_equal_metrics_over_written_rows(spark, tmp_path):
    """Each microbatch's warn counts ride its append, so they equal
    expectation_metrics over the rows that batch wrote: a row that violates
    both the warn and the drop expectation is dropped and not counted."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.plans.expectations import (
        DROP,
        WARN,
        Expectation,
        expectation_metrics,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.incremental import (
        run_incremental_with_expectations,
    )

    src, tgt, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    schema = "id int, v double, w int, f int"
    _drop(spark, [(1, 1.0, None, 0), (2, -1.0, None, 0), (3, 2.0, 7, 0)], src, schema)
    _drop(spark, [(4, 1.0, None, 1), (5, 3.0, None, 1)], src, schema)
    _drop(spark, [(6, -2.0, 1, 2), (7, 4.0, 2, 2)], src, schema)
    warns = [Expectation("w_not_null", "w IS NOT NULL", WARN)]
    exps = warns + [Expectation("v_non_negative", "v >= 0", DROP)]
    metrics = run_incremental_with_expectations(
        stream_source(spark, src, max_files_per_trigger=1), tgt, ckpt, exps
    )
    written = spark.read.parquet(tgt)
    assert sorted(r.id for r in written.collect()) == [1, 3, 4, 5, 7]
    got = sorted(m["w_not_null"] for m in metrics)
    want = sorted(
        expectation_metrics(written.filter(F.col("f") == f), warns)["w_not_null"]
        for f in (0, 1, 2)
    )
    assert got == want == [0, 1, 2]


def test_foreach_batch_fail_expectation_aborts_stream(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.plans.expectations import (
        FAIL,
        Expectation,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.incremental import (
        run_incremental_with_expectations,
        stream_source,
    )

    src, tgt, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    _drop(spark, [(1, -5.0, dt.datetime(2024, 1, 1, 0, 0))], src)
    with pytest.raises(StreamingQueryException, match="v_positive"):
        run_incremental_with_expectations(
            stream_source(spark, src), tgt, ckpt,
            [Expectation("v_positive", "v >= 0", FAIL)],
        )


def test_sliding_windows_overlap(spark, tmp_path):
    """An event at :45 belongs to the [:00,1:00) and [:30,1:30) windows."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.incremental import (
        run_to_memory,
        sliding_event_counts,
        stream_source,
    )

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "click", 2.0, "2024-01-01 00:45:00")],
        "event_id int, event_type string, value double, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(src)
    agg = sliding_event_counts(stream_source(spark, src))
    out = run_to_memory(agg, "mem_t_sliding", output_mode="complete").collect()
    starts = sorted(str(r.window_start) for r in out)
    assert starts == ["2024-01-01 00:00:00", "2024-01-01 00:30:00"]


def test_cdc_apply_latest_per_key_wins_and_versions_commit(spark, tmp_path):
    """Streaming CDC apply: per-batch latest-per-key collapse, MERGE into a
    versioned snapshot, atomic pointer flip, incremental across runs."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.cdc import (
        current_version,
        read_current,
        run_cdc_apply,
        vacuum_versions,
    )

    src = str(tmp_path / "changes")
    tbl = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(tbl, exist_ok=True)
    t = dt.datetime(2024, 1, 1)

    # batch 1: two keys, key 1 updated twice IN the batch — seq 2 must win
    _drop(
        spark,
        [(1, 10.0, t), (1, 11.0, t + dt.timedelta(seconds=1)), (2, 20.0, t)],
        src,
    )
    run_cdc_apply(stream_source(spark, src), tbl, ckpt, keys=["id"], sequence_by="ts")
    cur = {r.id: r.v for r in read_current(spark, tbl).collect()}
    assert cur == {1: 11.0, 2: 20.0}
    assert current_version(tbl) == 1

    # batch 2: update key 2, insert key 3; key 1 untouched
    _drop(spark, [(2, 21.0, t + dt.timedelta(hours=1)), (3, 30.0, t)], src)
    run_cdc_apply(stream_source(spark, src), tbl, ckpt, keys=["id"], sequence_by="ts")
    cur = {r.id: r.v for r in read_current(spark, tbl).collect()}
    assert cur == {1: 11.0, 2: 21.0, 3: 30.0}
    assert current_version(tbl) == 2

    # no new files → no new version
    run_cdc_apply(stream_source(spark, src), tbl, ckpt, keys=["id"], sequence_by="ts")
    assert current_version(tbl) == 2

    # old snapshots remain readable (time travel) until vacuumed
    v1 = spark.read.parquet(os.path.join(tbl, "v=1"))
    assert {r.id: r.v for r in v1.collect()} == {1: 11.0, 2: 20.0}
    assert vacuum_versions(tbl, keep=1) == [1]
    assert not os.path.exists(os.path.join(tbl, "v=1"))
    assert read_current(spark, tbl).count() == 3


def test_incremental_mv_matches_full_recompute_across_batches(spark, tmp_path):
    """Enzyme-analog MV maintenance: after each incremental fold, the MV
    must equal a full groupBy recompute over everything ingested so far —
    bit-identical (decimal state), across multiple runs and microbatches."""
    import datetime as dt

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.cdc import (
        current_version,
        read_meta,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.incremental_mv import (
        maintain_aggregate_mv,
        read_mv,
    )

    src = str(tmp_path / "landing")
    mv = str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1)

    def full(df):
        return {
            (r.id,): (r.n_rows, r.sum_value_d, r.min_value, r.max_value, r.avg_value)
            for r in df.collect()
        }

    seen = []

    def check():
        got = read_mv(spark, mv)
        raw = spark.createDataFrame(seen, "id int, v double, ts timestamp")
        from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.incremental_agg import (
            aggregate_state,
            finalize,
        )

        want = finalize(aggregate_state(raw, ["id"], "v"))
        assert full(got) == full(want)

    rows1 = [(1, 1.5, t0), (1, 2.5, t0), (2, 10.0, t0)]
    _drop(spark, rows1, src)
    seen.extend(rows1)
    maintain_aggregate_mv(stream_source(spark, src), mv, ckpt, ["id"], "v")
    check()
    v1, b1 = current_version(mv), read_meta(mv)["batch_id"]
    assert v1 == 1

    # two more files in one run → may fold as one or two microbatches
    rows2 = [(2, -4.0, t0), (3, 7.0, t0)]
    rows3 = [(1, 100.0, t0)]
    _drop(spark, rows2, src)
    _drop(spark, rows3, src)
    seen.extend(rows2 + rows3)
    maintain_aggregate_mv(stream_source(spark, src), mv, ckpt, ["id"], "v")
    check()
    v2, b2 = current_version(mv), read_meta(mv)["batch_id"]
    assert v2 > v1 and b2 > b1

    # idle run: no new files → no new state version
    maintain_aggregate_mv(stream_source(spark, src), mv, ckpt, ["id"], "v")
    assert current_version(mv) == v2


def test_incremental_mv_replay_guard_skips_duplicate_batch(spark, tmp_path):
    """Redelivering an already-folded batch id must be a no-op (merge is not
    content-idempotent, so the pointer's batch id is the guard)."""
    import datetime as dt

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.cdc import (
        current_version,
        read_meta,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.incremental_mv import (
        read_mv,
        refresh_increment,
    )

    mv = str(tmp_path / "mv")
    batch = spark.createDataFrame(
        [(1, 5.0, dt.datetime(2024, 1, 1))], "id int, v double, ts timestamp"
    )
    assert refresh_increment(spark, batch, mv, ["id"], "v", batch_id=0)
    assert not refresh_increment(spark, batch, mv, ["id"], "v", batch_id=0)
    r = read_mv(spark, mv).collect()[0]
    assert (r.n_rows, r.sum_value_d) == (1, 5.0)
    assert (current_version(mv), read_meta(mv)["batch_id"]) == (1, 0)


def test_incremental_mv_crash_redelivery_vs_reset_checkpoint(spark, tmp_path):
    """The two applied=0 skip shapes must be told apart: redelivery of
    exactly the head's batch (crash between the MV commit and the
    checkpoint commit) passes quietly and counts the rows once, while a
    checkpoint reset (ids replaying BELOW the head's) raises."""
    import datetime as dt
    import shutil

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.incremental_mv import (
        maintain_aggregate_mv,
        read_mv,
        refresh_increment,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.cdc import read_meta

    src = str(tmp_path / "landing")
    mv = str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1)

    _drop(spark, [(1, 2.0, t0), (2, 3.0, t0)], src)
    maintain_aggregate_mv(stream_source(spark, src), mv, ckpt, ["id"], "v")
    b = read_meta(mv)["batch_id"]

    # the crash window: batch b+1 folded into the MV, but the checkpoint
    # never committed it — the next run redelivers those same rows under
    # the same id, refresh_increment skips them, and the run must NOT raise
    rows = [(1, 10.0, t0)]
    _drop(spark, rows, src)
    batch = spark.createDataFrame(rows, "id int, v double, ts timestamp")
    assert refresh_increment(spark, batch, mv, ["id"], "v", batch_id=b + 1)
    maintain_aggregate_mv(stream_source(spark, src), mv, ckpt, ["id"], "v")
    assert read_meta(mv)["batch_id"] == b + 1
    got = {r.id: (r.n_rows, r.sum_value_d) for r in read_mv(spark, mv).collect()}
    assert got == {1: (2, 12.0), 2: (1, 3.0)}  # the redelivered rows count once

    # genuine reset: checkpoint wiped while mv persists → replayed ids are
    # below the head's → loud failure, not a silently frozen MV
    shutil.rmtree(ckpt)
    _drop(spark, [(3, 4.0, t0)], src)
    with pytest.raises(RuntimeError, match="reset"):
        maintain_aggregate_mv(stream_source(spark, src), mv, ckpt, ["id"], "v")


def test_incremental_mv_state_is_a_versioned_snapshot_table(spark, tmp_path):
    """MV state commits through the CDC snapshot protocol: the cdc reader
    sees the MV's head version and reads the same state as read_state."""
    import datetime as dt

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.cdc import (
        current_version,
        read_current,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.incremental_mv import (
        maintain_aggregate_mv,
        read_state,
    )

    src = str(tmp_path / "landing")
    mv = str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1)
    _drop(spark, [(1, 2.0, t0), (2, 3.0, t0)], src)
    maintain_aggregate_mv(stream_source(spark, src), mv, ckpt, ["id"], "v")
    _drop(spark, [(1, 5.0, t0)], src)
    maintain_aggregate_mv(stream_source(spark, src), mv, ckpt, ["id"], "v")

    assert current_version(mv) == 2
    via_cdc = read_current(spark, mv)
    assert via_cdc is not None
    assert sorted(via_cdc.collect()) == sorted(read_state(spark, mv).collect())


def test_incremental_mv_orphan_is_repaired_and_batch_counted_once(
    spark, tmp_path, monkeypatch
):
    """A fold that claims v=2 but dies before the pointer flip leaves an
    orphan snapshot carrying its batch id. Redelivering that batch id
    repairs the pointer and skips the fold: the batch is counted once."""
    import datetime as dt

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming import cdc
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.incremental_mv import (
        read_mv,
        refresh_increment,
    )

    mv = str(tmp_path / "mv")
    sch = "id int, v double, ts timestamp"
    t0 = dt.datetime(2024, 1, 1)
    assert refresh_increment(
        spark, spark.createDataFrame([(1, 1.0, t0)], sch), mv, ["id"], "v", batch_id=0
    )
    batch = spark.createDataFrame([(1, 5.0, t0)], sch)

    real_advance = cdc._advance_pointer

    def crash(table_path, version):
        monkeypatch.setattr(cdc, "_advance_pointer", real_advance)
        raise RuntimeError("writer died before the pointer flip")

    monkeypatch.setattr(cdc, "_advance_pointer", crash)
    with pytest.raises(RuntimeError, match="pointer flip"):
        refresh_increment(spark, batch, mv, ["id"], "v", batch_id=1)
    assert cdc.current_version(mv) == 1
    assert os.path.exists(os.path.join(mv, "v=2", "_SUCCESS"))

    assert not refresh_increment(spark, batch, mv, ["id"], "v", batch_id=1)
    assert cdc.current_version(mv) == 2
    assert cdc.read_meta(mv)["batch_id"] == 1
    r = read_mv(spark, mv).collect()[0]
    assert (r.n_rows, r.sum_value_d) == (2, 6.0)


def test_incremental_mv_reset_raises_even_when_later_batches_applied(spark, tmp_path):
    """ADVICE regression: a reset checkpoint can split old+new files across
    MORE batches than the stored mark — old files then replay under ids
    ABOVE the mark, pass the id guard, and re-fold into the MV
    (double-counting), while applied>0 used to suppress the error. Any
    observed reset skip must now raise regardless of the applied count.

    Shape: one original batch folds files A+B (mark=0, fingerprint of
    A+B). After the reset, maxFilesPerTrigger=1 replays A as batch 0
    (id==mark, fingerprint differs → reset skip), then B as batch 1
    (id>mark → APPLIES, double-counting B) — the run must fail loudly."""
    import datetime as dt
    import shutil

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.incremental_mv import (
        maintain_aggregate_mv,
        read_mv,
    )

    src = str(tmp_path / "landing")
    mv = str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1)

    _drop(spark, [(1, 2.0, t0)], src)   # file A
    _drop(spark, [(2, 3.0, t0)], src)   # file B
    maintain_aggregate_mv(stream_source(spark, src), mv, ckpt, ["id"], "v")
    assert read_mv(spark, mv).count() == 2

    shutil.rmtree(ckpt)
    _drop(spark, [(3, 4.0, t0)], src)   # file C (genuinely new)
    with pytest.raises(RuntimeError, match="reset"):
        maintain_aggregate_mv(
            stream_source(spark, src, max_files_per_trigger=1),
            mv, ckpt, ["id"], "v",
        )


def test_cdc_apply_stale_late_batch_cannot_overwrite(spark, tmp_path):
    """A change with an OLDER sequence delivered in a LATER batch must not
    clobber the newer stored row (the sequence comparison covers the
    snapshot, not just the batch), and NULL-key rows are dropped."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.cdc import (
        apply_changes_batch,
        read_current,
    )

    table = str(tmp_path / "tbl")
    b1 = spark.createDataFrame([(1, 10, "new"), (2, 10, "x")], ["k", "seq", "v"])
    apply_changes_batch(spark, b1, table, ["k"], "seq")
    # late batch: key 1 with an OLDER sequence, plus a malformed null key
    b2 = spark.createDataFrame(
        [(1, 5, "stale"), (None, 99, "junk"), (2, 20, "y")],
        "k int, seq int, v string",
    )
    apply_changes_batch(spark, b2, table, ["k"], "seq")
    snap = {r["k"]: (r["seq"], r["v"]) for r in read_current(spark, table).collect()}
    assert snap[1] == (10, "new")   # stale change rejected
    assert snap[2] == (20, "y")     # newer change applied
    assert None not in snap and len(snap) == 2  # null key dropped


def test_incremental_mv_reset_after_single_batch_raises(spark, tmp_path):
    """Review regression: a checkpoint reset after exactly ONE applied
    batch restarts ids at the stored mark itself (0), so the id-only guard
    classified it as benign redelivery and froze the MV silently. The
    stored content fingerprint now catches it: reset batch 0 re-reads ALL
    files (old + new), its aggregate-state fingerprint differs, and the
    run raises. True crash redelivery (same content) still passes quietly."""
    import datetime as dt
    import shutil

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.incremental_mv import (
        maintain_aggregate_mv,
        read_mv,
    )

    src = str(tmp_path / "landing")
    mv = str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1)

    _drop(spark, [(1, 2.0, t0), (2, 3.0, t0)], src)
    maintain_aggregate_mv(stream_source(spark, src), mv, ckpt, ["id"], "v")
    assert read_mv(spark, mv).count() == 2

    # reset the checkpoint while the MV persists, land NEW data: the fresh
    # stream's batch 0 == stored mark 0 but contains old+new files
    shutil.rmtree(ckpt)
    _drop(spark, [(3, 4.0, t0)], src)
    with pytest.raises(RuntimeError, match="reset"):
        maintain_aggregate_mv(stream_source(spark, src), mv, ckpt, ["id"], "v")


def test_cdc_concurrent_writers_neither_batch_lost(spark, tmp_path):
    """Two writers racing the same head: the v=N+1 slot claim (atomic
    directory rename) admits exactly one; the loser recomputes its merge
    on the winner's snapshot and lands at v=N+2. BOTH batches survive —
    strictly stronger than last-writer-wins, whose failure mode here would
    be a silently lost batch."""
    import threading

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.cdc import (
        apply_changes_batch,
        current_version,
        read_current,
    )

    tbl = str(tmp_path / "table")
    os.makedirs(tbl)
    t = dt.datetime(2024, 1, 1)
    sch = "id int, v double, ts timestamp"
    b1 = spark.createDataFrame([(1, 10.0, t), (2, 20.0, t)], sch)
    b2 = spark.createDataFrame(
        [(2, 21.0, t + dt.timedelta(seconds=1)), (3, 30.0, t)], sch
    )

    barrier = threading.Barrier(2)
    errs = []

    def run(b):
        try:
            barrier.wait()
            apply_changes_batch(spark, b, tbl, ["id"], "ts")
        except Exception as exc:  # pragma: no cover - surfaced via assert
            errs.append(exc)

    threads = [threading.Thread(target=run, args=(b,)) for b in (b1, b2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []

    # two commits landed (v=1 then v=2), whichever order the race resolved
    assert current_version(tbl) == 2
    cur = {r.id: r.v for r in read_current(spark, tbl).collect()}
    # key 2 overlaps: sequence_by (not commit order) decides — 21.0 is newer
    assert cur == {1: 10.0, 2: 21.0, 3: 30.0}
    # the loser's failed claim cleaned its staging directory
    assert [d for d in os.listdir(tbl) if d.startswith(".staging-")] == []


def test_cdc_crash_between_claim_and_flip_is_repaired(spark, tmp_path):
    """A writer that dies after claiming v=1 but before the pointer flip
    leaves a complete _SUCCESS-marked snapshot the pointer doesn't name.
    The next writer loses its own v=1 claim, repairs the pointer forward,
    and merges ON TOP of the orphan's rows — nothing is lost or stuck."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.cdc import (
        apply_changes_batch,
        current_version,
        read_current,
    )

    tbl = str(tmp_path / "table")
    os.makedirs(tbl)
    t = dt.datetime(2024, 1, 1)
    sch = "id int, v double, ts timestamp"

    # build the orphan exactly as a crashed writer would: full staging
    # write, slot claimed by rename, NO pointer flip
    staging = os.path.join(tbl, ".staging-crashed")
    spark.createDataFrame([(1, 10.0, t)], sch).write.parquet(staging)
    os.rename(staging, os.path.join(tbl, "v=1"))
    assert current_version(tbl) == 0  # pointer never advanced

    apply_changes_batch(
        spark, spark.createDataFrame([(2, 20.0, t)], sch), tbl, ["id"], "ts"
    )
    assert current_version(tbl) == 2
    cur = {r.id: r.v for r in read_current(spark, tbl).collect()}
    assert cur == {1: 10.0, 2: 20.0}


def test_cdc_pointer_is_monotonic_and_vacuum_sweeps_staging(spark, tmp_path):
    """The flocked pointer flip refuses to move backwards (a slow v=1
    winner racing an already-landed v=2 cannot regress the head), and
    vacuum_versions sweeps crashed writers' .staging-* leftovers."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.cdc import (
        _advance_pointer,
        apply_changes_batch,
        current_version,
        vacuum_versions,
    )

    tbl = str(tmp_path / "table")
    os.makedirs(tbl)
    t = dt.datetime(2024, 1, 1)
    sch = "id int, v double, ts timestamp"
    apply_changes_batch(spark, spark.createDataFrame([(1, 1.0, t)], sch), tbl, ["id"], "ts")
    apply_changes_batch(spark, spark.createDataFrame([(2, 2.0, t)], sch), tbl, ["id"], "ts")
    assert current_version(tbl) == 2
    _advance_pointer(tbl, 1)  # late/duplicate flip from the v=1 writer
    assert current_version(tbl) == 2

    # a crashed pre-claim writer leaves staging; vacuum sweeps it
    os.makedirs(os.path.join(tbl, ".staging-dead-writer"))
    vacuum_versions(tbl, keep=2)
    assert not os.path.exists(os.path.join(tbl, ".staging-dead-writer"))
    assert os.path.exists(os.path.join(tbl, "v=2"))
