"""Custom stateful streaming operators (``applyInPandasWithState``).

The reference needs no custom state (its only stateful op is stream dedup,
SURVEY.md §2.8), but a training-data pipeline at 100 TB does — e.g. running
per-user counters that survive across microbatches. This module shows the
engine's pattern for operators Spark's built-ins can't express: grouped,
Arrow-batched Python state functions via ``applyInPandasWithState``
(SURVEY.md §7 / task brief: custom stateful operators).

Scale notes: state lives in the executor state store, partitioned by the
grouping key — the driver never sees rows. Within a microbatch each key's
rows arrive as Arrow-batched pandas frames (vectorized, not per-row Python).
Sums are accumulated in integer micro-units so results are exact and
order-independent — bit-identical to a SQL ``SUM(CAST(v AS DECIMAL(18,6)))``
window, which is what the DuckDB oracle checks.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("running_value", T.DoubleType()),
        T.StructField("running_events", T.LongType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cum_micros", T.LongType()),
        T.StructField("cum_events", T.LongType()),
        T.StructField("seen_values", T.LongType()),
    ]
)


def _running_totals_fn(key, pdf_iter: Iterator["pd.DataFrame"], state) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    (user_id,) = key
    if state.exists:
        st = tuple(state.get)
        if len(st) == 2:
            # Checkpoint written by the pre-`seen_values` 2-field state
            # schema. Those builds coalesced NULLs into the running sum, so
            # any key with prior events behaves as having seen a value —
            # derive seen_values from cum_events rather than breaking the
            # tuple unpack on resume. (Spark may still reject a
            # stateStructType change at the state-store layer depending on
            # version/provider; this guard covers the paths that hand the
            # legacy tuple through.)
            cum_micros, cum_events = st
            seen_values = 1 if cum_events else 0
        else:
            cum_micros, cum_events, seen_values = st
    else:
        cum_micros, cum_events, seen_values = 0, 0, 0
    # One key's batch rows can span several Arrow chunks; event-time order is
    # only defined over the whole batch, so concat before sorting.
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        # na_position='first' = Spark's ASC NULLS FIRST, so the twin's
        # window ordering and this sort agree on rows with NULL ts/id
        pdf = pdf.sort_values(
            ["ts", "event_id"], kind="mergesort", na_position="first"
        )
        # NULL values accumulate as 0 (SQL SUM's skip-null semantics;
        # NaN.astype(int64) would abort the stream) — but SQL's running
        # SUM is NULL until the key's FIRST non-null value, so mask the
        # output back to NULL on an all-null prefix to stay value-equal
        # to the JVM window twin (running_totals_window).
        micros = (pdf["value"].fillna(0.0) * 1_000_000).round().astype("int64")
        run_micros = micros.cumsum() + cum_micros
        seen = pdf["value"].notna().cumsum() + seen_values
        run_events = pd.RangeIndex(1, len(pdf) + 1) + cum_events
        cum_micros = int(run_micros.iloc[-1])
        cum_events = cum_events + len(pdf)
        seen_values = int(seen.iloc[-1])
        # genuine NULLs, not NaN: Spark treats NaN as a value, the twin's
        # SQL SUM yields NULL — build an object column with None holes
        rv = (run_micros / 1_000_000).to_numpy()
        seen_mask = (seen > 0).to_numpy()
        yield pd.DataFrame(
            {
                "user_id": user_id,
                "event_id": pdf["event_id"].values,
                "ts": pdf["ts"].values,
                "running_value": pd.array(
                    [v if m else None for v, m in zip(rv, seen_mask)],
                    dtype="Float64",
                ),
                "running_events": run_events.astype("int64"),
            }
        )
    state.update((cum_micros, cum_events, seen_values))


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running value/count totals, exact and restart-safe.

    Equivalent batch semantics: ``SUM(...) OVER (PARTITION BY user_id
    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)`` — but computed as a
    streaming operator whose state (one pair of counters per user) persists
    in the checkpoint across microbatches and restarts.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.select("user_id", "event_id", "ts", "value").groupBy("user_id").applyInPandasWithState(
        _running_totals_fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_FIRST_SEEN_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("first_event_id", T.LongType()),
        T.StructField("first_ts", T.TimestampType()),
        T.StructField("first_value", T.DoubleType()),
    ]
)
_FIRST_SEEN_STATE = T.StructType(
    [T.StructField("seen_types", T.ArrayType(T.StringType()))]
)


def _first_seen_fn(key, pdf_iter: Iterator["pd.DataFrame"], state) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    (user_id,) = key
    st = tuple(state.get) if state.exists else ([],)
    seen = set(st[0] or [])
    chunks = [p for p in pdf_iter if len(p)]
    if chunks:
        pdf = (pd.concat(chunks) if len(chunks) > 1 else chunks[0]).sort_values(
            ["ts", "event_id"], kind="mergesort"
        )
        firsts = pdf.drop_duplicates(subset=["event_type"], keep="first")
        out = [
            (user_id, r.event_type, r.event_id, r.ts, r.value)
            for r in firsts.itertuples(index=False)
            if r.event_type not in seen
        ]
        seen.update(firsts["event_type"])
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "user_id",
                    "event_type",
                    "first_event_id",
                    "first_ts",
                    "first_value",
                ],
            )
    # sorted() pins a deterministic state encoding (sets iterate in hash
    # order); the seen-set is bounded by the distinct event-type vocabulary
    state.update((sorted(seen),))


def first_seen_events_apws(events: DataFrame) -> DataFrame:
    """First event of each (user, event_type), ever — streaming
    first-occurrence dedup on ``applyInPandasWithState``. State per user =
    the array of event types already seen (bounded by the type vocabulary,
    not the event count). Batch-twin semantics: ``ROW_NUMBER() OVER
    (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1``, which
    the test asserts."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.select("user_id", "event_id", "ts", "event_type", "value")
        .filter("event_type IS NOT NULL")
        .groupBy("user_id")
        .applyInPandasWithState(
            _first_seen_fn,
            outputStructType=_FIRST_SEEN_SCHEMA,
            stateStructType=_FIRST_SEEN_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

