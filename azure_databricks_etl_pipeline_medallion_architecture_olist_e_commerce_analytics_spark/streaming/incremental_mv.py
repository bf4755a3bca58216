"""Incremental materialized-view maintenance — the Enzyme analog.

The reference recomputes every gold MV in full per refresh ("CREATE OR
REFRESH MATERIALIZED VIEW", full-refresh per /root/reference docs/
pipeline-flow.png). Databricks' DLT can instead maintain some MVs
*incrementally* (Enzyme); this module is that capability for grouped
aggregates on stock Spark: each microbatch folds its partial aggregate
state into a small standing state table, so a refresh costs
O(batch + groups) and never rescans history.

Composition of existing engine pieces:
- ``operators/incremental_agg``: mergeable (commutative-monoid) aggregate
  state — count/decimal-sum/min/max, avg derived at read time. DECIMAL
  accumulation makes the incremental path bit-identical to a full
  recompute under any batch split (the invariant the tests assert).
- ``streaming/cdc``'s versioned-snapshot commit (:func:`cdc.commit_next`):
  each fold is staged privately, claims ``v=N+1`` atomically and flips the
  pointer last, so readers never observe a torn state; orphan repair and
  :func:`cdc.vacuum_versions` come with it.

Exactly-once: merging is NOT content-idempotent (re-folding a delivered
batch double-counts), so every state snapshot carries the foreachBatch
batch id it folded (plus a content fingerprint) in its ``_COMMIT``
metadata, which lands atomically with the snapshot. A batch id at or below
the head's is skipped; a crash before the slot claim leaves the old head
(the batch replays cleanly), and a crash after it leaves an orphan the
redelivery repairs and then skips.

Scale shape per batch: one partial aggregation over the batch (map-side
combine), one state merge shuffling O(group) rows. The state table is the
only thing ever rewritten — at 100 TB of history with bounded group
cardinality the refresh cost stays flat while full refresh grows linearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.incremental_agg import aggregate_state, finalize, merge_states
from .cdc import commit_next, read_current, read_meta, vacuum_versions


def _state_fingerprint(state: DataFrame) -> str:
    """Order-independent content fingerprint of a (small) aggregate-state
    frame: row count + commutative sum of per-row xxhash64, summed in
    DECIMAL so the value is exact under any partitioning. O(groups) rows —
    the cheap identity that distinguishes 'the same batch redelivered'
    from 'a reset checkpoint replaying a DIFFERENT batch under the same
    id' (same id + different content = the silent-freeze case)."""
    from pyspark.sql import functions as F

    row = state.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(F.struct(*[F.col(c) for c in state.columns])).cast(
                "decimal(38,0)"
            )
        ).alias("h"),
    ).first()
    return f"{row['n']}:{row['h']}"


def read_state(spark: SparkSession, mv_path: str) -> DataFrame | None:
    """The standing aggregate state: the MV's head snapshot."""
    return read_current(spark, mv_path)


def read_mv(spark: SparkSession, mv_path: str) -> DataFrame | None:
    """The queryable MV: finalized view over the standing state."""
    state = read_state(spark, mv_path)
    return finalize(state) if state is not None else None


def refresh_increment(
    spark: SparkSession,
    batch: DataFrame,
    mv_path: str,
    keys: list[str],
    value: str,
    batch_id: int,
) -> bool:
    """Fold one batch into the MV state; returns False on a skipped replay."""
    folded: list = []  # the batch's state, computed once across retries

    def fold(state: DataFrame | None, meta: dict):
        if batch_id <= meta.get("batch_id", -1):
            return None  # at-least-once redelivery of an already-folded batch
        if not folded:
            bstate = aggregate_state(batch, keys, value).localCheckpoint()
            folded.append((bstate, _state_fingerprint(bstate)))
        bstate, fingerprint = folded[0]
        merged = merge_states(state, bstate, keys) if state is not None else bstate
        return merged, {"batch_id": batch_id, "fingerprint": fingerprint}

    if commit_next(spark, mv_path, fold) is None:
        return False
    vacuum_versions(mv_path, keep=2)
    return True


def maintain_aggregate_mv(
    source: DataFrame,
    mv_path: str,
    checkpoint: str,
    keys: list[str],
    value: str,
) -> None:
    """Run an availableNow pass folding a streaming source into the MV.

    The replay guard keys on the checkpoint's foreachBatch batch ids — the
    checkpoint and the MV state share a lifetime. Two skip shapes must be
    told apart:

    - ``batch_id == head batch id`` with MATCHING content fingerprint: the
      documented crash-recovery redelivery (crash between the MV commit and
      the streaming checkpoint commit re-delivers the last batch once).
      refresh_increment correctly skips it and the MV is intact — NOT an
      error, even when no newer data arrived and the whole run is
      applied=0/skipped=1.
    - ``batch_id < head batch id``, or ``==`` with a DIFFERENT fingerprint:
      the checkpoint was genuinely reset/relocated while mv_path persists.
      A reset after exactly one applied batch restarts ids at the stored
      id itself (0), so the id alone cannot distinguish it from crash
      redelivery — but a reset batch 0 re-reads ALL files (old + new) and
      its content differs, which the stored fingerprint catches. Raised
      loudly (reset both, or neither).
    """
    spark = source.sparkSession
    stats = {"applied": 0, "reset_skips": []}

    def _fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        bid = int(batch_id)
        if refresh_increment(spark, batch, mv_path, keys, value, bid):
            stats["applied"] += 1
            return
        head = read_meta(mv_path)
        if bid < head["batch_id"] or head["fingerprint"] != _state_fingerprint(
            aggregate_state(batch, keys, value)
        ):
            stats["reset_skips"].append(bid)
        # else: same id, same content — benign redelivery

    q = (
        source.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # reset_skips only ever holds genuinely-bad replays (id below the head's
    # batch id, or at it with a different content fingerprint) — benign
    # crash redelivery never lands here. Raise on ANY of them, even when
    # later batches applied: a reset checkpoint can split old+new files
    # across more batches than the head's batch id, so batches above it pass
    # the id guard and re-fold old data (double-counting) while applied > 0.
    if stats["reset_skips"]:
        raise RuntimeError(
            f"maintain_aggregate_mv: batch ids {stats['reset_skips']} replayed "
            f"below the MV head's committed batch id (or AT it with different "
            f"content) — the checkpoint at {checkpoint} was reset while "
            f"{mv_path} persists; any batches applied in this run may have "
            f"re-folded old data. The checkpoint and MV state share a "
            "lifetime: reset both or neither."
        )
