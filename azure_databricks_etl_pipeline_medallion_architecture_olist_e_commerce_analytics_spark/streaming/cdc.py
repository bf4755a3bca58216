"""Versioned parquet snapshots, and streaming CDC apply committed through them.

The reference's silver layer is append-only streaming tables
(/root/reference/scripts/silver/Silver_orders.py:16-26); real CDC feeds
(Debezium, change exports) instead carry *updates* per key, and the sink must
apply them as a MERGE. On Databricks that is ``foreachBatch`` +
``MERGE INTO`` a Delta table; this module is the same shape on stock Spark +
parquet:

- each microbatch is first collapsed to its **latest change per key**
  (``row_number`` over the sequencing column, descending — a batch can carry
  several versions of one key and only the last may win),
- then merged into the current table snapshot with
  a per-key latest-wins window over union(snapshot, batch) — the
  sequence comparison covers the STORED row too, so stale late batches
  cannot overwrite newer data,
- and the result is committed as a **new versioned snapshot directory**
  (``v=N+1``) with a tiny ``_VERSION`` pointer file flipped last — readers
  resolve the pointer, then read an immutable directory, so a crash
  mid-write never corrupts the current version (the pointer still names the
  old complete snapshot). This is the minimal open-source stand-in for a
  table format's atomic commit log.

The commit protocol is not CDC-specific: :func:`commit_next` runs any
``step(head, head_meta) -> (df, meta) | None`` against the head snapshot and
commits its result as ``v=N+1``. ``meta`` is a small JSON ``_COMMIT`` file
written into the snapshot before the slot claim, so it is atomic with the
snapshot (``streaming/incremental_mv`` keeps its replay guard there). CDC
tables and incremental-MV state therefore share one on-disk format, one
reader (:func:`read_current`, :func:`read_meta`) and one
:func:`vacuum_versions`.

Concurrent writers (optimistic concurrency control, the Delta commit-log
protocol re-expressed over directories):

- a writer computes its step against the snapshot version it read, writes
  the result to a private ``.staging-*`` directory, then **claims** the
  ``v=N+1`` slot with one atomic ``os.rename(staging, v=N+1)`` — POSIX
  rename onto an existing non-empty directory fails, so exactly one of two
  racing writers wins the slot (the same put-if-absent contract Delta's
  LogStore needs from S3/ABFS; on an object store swap the rename for a
  conditional put),
- the loser detects the conflict, re-reads the NEW head, **recomputes its
  step on top of the winner's snapshot**, and retries at ``v=N+2`` — no
  update is ever lost, which is strictly stronger than last-writer-wins
  (the failure mode of the naive overwrite-then-flip protocol is a lost
  batch, not a stale row),
- the pointer flip is monotonic under an ``flock`` (same-host scope —
  documented limitation; multi-host needs a lock service or a
  rename-as-pointer scheme), and a writer that crashes between claiming
  the slot and flipping the pointer leaves a complete, ``_SUCCESS``-marked
  snapshot that the next writer detects and repairs (flips the pointer
  forward) before retrying — claimed slots are always complete because the
  staging write finishes before the rename.

Scale notes:
- Per microbatch the cost is one key-partitioned window over
  union(snapshot, batch). At 100 TB the snapshot side is the dominant
  term — partition the snapshot by a stable hash of the key so the union
  prunes to the key ranges the batch actually touches, or bucket both
  sides (sinks.py ``bucket_by``) to drop the Exchange entirely.
- Full-snapshot rewrite per batch is the parquet tax relative to a
  format with row-level commits; the versioned layout at least makes each
  rewrite atomic, keeps readers unblocked, and old versions double as
  time-travel snapshots until vacuumed (:func:`vacuum_versions`).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_POINTER = "_VERSION"
_META = "_COMMIT"
_STAGING_PREFIX = ".staging-"
_MAX_ATTEMPTS = 8


def _version_path(table_path: str, version: int) -> str:
    return os.path.join(table_path, f"v={version}")


def current_version(table_path: str) -> int:
    """Resolve the committed snapshot version (0 = empty table)."""
    ptr = os.path.join(table_path, _POINTER)
    if not os.path.exists(ptr):
        return 0
    with open(ptr, encoding="utf-8") as fh:
        return int(fh.read().strip())


def _read_version(spark: SparkSession, table_path: str, v: int) -> DataFrame | None:
    return spark.read.parquet(_version_path(table_path, v)) if v else None


def read_current(spark: SparkSession, table_path: str) -> DataFrame | None:
    """Read the current committed snapshot, or None for an empty table."""
    return _read_version(spark, table_path, current_version(table_path))


def read_meta(table_path: str, version: int | None = None) -> dict:
    """The metadata committed with snapshot ``version`` (default: the
    head); ``{}`` for an empty table or a snapshot committed without any."""
    v = current_version(table_path) if version is None else version
    path = os.path.join(_version_path(table_path, v), _META)
    if not v or not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def _advance_pointer(table_path: str, version: int) -> None:
    """Monotonic pointer flip under an exclusive flock: concurrent flips
    (a slow winner racing a repairer, or v+1 racing v+2) can never move the
    pointer backwards. flock is same-host scope — the documented boundary
    of this substitute; multi-host needs a lock service."""
    import fcntl

    lock = os.path.join(table_path, _POINTER + ".lock")
    with open(lock, "a", encoding="utf-8") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        if version > current_version(table_path):
            tmp = os.path.join(
                table_path, _POINTER + f".tmp-{os.getpid()}-{uuid.uuid4().hex}"
            )
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write(str(version))
            os.replace(tmp, os.path.join(table_path, _POINTER))


def _commit(df: DataFrame, table_path: str, version: int, meta: dict | None) -> bool:
    """Stage the snapshot (and its ``_COMMIT`` metadata) privately, then
    atomically claim the ``version`` slot. Returns False when another
    writer already owns the slot — the caller must recompute its step
    against the new head and retry.

    The claim is ``os.rename(staging, v=N)``: atomic on POSIX, and it
    FAILS (ENOTEMPTY/EEXIST) when the target exists as a non-empty
    directory — snapshot dirs are never empty (``_SUCCESS`` at minimum),
    so exactly one racing writer wins. Because the parquet write completes
    before the rename, a claimed slot is always a complete snapshot.
    """
    staging = os.path.join(
        table_path, f"{_STAGING_PREFIX}v{version}-{os.getpid()}-{uuid.uuid4().hex}"
    )
    df.write.mode("overwrite").parquet(staging)
    if meta:
        with open(os.path.join(staging, _META), "w", encoding="utf-8") as fh:
            json.dump(meta, fh)
    try:
        os.rename(staging, _version_path(table_path, version))
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        return False
    _advance_pointer(table_path, version)
    return True


def _repair_orphan(table_path: str, version: int) -> None:
    """Crash repair: a writer that died between claiming ``v=N`` and the
    pointer flip leaves a complete snapshot the pointer doesn't name yet.
    Flip it forward so waiters make progress instead of spinning on a head
    that never advances. Safe to race with the (slow, alive) winner — the
    flip is monotonic and the content identical."""
    vdir = _version_path(table_path, version)
    if os.path.exists(os.path.join(vdir, "_SUCCESS")):
        _advance_pointer(table_path, version)


def commit_next(
    spark: SparkSession,
    table_path: str,
    step: Callable[[DataFrame | None, dict], tuple[DataFrame, dict | None] | None],
) -> int | None:
    """Commit ``step``'s result on top of the head snapshot as ``v=N+1``.

    ``step(head, head_meta)`` gets the head snapshot (None for an empty
    table) and the metadata committed with it, and returns ``(df, meta)``
    to commit, or None to commit nothing. Returns the committed version,
    or None when the step declined.

    Concurrent-writer safe: a writer that loses the ``v=N+1`` slot repairs
    a crashed winner's orphan (module docstring) and re-runs ``step`` on
    the new head, so the winner's rows are folded into its retry and
    nothing is lost. After ``_MAX_ATTEMPTS`` lost races in a row it raises
    rather than drop the commit.
    """
    for attempt in range(_MAX_ATTEMPTS):
        v = current_version(table_path)
        out = step(_read_version(spark, table_path, v), read_meta(table_path, v))
        if out is None:
            return None
        df, meta = out
        if _commit(df, table_path, v + 1, meta):
            return v + 1
        # lost the v+1 race: if the winner crashed pre-flip, repair the
        # pointer so the re-read above sees the new head; deterministic
        # linear backoff (no randomness) keeps retries reproducible
        _repair_orphan(table_path, v + 1)
        time.sleep(0.05 * (attempt + 1))
    raise RuntimeError(
        f"commit conflict: lost {_MAX_ATTEMPTS} consecutive version races "
        f"at {table_path!r}; batch NOT applied (rerun the stream — the "
        "checkpoint will redeliver it)"
    )


def apply_changes_batch(
    spark: SparkSession,
    batch: DataFrame,
    table_path: str,
    keys: list[str],
    sequence_by: str,
) -> None:
    """Apply one change-batch: highest ``sequence_by`` per key wins —
    compared against BOTH the rest of the batch and the stored snapshot
    row, so a stale change delivered in a later batch cannot overwrite
    newer data (the same contract DLT's APPLY CHANGES enforces by
    comparing SEQUENCE BY against the target).

    Requirements: ``sequence_by`` must totally order each key's changes
    (pass a struct(ts, unique_id) when timestamps can tie — an arbitrary
    tie winner would also break replay idempotency), and rows with a NULL
    key are dropped as malformed (NULL never equi-matches, so they would
    accumulate as duplicates instead of upserting).

    Idempotent per batch content: re-applying the same batch produces an
    identical next snapshot, which is what makes foreachBatch's
    at-least-once redelivery safe here. Committed through
    :func:`commit_next`, so concurrent writers never lose a batch.
    """
    keyed = batch
    for k in keys:
        keyed = keyed.filter(F.col(k).isNotNull())
    w = Window.partitionBy(*keys).orderBy(F.desc(sequence_by))

    def merge(target: DataFrame | None, _meta: dict) -> tuple[DataFrame, None]:
        candidates = (
            keyed.unionByName(target.select(*keyed.columns))
            if target is not None
            else keyed
        )
        merged = (
            candidates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        return merged, None

    commit_next(spark, table_path, merge)


def run_cdc_apply(
    changes: DataFrame,
    table_path: str,
    checkpoint: str,
    keys: list[str],
    sequence_by: str,
) -> None:
    """Run a change stream into a keyed table with one availableNow pass.

    ``foreachBatch`` gives the batch DataFrame + exactly-once-tracked batch
    id; the merge itself runs as a plain batch job per microbatch (the same
    execution DLT's ``apply_changes`` bottoms out in).
    """
    spark = changes.sparkSession

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        apply_changes_batch(spark, batch, table_path, keys, sequence_by)

    q = (
        changes.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def vacuum_versions(table_path: str, keep: int = 2) -> list[int]:
    """Delete snapshot directories older than the newest ``keep`` versions
    (never the current one); returns the versions removed. Also sweeps
    ``.staging-*`` leftovers from writers that crashed before their claim
    rename (a claimed slot is a ``v=N`` dir, never staging)."""
    for d in os.listdir(table_path):
        if d.startswith(_STAGING_PREFIX):
            shutil.rmtree(os.path.join(table_path, d), ignore_errors=True)
    cur = current_version(table_path)
    versions = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(table_path)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    )
    doomed = [v for v in versions if v < cur and v <= cur - keep]
    for v in doomed:
        shutil.rmtree(_version_path(table_path, v), ignore_errors=True)
    return doomed
