"""Heavy hitters (frequent items) with the Misra-Gries sketch — candidates
from one bounded-memory pass, exact counts from a candidates-only recount.

``top_ngrams`` (textops.py) computes exact frequencies for everything — an
O(distinct items) shuffle. On a 100 TB corpus the distinct-token universe is
billions of rows of aggregation state, while the items anyone asks about are
the few above a frequency threshold. The classic fix is a two-phase plan:

1. **Sketch pass** — each partition runs Misra-Gries with k counters over
   its rows (bounded memory, one pass, inside ``mapInPandas`` so batches
   arrive as Arrow and counting uses vectorized ``value_counts``). A
   partition's surviving items are a superset of every item with
   within-partition frequency > n_p/k; by pigeonhole, any item with GLOBAL
   frequency > n/k exceeds n_p/k in at least one partition, so the union of
   survivors — O(k × partitions) rows, independent of data size — contains
   every true heavy hitter. No false negatives, provably.
2. **Recount pass** — exact counts for candidates only: a broadcast semi
   join prunes the stream to candidate rows, then one aggregation whose
   state is O(candidates), not O(distinct). The final ``> n/k`` filter uses
   the exact counts, so false positives from phase 1 drop out.

Result: exact answers (same rows as a full groupBy + HAVING), aggregation
state bounded by O(k × partitions) instead of O(distinct items).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.keys import md5_int60


class CountMinSketch(NamedTuple):
    """A built count-min sketch WITH the parameters it was built under —
    the same make-mismatch-unrepresentable packaging as the bloom
    filter's ``BloomFilter`` (round-10: a probe-side depth/width
    differing from the build's would silently undercount / scramble
    cells; carrying them with the cell table removes the failure mode).

    ``cells`` is a DataFrame of (cms_row, cms_cell, cnt) with at most
    ``depth × width`` rows regardless of input size — the bounded,
    MERGEABLE sketch state (union-by-sum of two sketches' cells is the
    sketch of the union; the property that lets 100 TB of shards each
    sketch locally and combine in one tiny aggregate)."""

    cells: DataFrame
    depth: int
    width: int


def _cms_cell_expr(key_col: str, row_i: int, width: int):
    """The replayable cell hash of one sketch row:
    ``md5_int60(key || '#i') % width`` (the bloom filter's hash family).
    md5 because DuckDB replays it, so the oracle recomputes every cell."""
    return md5_int60(F.concat(F.col(key_col), F.lit(f"#{row_i}"))) % width


def cms_sketch(
    df: DataFrame, col: str = "item", depth: int = 4, width: int = 1024
) -> CountMinSketch:
    """Build a count-min sketch (Cormode & Muthukrishnan 2005) over one
    string-castable column: ``depth`` hash rows × ``width`` counters.
    ONE map-side-combined aggregate whose state is bounded by
    depth × width CELLS — never O(distinct keys) (the Misra-Gries /
    HLL++ discipline; CMS completes the classic sketch trio with POINT
    frequency estimates for ANY key, asked after the fact, with a
    one-sided error: estimates never undercount, and overshoot ≤ εn
    with ε = e/width at probability 1 − (1/e)^depth). NULL keys are
    skipped (no NULL frequency semantics)."""
    if depth < 1 or depth > 16:
        raise ValueError(f"depth must be in [1, 16], got {depth}")
    if width < 16:
        raise ValueError(f"width must be >= 16, got {width}")
    keys = df.select(F.col(col).cast("string").alias("__k")).filter(
        F.col("__k").isNotNull()
    )
    pairs = keys.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("cms_row"),
                        _cms_cell_expr("__k", i, width).alias("cms_cell"),
                    )
                    for i in range(1, depth + 1)
                ]
            )
        ).alias("rc")
    ).select("rc.cms_row", "rc.cms_cell")
    cells = pairs.groupBy("cms_row", "cms_cell").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return CountMinSketch(cells=cells, depth=depth, width=width)


def cms_estimate(
    candidates: DataFrame, sketch: CountMinSketch, col: str = "item"
) -> DataFrame:
    """Point-frequency estimates for a candidate-key DataFrame against a
    built sketch: each key hashes to one cell per row (map-side), joins
    the BROADCAST cell table (≤ depth × width rows — driver-known
    bound), and takes the MIN count across rows. A key whose cell was
    never touched reads 0. Adds a ``cms_est`` column; parameters come
    from the sketch object, so build/probe can never disagree."""
    d, w = sketch.depth, sketch.width
    keyed = candidates.withColumn("__k", F.col(col).cast("string"))
    probe = keyed.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("cms_row"),
                        _cms_cell_expr("__k", i, w).alias("cms_cell"),
                    )
                    for i in range(1, d + 1)
                ]
            )
        ).alias("rc"),
    ).select("*", "rc.cms_row", "rc.cms_cell").drop("rc")
    group_cols = [c for c in keyed.columns if c != "__k"]
    return (
        probe.join(
            F.broadcast(sketch.cells), ["cms_row", "cms_cell"], "left"
        )
        .groupBy(*group_cols)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias(
                "cms_est"
            )
        )
    )


def _misra_gries_partition(k: int):
    """Per-partition Misra-Gries over Arrow batches of a single `item` column.

    Batch-merge variant: add each batch's ``value_counts`` into the counter
    table, then decrement by the (len-k)-th smallest count in ONE step and
    drop non-positives — at most two passes reduce to <= k counters, where
    min-at-a-time decrementing is worst-case quadratic in batch cardinality
    (a high-distinct batch would loop thousands of O(len) subtractions).
    Decrements only ever shrink counts, so survivors still over-approximate
    the > n_p/k set (the guarantee the candidate phase needs).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: pd.Series | None = None
        for pdf in batches:
            vc = pdf["item"].value_counts()
            counters = vc if counters is None else counters.add(vc, fill_value=0)
            while len(counters) > k:
                # the smallest (len-k) counters must die; subtracting the
                # largest of their counts kills them all in one pass
                cut = counters.nsmallest(len(counters) - k).max()
                counters = counters - cut
                counters = counters[counters > 0]
        if counters is None or counters.empty:
            return
        yield pd.DataFrame({"item": counters.index.astype(str)})

    return gen


def heavy_hitters(df: DataFrame, col, k: int = 100) -> DataFrame:
    """Items of ``col`` with frequency strictly greater than n/k, with exact
    counts — computed with O(k × partitions) sketch state + a candidates-only
    recount (see module docstring).

    ``col`` may be a column name or an expression producing one value per
    row (pre-explode arrays yourself). Items are counted by their string
    form (the sketch's Arrow schema is ``item string``), which is lossless
    for strings and integers.
    """
    c = F.col(col) if isinstance(col, str) else col
    items = df.select(c.cast("string").alias("item")).filter(
        F.col("item").isNotNull()
    )

    candidates = (
        items.mapInPandas(_misra_gries_partition(k), "item string")
        .distinct()
    )
    totals = items.agg(F.count(F.lit(1)).alias("__n"))
    exact = (
        items.join(F.broadcast(candidates), "item", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        exact.join(F.broadcast(totals))
        .filter(F.col("freq") > F.col("__n") / k)
        .select("item", "freq")
    )
