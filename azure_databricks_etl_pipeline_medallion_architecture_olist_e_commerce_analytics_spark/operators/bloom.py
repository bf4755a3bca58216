"""Bloom-filter join pruning — the 100-TB semi-join accelerator.

The classic distributed-join optimization (Bloom 1970; the "bloom join"
of Mackert & Lohman 1986, and what Spark's own
``spark.sql.optimizer.runtimeFilter.bloomFilter.enabled`` injects): when
a huge probe table semi-joins a selective build side, first broadcast a
tiny bit array of the build keys' hash positions and filter the probe at
the SCAN, so the shuffle only ever carries rows that can possibly match.
False positives pass (and are removed by the exact join that follows);
false negatives are impossible — that no-false-negative contract is what
the value oracle pins.

This implementation makes the bloom filter ITSELF value-oracle-able: the
hash family is :func:`md5_int60` (``md5_int60(key || '#' || i) % m_bits``
— 60 bits of the digest), which DuckDB replays exactly, so an SQL oracle
can recompute every bit and every pass/fail decision. That value oracle
is what pins the no-false-negative contract.

Scale shape: the build side aggregates to ≤ ``m_bits`` DISTINCT
positions (map-side combined), which collect to the driver BOUNDED BY
``m_bits`` (the codebook-collect discipline — never O(rows)) and fold
into ``m_bits/64`` int64 words embedded as ONE array literal in the
probe's filter expression. The probe-side test is pure JVM bit
arithmetic inside whole-stage codegen — zero Python, zero shuffle, zero
extra scan; Catalyst pushes the surviving rows straight into the
downstream join. At 100 TB you'd raise ``m_bits`` with the build
cardinality (1% FP needs ~9.6 bits/key) until the literal-array cap,
then switch to broadcasting the position table and probing via join —
``MAX_LITERAL_BITS`` marks that boundary explicitly.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.keys import md5_int60

# Beyond this the filter's word-array literal stops being a reasonable
# expression tree (16 KiB of longs); larger blooms should broadcast the
# distinct-position table and probe with a join instead.
MAX_LITERAL_BITS = 1 << 17


class BloomFilter(NamedTuple):
    """A built bloom filter WITH the parameters it was built under.

    The build/probe contract (same ``m_bits`` and ``k_hashes`` — a
    different ``m_bits`` scrambles word indexing, a LARGER probe
    ``k_hashes`` tests bits the build never set and manufactures false
    negatives) holds by construction: ``bloom_prune`` takes only this
    object and reads both parameters from it. Tests that plant a bitmap
    by hand construct ``BloomFilter(positions, m_bits, k_hashes)``.
    """

    positions: tuple[int, ...]
    m_bits: int
    k_hashes: int


def _position_cols(key_col: str, m_bits: int, k_hashes: int) -> list:
    """The k replayable hash positions of a (string-cast) key."""
    key = F.col(key_col).cast("string")
    return [
        md5_int60(F.concat(key, F.lit(f"#{i}"))) % m_bits
        for i in range(1, k_hashes + 1)
    ]


def bloom_build_positions(
    build: DataFrame, key_col: str, m_bits: int = 8192, k_hashes: int = 2
) -> BloomFilter:
    """Aggregate the build side to its DISTINCT bloom bit positions and
    collect them — bounded by ``m_bits`` rows regardless of build size
    (the map-side-combined distinct runs on the cluster; only the ≤ m
    positions ever reach the driver). NULL keys are skipped: SQL semi-
    join semantics never match NULL, so the bloom need not admit it.
    Returns a ``BloomFilter`` carrying the build parameters so
    ``bloom_prune`` probes with the same ``m_bits``/``k_hashes`` by
    construction."""
    if m_bits < 64 or m_bits > MAX_LITERAL_BITS:
        raise ValueError(
            f"m_bits must be in [64, {MAX_LITERAL_BITS}], got {m_bits}"
        )
    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    if k_hashes < 1:
        raise ValueError(f"k_hashes must be >= 1, got {k_hashes}")
    keys = build.select(F.col(key_col).alias("__k")).filter(
        F.col("__k").isNotNull()
    )
    pos_cols = _position_cols("__k", m_bits, k_hashes)
    positions = (
        keys.select(F.explode(F.array(*pos_cols)).alias("pos"))
        .distinct()
        .collect()
    )
    return BloomFilter(
        positions=tuple(sorted(int(r["pos"]) for r in positions)),
        m_bits=m_bits,
        k_hashes=k_hashes,
    )


def bloom_prune(
    probe: DataFrame,
    bloom: BloomFilter,
    key_col: str,
    flag_col: str = "passes_bloom",
) -> DataFrame:
    """Tag each probe row with the bloom membership verdict: true iff ALL
    ``k_hashes`` of the key's positions are set. The bit array packs into
    ``m_bits/64`` int64 words as one array literal, so the test is
    ``element_at(words, pos div 64 + 1) & (1 << (pos % 64)) != 0`` — JVM
    bit arithmetic in whole-stage codegen. NULL keys fail the filter
    (semi-join semantics). Emitting a FLAG rather than filtering lets
    callers both prune and audit the false-positive rate; filter on the
    flag for the production path.

    ``bloom`` is the ``BloomFilter`` from ``bloom_build_positions``; the
    probe uses its ``m_bits``/``k_hashes``, so build and probe cannot
    disagree."""
    positions, m_bits, k_hashes = bloom
    if m_bits % 64 or m_bits < 64 or m_bits > MAX_LITERAL_BITS:
        raise ValueError(f"invalid m_bits {m_bits}")
    if k_hashes < 1:
        raise ValueError(f"k_hashes must be >= 1, got {k_hashes}")
    words = [0] * (m_bits // 64)
    for p in positions:
        if not 0 <= p < m_bits:
            raise ValueError(f"position {p} outside [0, {m_bits})")
        words[p // 64] |= 1 << (p % 64)
    # int64 literals: values with bit 63 set must wrap to negative
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    arr = "array(" + ",".join(f"{w}L" for w in words) + ")"
    checks = [
        f"(element_at({arr}, cast(__bp{i} div 64 as int) + 1)"
        f" & shiftleft(1L, cast(__bp{i} % 64 as int))) != 0"
        for i in range(1, k_hashes + 1)
    ]
    pos_cols = _position_cols(key_col, m_bits, k_hashes)
    tagged = probe.withColumns(
        {f"__bp{i}": c for i, c in enumerate(pos_cols, start=1)}
    )
    return tagged.withColumn(
        flag_col,
        F.when(
            F.col(key_col).isNotNull(), F.expr(" AND ".join(checks))
        ).otherwise(F.lit(False)),
    ).drop(*[f"__bp{i}" for i in range(1, k_hashes + 1)])
