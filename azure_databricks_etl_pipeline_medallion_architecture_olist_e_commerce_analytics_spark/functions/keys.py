"""Deterministic surrogate keys and the portable 60-bit md5 hash.

The reference derives every surrogate key as SHA-256 over '|'-joined natural
keys so keys are stable across incremental refreshes
(/root/reference/scripts/gold/fact_order_items.sql:41-42, dim_orders.sql:14).
Pure JVM-side expression — stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def surrogate_key(*cols) -> Column:
    """``sha2(concat(cast(c1 as string),'|',cast(c2 as string),...), 256)``."""
    parts: list[Column] = []
    for i, c in enumerate(cols):
        if i:
            parts.append(F.lit("|"))
        col = c if isinstance(c, Column) else F.col(c)
        parts.append(col.cast("string"))
    return F.sha2(F.concat(*parts), 256)


def md5_int60(col) -> Column:
    """The first 15 hex digits of ``md5(col)`` as a non-negative BIGINT.

    The one hash family of the hashing operators (simhash token hashes,
    winnowing gram hashes, bloom positions, count-min cells): DuckDB
    replays it as ``('0x' || substr(md5(x), 1, 15))::BIGINT``, so every
    output built on it can be value-checked against a SQL oracle. ``col``
    is a Column or a column name.
    """
    c = col if isinstance(col, Column) else F.col(col)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")
