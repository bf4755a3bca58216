"""The benchmark's inputs: copies of the driver's test data.

``data/sf0.001`` holds the ten source tables at scale factor 0.001 (the
TPC-H-ish star schema ``region`` ... ``lineitem``, plus ``events``,
``documents`` and ``embeddings``); ``data/sf0.01/events.parquet`` is the
10,000-row ``events`` table the ingest batches are cut from. The files are
byte-for-byte copies and are only read.

The seed chooses the order of the query mix and the split of the events
into landing batches, never the table contents.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.001")
EVENTS = os.path.join(HERE, "data", "sf0.01", "events.parquet")

SOURCE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def landing_batches(seed: int, n_batches: int) -> list[pd.DataFrame]:
    """The sf0.01 ``events`` rows (without ``props``), shuffled by ``seed``
    and cut into ``n_batches`` equal CSV-ready batches.

    Rows arrive out of event-time order across batches, so a later batch
    can carry an older change for a key than the table already holds."""
    events = pd.read_parquet(EVENTS).drop(columns="props")
    order = np.random.default_rng([seed, 1]).permutation(len(events))
    return [events.iloc[part] for part in np.array_split(order, n_batches)]


def mix_order(names: list[str], seed: int) -> list[str]:
    """A seeded shuffle of the query mix (one round)."""
    return [names[i] for i in np.random.default_rng(seed).permutation(len(names))]
