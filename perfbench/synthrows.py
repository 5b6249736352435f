"""Seeded lineitem-shaped rows for the table workloads.

Rows come out sorted by ``l_orderkey`` so that each file the engine writes
covers a contiguous key range and a key-range predicate can skip files by
their stats. Expected answers are recounted here with numpy, never through
the engine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

RETURN_FLAGS = np.array(["A", "N", "R"])
_EPOCH_1992 = np.datetime64("1992-01-01")


def lineitem(seed: int, first_key: int, n: int) -> pd.DataFrame:
    """``n`` rows with ``l_orderkey`` = first_key .. first_key + n - 1."""
    rng = np.random.default_rng(seed)
    keys = np.arange(first_key, first_key + n, dtype=np.int64)
    return pd.DataFrame(
        {
            "l_orderkey": keys,
            "l_partkey": rng.integers(1, 200_000, n, dtype=np.int64),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_returnflag": RETURN_FLAGS[rng.integers(0, 3, n)],
            "l_shipdate": pd.Series(
                _EPOCH_1992 + rng.integers(0, 2_500, n).astype("timedelta64[D]")
            ).dt.date,
            "l_comment": np.char.add("c", rng.integers(0, 10**9, n).astype(str)),
        }
    )


def totals(df: pd.DataFrame, with_quantity: bool = False) -> tuple:
    """(row count, sum of l_orderkey[, sum of l_quantity]): the checksum a
    read op is held to; the quantity sum sees UPDATE and MERGE changes."""
    out = (len(df), int(df["l_orderkey"].sum()))
    return out + (int(df["l_quantity"].sum()),) if with_quantity else out
