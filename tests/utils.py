"""Randomized table generation + order-insensitive comparison.

Follows the reference's test methodology (/root/reference/tests/utils.py:
21-108): tables with one column per supported type, two low-cardinality
categorical partition columns (``cats``, ``bats``), and a monotonically
increasing ``order`` column used as the sort key for order-insensitive
equality.
"""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd

CATS = ["S", "A", "D"]
BATS = ["1", "2", "3"]

_rng = np.random.default_rng(1337)
_order_start = [0]


def gen_pdf(n: int = 20) -> pd.DataFrame:
    """One random pandas table; ``order`` keeps increasing across calls."""
    start = _order_start[0]
    _order_start[0] += n
    base = datetime.datetime(2024, 1, 1)
    return pd.DataFrame({
        "f64": _rng.random(n),
        "i64": _rng.integers(-1000, 1000, n).astype("int64"),
        "i32": _rng.integers(-1000, 1000, n).astype("int32"),
        "txt": [f"row-{i}" for i in _rng.integers(0, 10_000, n)],
        "flag": _rng.random(n) > 0.5,
        "ts": [base + datetime.timedelta(minutes=int(m))
               for m in _rng.integers(0, 100_000, n)],
        "cats": _rng.choice(CATS, n),
        "bats": _rng.choice(BATS, n),
        "order": np.arange(start, start + n, dtype="float64"),
    })


def assert_frames_equivalent(a: pd.DataFrame, b: pd.DataFrame) -> None:
    """Order-insensitive equality: sort rows by ``order``, columns by name
    (reference tests/utils.py:101-108)."""
    aa = a.sort_values("order").reset_index(drop=True)
    bb = b.sort_values("order").reset_index(drop=True)
    aa = aa[sorted(aa.columns)]
    bb = bb[sorted(bb.columns)]
    pd.testing.assert_frame_equal(aa, bb, check_dtype=False)


def jobs_during(spark, group: str, fn):
    """Run ``fn()`` under Spark job group ``group``; return its result
    and the ids of the Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))
