"""Seeded input generator for the benchmark workloads.

Writes the only two source columns sets `roadgrinder_spark.datagen`
derives the SGID relations from: `orders.o_orderkey` (one road per key)
and `lineitem.l_orderkey, l_linenumber` (one address point per pair).
Everything downstream (street names, address systems, ranges, grid
coordinates) is a pure function of those keys, so the seed fully
determines the program's inputs.

Uniform inputs: order keys are drawn without replacement from
[1, KEY_SPREAD * n_orders], which spreads roads evenly over the
200 x 200 road grid (the grid cell is key mod 40 000). Each order gets
1..7 line items, mean 4, as in TPC-H.

Hotspot inputs add line items whose order keys are h + j * HOT_STRIDE
(j >= 1) for one order key h. HOT_STRIDE = 40000 * 37 * 7 * 11 is a
multiple of every modulus datagen keys an address point by (grid cell,
street-name number, address system, range base; and 5, so PrefixDir
still takes its 5 values from the line number), so every hot point
lands in h's road cell on h's street signature. The hot keys are absent
from `orders`: the roads side is the same as the uniform workload's and
candidate pairs grow linearly with the hot points.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 40000 grid cells * 37 street names * 7 address systems * 11 range bases
HOT_STRIDE = 40_000 * 37 * 7 * 11
#: key space per order; 4 gives ~25% of the key range used
KEY_SPREAD = 4
#: line numbers stay in 1..7: objectid = l_orderkey * 8 + l_linenumber
MAX_LINES = 7


@dataclass(frozen=True)
class GenStats:
    orders: int
    points: int
    hot_points: int
    hot_key: int

    @property
    def hot_share(self) -> float:
        return self.hot_points / self.points


def make_keys(seed: int, n_orders: int, hot_frac: float = 0.0):
    """Return (o_orderkey, l_orderkey, l_linenumber, hot_key, n_hot) as
    numpy arrays/ints; deterministic per (seed, n_orders, hot_frac)."""
    if not 0 < n_orders * KEY_SPREAD < HOT_STRIDE:
        raise ValueError(f"n_orders={n_orders} out of range")
    if hot_frac < 0:
        raise ValueError(f"hot_frac={hot_frac} must be >= 0")
    rng = np.random.default_rng(seed)
    okeys = np.sort(
        rng.choice(KEY_SPREAD * n_orders, size=n_orders, replace=False) + 1
    ).astype(np.int64)
    counts = rng.integers(1, MAX_LINES + 1, size=n_orders)
    lkeys = np.repeat(okeys, counts)
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    lines = (np.arange(len(lkeys)) - starts + 1).astype(np.int32)

    n_hot = int(round(hot_frac * len(lkeys)))
    hot_key = 0
    if n_hot:
        # the hot key's own road must be geocodable: a lettered name
        # ('Main' or 'STREET n'), CARTOCODE (key % 23) other than 1/7/99
        # and a non-zero left range. A hot point's PrefixDir residue is
        # (3h + line) % 5 and the road's PREDIR residue h % 5, so with
        # 3h % 5 in {1, 2} exactly two of the seven line numbers share
        # the road's PREDIR: 2/7 of the hot points match on every seed
        eligible = okeys[
            ((okeys % 37) % 10 >= 3)
            & ~np.isin(okeys % 23, (0, 1, 2, 7))
            & (okeys % 13 != 0)
            & np.isin((3 * okeys) % 5, (1, 2))
        ]
        hot_key = int(eligible[rng.integers(len(eligible))])
        j = np.arange(n_hot) // MAX_LINES + 1
        hot_l = hot_key + j.astype(np.int64) * HOT_STRIDE
        hot_n = (np.arange(n_hot) % MAX_LINES + 1).astype(np.int32)
        lkeys = np.concatenate([lkeys, hot_l])
        lines = np.concatenate([lines, hot_n])
    return okeys, lkeys, lines, hot_key, n_hot


def check_keys(okeys, lkeys, lines, hot_key: int, n_hot: int, hot_frac: float) -> None:
    """Self-check of the generator's stated properties; raises ValueError."""
    objectid = lkeys * 8 + lines
    if len(np.unique(objectid)) != len(objectid):
        raise ValueError("address-point objectids are not unique")
    if lines.min() < 1 or lines.max() > MAX_LINES:
        raise ValueError("l_linenumber outside 1..7")
    n_uniform = len(lkeys) - n_hot
    if n_hot != int(round(hot_frac * n_uniform)):
        raise ValueError(f"hot share {n_hot}/{n_uniform} != {hot_frac}")
    if n_hot:
        hot = lkeys[n_uniform:]
        if np.isin(hot, okeys).any():
            raise ValueError("hot order keys must be absent from orders")
        for m in (40_000, 37, 7, 11, 5):
            if (hot % m != hot_key % m).any():
                raise ValueError(f"hot keys disagree with the hot key mod {m}")


def generate(out_dir: str, seed: int, n_orders: int, hot_frac: float = 0.0) -> GenStats:
    """Write `orders.parquet` and `lineitem.parquet` under out_dir."""
    okeys, lkeys, lines, hot_key, n_hot = make_keys(seed, n_orders, hot_frac)
    check_keys(okeys, lkeys, lines, hot_key, n_hot, hot_frac)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({"o_orderkey": okeys}), os.path.join(out_dir, "orders.parquet")
    )
    pq.write_table(
        pa.table({"l_orderkey": lkeys, "l_linenumber": lines}),
        os.path.join(out_dir, "lineitem.parquet"),
    )
    return GenStats(
        orders=len(okeys), points=len(lkeys), hot_points=n_hot, hot_key=hot_key
    )
