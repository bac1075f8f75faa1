"""Seeded inputs, built with the repository's scale-data generators.

``tools/gen_scale_data.py`` fixes its seed at 42; here every table draws
from a generator seeded by the workload seed, so the same seed gives the
same inputs and another seed gives other data of the same shape.  Inputs
are cached per seed under the checkout, outside the measured set-up.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

KEEP_SEEDS = 10  # cached seed directories kept per workload
REDELIVERED_SHARE = 0.01  # of each kind of re-delivered row per delivery


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def cache_dir(cache_root: str, workload: str, seed: int) -> str:
    """The seed's cache directory; older seeds beyond KEEP_SEEDS are pruned."""
    base = os.path.join(cache_root, workload)
    os.makedirs(base, exist_ok=True)
    d = os.path.join(base, f"seed{seed}")
    others = sorted(
        (os.path.getmtime(p), p)
        for p in (os.path.join(base, n) for n in os.listdir(base))
        if p != d
    )
    for _, p in others[: max(0, len(others) - (KEEP_SEEDS - 1))]:
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    os.utime(d)  # most recently used
    return d


def _cached(path: str, build) -> pa.Table:
    if not os.path.exists(path):
        tmp = path + ".tmp"
        pq.write_table(build(), tmp)
        os.replace(tmp, path)
    return pq.read_table(path)


def orders_quarters(d: str, seed: int) -> list[pa.Table]:
    """gen-sf1 ``orders`` in the raw delivery schema, one table per
    calendar quarter in date order (about 57k rows each)."""
    import gen_scale_data as g

    def build() -> pa.Table:
        orders, _ = g.gen_orders(1.0, _rng(seed, 1))
        return orders

    t = _cached(os.path.join(d, "orders.parquet"), build)
    day = pc.cast(pc.cast(t["o_orderdate"], pa.timestamp("us")), pa.date32())
    raw = pa.table(
        {
            "o_orderkey": t["o_orderkey"],
            "o_custkey": t["o_custkey"],
            "o_orderstatus": t["o_orderstatus"],
            "o_totalprice": t["o_totalprice"],
            "o_orderdate": day,
        }
    )
    quarter = pc.add(pc.multiply(pc.year(day), 4), pc.quarter(day)).to_numpy()
    order = np.argsort(quarter, kind="stable")
    raw = raw.take(pa.array(order))
    quarter = quarter[order]
    bounds = np.flatnonzero(np.diff(quarter)) + 1
    starts = [0, *bounds.tolist()]
    ends = [*bounds.tolist(), len(quarter)]
    return [raw.slice(s, e - s) for s, e in zip(starts, ends)]


def with_redeliveries(
    delivery: pa.Table, earlier: pa.Table, seed: int, op: int
) -> pa.Table:
    """A delivery plus a fixed share of re-delivered rows: copies of rows
    already delivered earlier and duplicates within the delivery itself."""
    rng = _rng(seed, 100 + op)
    k_prev = max(1, int(earlier.num_rows * REDELIVERED_SHARE))
    k_same = max(1, int(delivery.num_rows * REDELIVERED_SHARE))
    prev = earlier.take(pa.array(rng.choice(earlier.num_rows, k_prev, False)))
    same = delivery.take(
        pa.array(rng.choice(delivery.num_rows, k_same, False))
    )
    return pa.concat_tables([delivery, prev, same])


def documents(d: str, seed: int, n_docs: int) -> pa.Table:
    """The first ``n_docs`` gen documents (doc_id ascending)."""
    import gen_scale_data as g

    def build() -> pa.Table:
        sf = n_docs / g.DOCS_PER_SF
        return g.gen_documents(sf, _rng(seed, 2)).select(
            ["doc_id", "lang", "text"]
        )

    return _cached(os.path.join(d, f"documents_{n_docs}.parquet"), build)


ANALYST_TABLES = ("events",)


def analyst_tables(d: str, seed: int) -> str:
    """Write the tables the query mix reads as ``<d>/<table>.parquet``
    (the layout the engine's catalog and the oracle views expect)."""
    import gen_scale_data as g

    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "events.parquet")
    if not os.path.exists(path):
        tmp = path + ".tmp"
        g._write_split(g.gen_events(1.0, _rng(seed, 4)), tmp)
        os.replace(tmp, path)
    return d
