"""Seeded change batches for the CDC workload, and their independent replay.

The engine under test receives only the parquet files written from
these batches; the replay that checks its merge-sink snapshot is plain
Python over the same arrow tables.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

CHURN = 0.01                      # share of live keys touched per batch
_STATUSES = ["F", "O", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EPOCH_1995_US = 788_918_400 * 1_000_000          # 1995-01-01T00:00:00Z
_DAY_US = 86_400 * 1_000_000


def base_table(orders: pa.Table) -> pa.Table:
    """The snapshot as the changelog source expects it: ``o_orderdate``
    marked UTC, the same instant type the change batches carry, so the
    snapshot and the changes union without a cast."""
    i = orders.schema.get_field_index("o_orderdate")
    return orders.set_column(
        i, "o_orderdate",
        orders.column(i).cast(pa.timestamp("us", tz="UTC")))


class ChangeFeed:
    """Op-typed change batches against an ``orders`` snapshot.

    Each batch touches ``CHURN`` of the live keys: 70% updates, 20%
    inserts of new keys, 10% deletes, with a strictly increasing
    ``_cursor``.  Keys within a batch are distinct, so the replay is
    unambiguous.  The same seed gives the same batches.
    """

    def __init__(self, base: pa.Table, seed: int) -> None:
        self._rng = np.random.default_rng([seed, 7])
        self._live = base.column("o_orderkey").to_numpy().copy()
        self._next_key = int(self._live.max()) + 1
        self._n_cust = int(base.column("o_custkey").to_numpy().max()) + 1
        self.last_cursor = 0

    def next_batch(self) -> pa.Table:
        rng = self._rng
        n = max(10, int(len(self._live) * CHURN))
        n_ins, n_del = n * 2 // 10, n // 10
        n_upd = n - n_ins - n_del
        pick = rng.choice(len(self._live), n_upd + n_del, replace=False)
        upd_keys = self._live[pick[:n_upd]]
        del_keys = self._live[pick[n_upd:]]
        ins_keys = np.arange(self._next_key, self._next_key + n_ins,
                             dtype="int64")
        self._next_key += n_ins
        self._live = np.concatenate(
            [np.delete(self._live, pick[n_upd:]), ins_keys])
        keys = np.concatenate([upd_keys, ins_keys, del_keys])
        ops = np.asarray(["update"] * n_upd + ["insert"] * n_ins
                         + ["delete"] * n_del, dtype=object)
        perm = rng.permutation(n)            # interleave ops in the file
        days = rng.integers(0, 2_400, n)
        batch = pa.table({
            "o_orderkey": pa.array(keys[perm]),
            "o_custkey": pa.array(rng.integers(0, self._n_cust, n)),
            "o_orderstatus": pa.array(
                np.asarray(_STATUSES, dtype=object)[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(
                np.round(rng.uniform(1_000.0, 500_000.0, n), 2)),
            "o_orderdate": pa.array(_EPOCH_1995_US + days * _DAY_US,
                                    type=pa.timestamp("us", tz="UTC")),
            "o_orderpriority": pa.array(
                np.asarray(_PRIORITIES, dtype=object)[rng.integers(0, 5, n)]),
            "_op": pa.array(ops[perm]),
            "_cursor": pa.array(np.arange(self.last_cursor + 1,
                                          self.last_cursor + n + 1,
                                          dtype="int64")),
        })
        self.last_cursor += n
        return batch


def replay(base: pa.Table, batches: list[pa.Table]) -> pa.Table:
    """The snapshot after the batches, with ``_cursor``: snapshot rows at
    cursor 0, the latest cursor of a key wins, deletes remove the key.
    Sorted by key."""
    import pandas as pd

    key = base.column_names[0]
    snap = base.to_pandas().assign(_op="insert", _cursor=0)
    log = pd.concat([snap] + [b.to_pandas() for b in batches],
                    ignore_index=True)
    last = (log.sort_values("_cursor", kind="stable")
            .drop_duplicates(key, keep="last"))
    out = last[last["_op"] != "delete"].drop(columns="_op")
    return pa.Table.from_pandas(out.sort_values(key), preserve_index=False)
