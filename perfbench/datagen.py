"""Seeded input generators for the benchmark.

Everything the engine reads is made here from ``--seed``: the same
seed gives byte-identical parquet tables and the same CDC batches.
The tables mirror the engine's synthetic test data (column names and
types as ``data_lake_demo_spark.sources.testdata.load_table`` expects).

The tables are written by a child process, so the benchmark's own
peak memory does not include generating them:

    python3 perfbench/datagen.py <out_dir> <seed> <sf>
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def orders_frame(rng: np.random.Generator, n: int, n_cust: int) -> pd.DataFrame:
    """Rows of an ``orders`` table. ``o_orderdate`` is a DATE, TPC-H's
    type for the column."""
    days = rng.integers(0, 2400, n)
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": (np.datetime64("1995-01-01", "D") + days).astype(object),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ``lineitem``, ``events`` and ``documents`` tables at
    scale ``sf`` (sf 0.1: 600k lineitems, 100k events, 5k documents)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_orders, n_part, n_supp = int(1_500_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_line, n_events, n_docs = int(6_000_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_line) * _DAY_US),
    }))
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    _write(out_dir, "events", pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + ev_us),
        "user_id": rng.integers(0, max(150, n_events // 66), n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(10, 100, n_events)],
    }))
    lengths = rng.integers(8, 96, n_docs)
    words = rng.choice(WORDS, int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    for i in range(0, n_docs, 97):  # a sprinkle of exact duplicates
        texts[i] = texts[(i * 7) % n_docs]
    _write(out_dir, "documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))


class CdcModel:
    """Seeded CDC batches over an orders table, plus the independent
    pandas model of the table they should produce.

    Each batch is a MERGE (updates ≈ ``batch_share`` of the live keys
    plus a few fresh inserts) followed by a merge-on-read delete of
    one key range. The model applies the same two steps in pandas, so
    the final AcidTable snapshot can be checked row for row.
    """

    def __init__(self, seed: int, n_rows: int, batch_share: float):
        self.rng = np.random.default_rng([seed, 2])
        self.rows = orders_frame(self.rng, n_rows, max(1, n_rows // 10)).set_index(
            "o_orderkey", drop=False
        )
        self.next_key = n_rows
        self.batch_rows = max(1, int(n_rows * batch_share))

    def frame(self) -> pd.DataFrame:
        return self.rows.reset_index(drop=True)

    def next_batch(self) -> tuple[pd.DataFrame, tuple[int, int], Counter]:
        """(merge batch, [lo, hi) key range to delete, expected net
        change) — applied to the model before returning. The net change
        maps (key, price, status) to +1 for a row the batch adds and -1
        for a row it removes."""
        rng = self.rng
        n_ins = max(1, self.batch_rows // 10)
        live = self.rows.index.to_numpy()
        upd_keys = np.sort(rng.choice(live, self.batch_rows - n_ins, replace=False))
        upd = self.rows.loc[upd_keys].copy()
        upd["o_totalprice"] = np.round(rng.uniform(1000.0, 500000.0, len(upd)), 2)
        upd["o_orderstatus"] = rng.choice(["F", "O", "P"], len(upd))
        ins = orders_frame(rng, n_ins, max(1, len(live) // 10))
        ins["o_orderkey"] = np.arange(self.next_key, self.next_key + n_ins)
        self.next_key += n_ins
        batch = pd.concat([upd.reset_index(drop=True), ins], ignore_index=True)
        # the delete range never reaches this batch's inserts, but may
        # remove rows the merge just updated
        lo = int(rng.integers(0, max(1, self.next_key - n_ins - 64)))
        hi = lo + int(rng.integers(8, 64))
        touched = np.union1d(batch["o_orderkey"].to_numpy(), np.arange(lo, hi))
        before = self._tuples(touched)
        self.rows = pd.concat(
            [self.rows.drop(index=upd_keys), batch.set_index("o_orderkey", drop=False)]
        ).sort_index()
        self.rows = self.rows[(self.rows.index < lo) | (self.rows.index >= hi)]
        net = Counter(self._tuples(touched))
        net.subtract(before)
        return batch, (lo, hi), nonzero(net)

    def _tuples(self, keys: np.ndarray) -> list[tuple]:
        r = self.rows.loc[self.rows.index.intersection(keys)]
        return list(zip(
            r["o_orderkey"].tolist(), r["o_totalprice"].tolist(),
            r["o_orderstatus"].tolist(),
        ))

    def row_tuple(self, key: int) -> tuple | None:
        found = self._tuples(np.array([key]))
        return found[0] if found else None

    def totals(self) -> tuple[int, float, int]:
        r = self.rows
        return len(r), float(r["o_totalprice"].sum()), int(r["o_orderkey"].sum())


def nonzero(c: Counter) -> Counter:
    """``c`` without its zero counts (negative counts kept)."""
    return Counter({k: v for k, v in c.items() if v})


if __name__ == "__main__":
    out_dir, seed, sf = sys.argv[1:]
    write_tables(out_dir, int(seed), float(sf))
