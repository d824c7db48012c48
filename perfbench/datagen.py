"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

- ``write_tables``: the TPC-H-like star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the analytic queries read,
  written as one single-row-group parquet file per table.
- ``CdcStream``: Debezium change envelopes over the ``orders`` table,
  with ``fold`` as the pure-Python reference for the table state they
  must produce.

Nothing here imports Spark, so the self-tests run without a JVM.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "green")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

#: o_orderdate range of the generated orders, as days since the epoch.
_ORDER_DAY0 = (dt.date(1995, 1, 1) - dt.date(1970, 1, 1)).days
_ORDER_DAYS = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
_EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
_US_PER_DAY = 86_400_000_000

#: ts_ms of every base-table row; every change envelope is later.
BASE_TS_MS = 1_700_000_000_000

ORDERS_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]
)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_to_us(days: np.ndarray) -> np.ndarray:
    return days.astype(np.int64) * _US_PER_DAY


def orders_table(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    days = _ORDER_DAY0 + rng.integers(0, _ORDER_DAYS + 1, n)
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
            "o_orderstatus": rng.choice(STATUSES, n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": pa.array(_days_to_us(days), pa.timestamp("us")),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        },
        schema=ORDERS_SCHEMA,
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.02:
            # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
            continue
        words = list(rng.choice(VOCAB, int(rng.integers(8, 80))))
        if rng.random() < 0.05:
            words.insert(int(rng.integers(0, len(words))), "dup")
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table the analytic queries read, at scale factor ``sf``
    (sf 1 = 1.5M orders, the TPC-H convention)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    t["orders"] = orders_table(rng, n_ord, n_cust)
    ship = _ORDER_DAY0 + rng.integers(1, _ORDER_DAYS + 95, n_line)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_line),
            "l_linestatus": rng.choice(("F", "O"), n_line),
            "l_shipdate": pa.array(_days_to_us(ship), pa.timestamp("us")),
        }
    )
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev)) + _EVENTS_T0_US
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, max(50, int(50_000 * sf)))
    t["embeddings"] = _embeddings(rng, max(100, int(50_000 * sf)))
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write ``make_tables`` as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=len(table) or 1)


# ------------------------------------------------------------------ CDC

#: Envelope op mix (Debezium op codes): update, insert of a new key,
#: delete.
OP_MIX = (("u", 0.7), ("c", 0.2), ("d", 0.1))


class CdcStream:
    """Closed-loop source of Debezium envelope batches over ``orders``.

    A row is the orders columns plus ``ts_ms`` (the precombine column).
    Updates and deletes favour recently written keys; a few inserts
    re-create a deleted key. Within a batch, keys repeat and envelopes
    arrive shuffled, while ``ts_ms`` stays unique per change. A key's
    ``o_orderstatus`` (the partition column) never changes, so every
    version of a key lives in one partition.
    """

    #: share of inserts that re-create a deleted key instead of a new one
    REINSERT = 0.15

    def __init__(self, seed: int, base_rows: list[tuple]):
        self.rng = random.Random(seed)
        self.ts_ms = BASE_TS_MS
        self.rows = {r[0]: r for r in base_rows}
        self.live = [r[0] for r in base_rows]  # write order, newest last
        self.pos = {k: i for i, k in enumerate(self.live)}
        self.deleted: dict[int, str] = {}  # key -> its partition value
        self.next_key = max(self.rows, default=-1) + 1

    def _recent_key(self) -> int:
        # Exponential bias toward the newest keys: half the picks fall
        # in the most recent ~7% of the live set.
        n = len(self.live)
        back = min(n - 1, int(self.rng.expovariate(10.0 / n)))
        return self.live[n - 1 - back]

    def _touch(self, key: int) -> None:
        """Move ``key`` to the newest end of the live list (swap-free:
        tombstone the old slot, compact when half are tombstones)."""
        old = self.pos.pop(key, None)
        if old is not None:
            self.live[old] = None
        self.pos[key] = len(self.live)
        self.live.append(key)
        if len(self.live) > 2 * len(self.pos) + 16:
            self.live = [k for k in self.live if k is not None]
            self.pos = {k: i for i, k in enumerate(self.live)}

    def _remove(self, key: int) -> None:
        self.live[self.pos.pop(key)] = None

    def _pick_live(self) -> int:
        while True:
            key = self._recent_key()
            if key is not None:
                return key

    def _row(self, key: int, status: str) -> tuple:
        r = self.rng
        day = _ORDER_DAY0 + r.randrange(_ORDER_DAYS + 1)
        return (
            key,
            r.randrange(150_000),
            status,
            round(r.uniform(1000.0, 500000.0), 2),
            dt.datetime(1970, 1, 1) + dt.timedelta(days=day),
            r.choice(PRIORITIES),
            self.ts_ms,
        )

    def next_batch(self, n: int) -> list[tuple]:
        """``n`` envelopes ``(before, after, op, ts_ms)`` in arrival
        order."""
        out = []
        for _ in range(n):
            self.ts_ms += 1 + self.rng.randrange(5)
            x = self.rng.random()
            op = "u" if x < OP_MIX[0][1] else "c" if x < 1 - OP_MIX[2][1] else "d"
            if len(self.pos) < 2 and op != "c":
                op = "c"
            if op == "c":
                if self.deleted and self.rng.random() < self.REINSERT:
                    key = self.rng.choice(sorted(self.deleted))
                    status = self.deleted.pop(key)
                else:
                    key, self.next_key = self.next_key, self.next_key + 1
                    status = self.rng.choice(STATUSES)
                after = self._row(key, status)
                self.rows[key] = after
                self._touch(key)
                out.append((None, after, "c", self.ts_ms))
            elif op == "u":
                key = self._pick_live()
                before = self.rows[key]
                after = self._row(key, before[2])
                self.rows[key] = after
                self._touch(key)
                out.append((before, after, "u", self.ts_ms))
            else:
                key = self._pick_live()
                before = self.rows.pop(key)
                self._remove(key)
                self.deleted[key] = before[2]
                out.append((before, None, "d", self.ts_ms))
        # Arrival order within the batch is shuffled: ts_ms, not
        # position, decides which change of a key wins.
        self.rng.shuffle(out)
        return out


def fold(base_rows: list[tuple], batches: list[list[tuple]]) -> dict[int, tuple]:
    """Reference table state: per key, the change with the largest
    ``ts_ms`` across every batch wins; a winning delete removes the
    key. ``base_rows`` carry their own ``ts_ms`` as the last field."""
    latest: dict[int, tuple[int, tuple | None]] = {
        r[0]: (r[-1], r) for r in base_rows
    }
    for batch in batches:
        for before, after, op, ts in batch:
            key = (before if op == "d" else after)[0]
            if key not in latest or ts > latest[key][0]:
                latest[key] = (ts, None if op == "d" else after)
    return {k: row for k, (_, row) in latest.items() if row is not None}


def keys_after_collapse(batch: list[tuple]) -> int:
    """Rows left after the per-key collapse of one batch."""
    return len({(b if op == "d" else a)[0] for b, a, op, _ in batch})
