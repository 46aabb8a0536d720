"""Seeded input generators. Everything is written under a directory the
caller passes in; no fixture outside the benchmark is read.

Two families:

- ``write_tables``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that the query registry reads, with the
  same column names, types and value ranges as the repository's fixtures.
- ``Changelog``: a Debezium-envelope changelog over two source tables that
  share keys in opposite ways (``orders``: large state, few changes per
  key; ``events``: hot keys, many changes per key), cut into epochs by
  offset range, with a poisoned share of three dead-letter kinds.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1995 = np.datetime64("1995-01-01", "D")
EVENTS_T0_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
COLORS = ["blue", "red", "green", "hot", "cold", "old", "large", "small"]
NOUNS = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
LANGS = np.array(["en", "zh", "es", "fr", "de"])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    d = EPOCH_1995 + (start + rng.integers(0, span, n)).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def orders_columns(rng, n: int, n_cust: int) -> dict:
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": STATUSES[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, 0, 2404, n),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
    }


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten registry tables at scale ``sf`` (row counts follow the
    fixtures: lineitem = 6e6*sf, orders = 1.5e6*sf, ...)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_vecs = 500, 500
    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{c} {n}" for c in COLORS for n in NOUNS]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [names[i] for i in rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": P_TYPES[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", orders_columns(rng, n_ord, n_cust))
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, 1, 2499, n_li),
    })
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64) + 1
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(EVENTS_T0_US + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: random word strings; 5% are an earlier doc's text + " dup"
    # (near-duplicates) and 1% are exact clones (clone families)
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), k)]) for k in lens]
    for i in range(n_docs):
        u = rng.random()
        if u < 0.06:
            src = int(rng.integers(0, n_docs))
            if src != i:
                texts[i] = texts[src] + (" dup" if u < 0.05 else "")
    langs = rng.choice(LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })


ORDERS_TOPIC = "dbserver1.public.orders"
EVENTS_TOPIC = "dbserver1.public.events"
POISON_KINDS = ("null_value", "malformed_json", "missing_op")


@dataclass
class Changelog:
    """A seeded envelope changelog: one snapshot file (``op='r'`` for every
    order) and ``n_epochs`` change files. Offsets are one monotone sequence
    across all files and each file is a contiguous offset range.

    Per change epoch: ``orders`` updates, deletes and inserts a seeded
    ``change_lo``..``change_hi`` share of its live keys, each key at most
    once; ``events`` contributes ``events_per_epoch`` changes on
    ``hot_keys`` users with the op taken from ``event_type`` (signup -> c,
    error -> d, else u). A ``poison_frac`` share of every file is poisoned,
    the three kinds in turn.
    """

    seed: int
    n_orders: int = 150_000
    n_epochs: int = 10
    change_lo: float = 0.01
    change_hi: float = 0.02
    events_per_epoch: int = 5_000
    hot_keys: int = 1_500
    poison_frac: float = 0.01
    #: per file: list of (offset, topic, value-or-None) records
    files: list = field(default_factory=list)
    #: good (parseable) records: table -> list of tuples, see _emit
    good: dict = field(default_factory=lambda: {"public_orders": [], "public_events": []})
    #: per file: good records by table, poisoned records by reason, and
    #: the file's last offset
    good_per_file: list = field(default_factory=list)
    poisoned_per_file: list = field(default_factory=list)
    last_offset: list = field(default_factory=list)

    def __post_init__(self) -> None:
        rng = np.random.default_rng(self.seed)
        self._offset = 0
        self._event_id = 0
        cols = orders_columns(rng, self.n_orders, 15_000)
        cols["o_orderdate"] = cols["o_orderdate"].astype(np.int64)  # micros
        names = list(cols)
        self._rows = {
            vals[0]: dict(zip(names, vals))
            for vals in zip(*(cols[c].tolist() for c in names))
        }
        self._next_key = self.n_orders
        self._ts_ms = 1_700_000_000_000
        recs = [("orders", "r", None, dict(r)) for r in self._rows.values()]
        self.files.append(self._emit(rng, recs))
        for _ in range(self.n_epochs):
            self.files.append(self._emit(rng, self._epoch_changes(rng)))

    def _epoch_changes(self, rng) -> list:
        live = np.fromiter(self._rows.keys(), dtype=np.int64)
        m = int(len(live) * rng.uniform(self.change_lo, self.change_hi))
        picked = rng.choice(live, size=m, replace=False)
        kinds = rng.choice(3, size=m, p=[0.7, 0.15, 0.15])  # update/delete/insert
        recs = []
        for key, kind in zip(picked.tolist(), kinds.tolist()):
            before = self._rows[key]
            if kind == 1:
                recs.append(("orders", "d", before, None))
                del self._rows[key]
                continue
            if kind == 2:
                key = self._next_key
                self._next_key += 1
                after = dict(before, o_orderkey=key)
                self._rows[key] = after
                recs.append(("orders", "c", None, after))
                continue
            after = dict(
                before,
                o_orderstatus=str(STATUSES[rng.integers(0, 3)]),
                o_totalprice=float(np.round(rng.uniform(1000.0, 500000.0), 2)),
                o_orderpriority=str(PRIORITIES[rng.integers(0, 5)]),
            )
            self._rows[key] = after
            recs.append(("orders", "u", before, after))
        n = self.events_per_epoch
        users = rng.integers(0, self.hot_keys, n)
        types = EVENT_TYPES[rng.integers(0, 5, n)]
        values = np.round(rng.exponential(50.0, n), 2)
        op_of = {"signup": "c", "error": "d"}
        for u, t, v in zip(users.tolist(), types.tolist(), values.tolist()):
            row = {"user_id": u, "event_id": self._event_id, "value": v, "event_type": t}
            self._event_id += 1
            op = op_of.get(t, "u")
            recs.append(("events", op, row if op == "d" else None, None if op == "d" else row))
        order = rng.permutation(len(recs))  # interleave the two tables
        return [recs[i] for i in order]

    def _emit(self, rng, recs: list) -> list:
        out = []
        good = {t: 0 for t in self.good}
        poisoned = {k: 0 for k in POISON_KINDS}
        poison = rng.random(len(recs)) < self.poison_frac
        for (table, op, before, after), bad in zip(recs, poison):
            off = self._offset
            self._offset += 1
            self._ts_ms += 1
            topic = ORDERS_TOPIC if table == "orders" else EVENTS_TOPIC
            payload = {
                "before": before, "after": after, "op": op, "ts_ms": self._ts_ms,
                "source": {"db": "shop", "schema": "public", "table": table, "lsn": off},
            }
            if bad:
                kind = POISON_KINDS[off % 3]
                poisoned[kind] += 1
                if kind == "null_value":
                    value = None
                elif kind == "malformed_json":
                    value = json.dumps({"payload": payload})[:40]
                else:
                    del payload["op"]
                    value = json.dumps({"payload": payload})
            else:
                value = json.dumps({"payload": payload})
                row = after if after is not None else before
                self.good[f"public_{table}"].append((off, op, row))
                good[f"public_{table}"] += 1
            out.append((off, topic, value))
        self.good_per_file.append(good)
        self.poisoned_per_file.append(poisoned)
        self.last_offset.append(self._offset - 1)
        return out

    @staticmethod
    def write_file(records: list, path: str) -> int:
        """Write one file as JSON lines (value, topic, offset); returns bytes."""
        with open(path, "w") as fh:
            for off, topic, value in records:
                fh.write(json.dumps({"value": value, "topic": topic, "offset": off}))
                fh.write("\n")
        return os.path.getsize(path)
