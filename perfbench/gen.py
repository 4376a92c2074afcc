"""Deterministic input generation for the benchmark.

Everything the program reads is produced here from the run's seed:

- ``write_tables``: the ten query tables (TPC-H-ish star schema plus the
  ``events`` stream, ``documents`` text and ``embeddings`` vectors) as one
  parquet file each, the layout ``catalog.load`` reads.
- ``TxnFeed``: bronze transaction JSONL batches for the ``pipeline``
  workload's batch and streaming paths (one random stream each), with
  known shares of re-delivered and invalid rows.
  The feed remembers which ids it has already delivered, so every batch
  comes with the exact number of rows the pipeline must write for it.

The same seed gives byte-identical files; ``digest`` hashes a directory so
a run can state which inputs it measured.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "fr", "zh", "de", "es")  # about 3/7 English
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_WORDS = (
    ("small", "red", "blue", "hot", "old", "large", "green", "shiny"),
    ("ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "valve"),
)
PART_TYPES = ("ECONOMY", "PROMO", "STANDARD", "LARGE", "SMALL", "MEDIUM")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def _days(start: str, n: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us") + n.astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols), os.path.join(out_dir, f"{name}.parquet"), compression="snappy"
    )


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten query tables at ``scale`` (1.0 = TPC-H sf1 row counts
    for the star schema); returns rows per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_evt = max(1000, int(1_000_000 * scale))
    n_users = max(15, n_cust // 10)
    n_docs, n_vecs = 500, 500

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = rng.choice(PART_WORDS[0], n_part)
    noun = rng.choice(PART_WORDS[1], n_part)
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n_line)),
    })
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_evt)
    ).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_evt, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": _money(rng, 0.01, 490, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 90)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs, dtype=np.int32)
    centroids = rng.normal(size=(10, 64))
    vec = rng.normal(size=(n_vecs, 64)) + 0.15 * centroids[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": labels,
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_evt, "documents": n_docs,
        "embeddings": n_vecs, "region": 5, "nation": 25,
    }


class TxnFeed:
    """Bronze transaction batches with known re-delivered and invalid rows.

    Valid rows get fresh ``txn_%09d`` ids. A re-delivered row repeats an
    earlier valid row byte for byte, so it lands in its original day
    partition and the pipeline's anti-join must drop it. Invalid rows carry
    a null key, an amount <= 0 or an unparseable timestamp, and the
    validation gate must drop them. ``batch`` returns the JSONL lines and
    the number of rows the pipeline must write.
    """

    START = dt.datetime(2024, 1, 1)
    CUSTOMERS = 500

    def __init__(self, seed: int, stream: int = 2) -> None:
        self.rng = np.random.default_rng([seed, stream])
        self.next_id = 0
        self.delivered: list[str] = []  # JSON lines of delivered valid rows
        self.valid_ids: set[str] = set()

    def _row(self, day: int) -> dict:
        r = self.rng
        when = self.START + dt.timedelta(days=day, seconds=int(r.integers(0, 86_400)))
        self.next_id += 1
        return {
            "transaction_id": f"txn_{self.next_id:09d}",
            "customer_id": f"cust_{int(r.integers(0, self.CUSTOMERS)):06d}",
            "amount": round(float(r.uniform(10, 5000)), 2),
            "transaction_date": when.strftime("%Y-%m-%d %H:%M:%S"),
            "transaction_type": str(r.choice(("purchase", "refund", "adjustment"))),
            "merchant_id": f"merchant_{int(r.integers(0, 50)):03d}",
            "payment_method": str(
                r.choice(("credit_card", "debit_card", "paypal", "bank_transfer"))
            ),
            "currency": "USD",
            "status": str(r.choice(("completed", "pending", "failed"))),
            "category": str(r.choice(("electronics", "clothing", "food", "books", "home"))),
        }

    def _invalid(self, day: int) -> dict:
        row = self._row(day)
        kind = int(self.rng.integers(0, 5))
        if kind == 0:
            row["transaction_id"] = None
        elif kind == 1:
            row["customer_id"] = None
        elif kind == 2:
            row["amount"] = None
        elif kind == 3:
            row["amount"] = -round(float(self.rng.uniform(0, 50)), 2)
        else:
            row["transaction_date"] = f"bad-ts-{self.next_id}"
        return row

    def batch(
        self,
        days: range,
        rows: int,
        redelivered: float,
        invalid: float,
    ) -> tuple[list[str], int]:
        """One landing: ``rows`` fresh rows spread over ``days``, plus the
        given shares of re-delivered and invalid rows on top."""
        lines = []
        day_ix = self.rng.integers(days.start, days.stop, rows)
        new_ids = []
        for d in day_ix:
            row = self._row(int(d))
            new_ids.append(row["transaction_id"])
            lines.append(json.dumps(row))
        n_re = min(int(rows * redelivered), len(self.delivered))
        if n_re:
            picks = self.rng.choice(len(self.delivered), n_re, replace=False)
            lines.extend(self.delivered[int(i)] for i in picks)
        lines.extend(
            json.dumps(self._invalid(int(d)))
            for d in self.rng.integers(days.start, days.stop, int(rows * invalid))
        )
        self.delivered.extend(lines[:rows])
        self.valid_ids.update(new_ids)
        order = self.rng.permutation(len(lines))
        return [lines[int(i)] for i in order], rows


def write_jsonl(path: str, lines: list[str], files: int) -> int:
    """Split ``lines`` over ``files`` JSONL files under ``path``; returns
    bytes written."""
    os.makedirs(path, exist_ok=True)
    total = 0
    for f in range(files):
        chunk = "\n".join(lines[f::files]) + "\n"
        with open(os.path.join(path, f"part-{f:05d}.jsonl"), "w") as fh:
            fh.write(chunk)
        total += len(chunk)
    return total


def digest(path: str) -> str:
    """sha256 over every file under ``path`` (relative name + bytes)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]
