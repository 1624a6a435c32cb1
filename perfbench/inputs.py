"""Seeded inputs for the benchmark workloads.

Everything the program reads is written here, during set-up, from the
workload seed alone: the same seed gives byte-identical files. The
program under test only ever sees these files.

- ``write_query_tables``: the tables the ``iterative_barrier`` mix reads
  (``customer`` and ``embeddings``), in the column layout of the repo's
  sf0.01 fixtures: 1,500 customers and 500 unit-norm 64-d float32
  vectors around 10 weak cluster centroids.
- ``write_raw_feed``: the ``lakehouse_refresh`` raw orders batch, all
  string columns, with case/whitespace-variant duplicates, null
  customer keys and unparseable timestamps planted in known numbers.
- ``write_cdc_delta``: a delta touching ~2 % of the feed's customers
  (new orders, status changes).
- ``request_stream``: the serving requests, 90 % known keys with Zipf
  skew, 5 % unknown keys (404) and 5 % blank keys (422).
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["delivered", "shipped", "processing", "invoiced", "approved", "canceled"]
# Raw-feed spellings the silver stage canonicalizes (STATUS_ALIASES and
# case/whitespace normalization); all of them map to an allowed status.
STATUS_SPELLINGS = {
    "delivered": ["delivered", "DELIVERED", " Delivered "],
    "shipped": ["shipped", "Shipped"],
    "processing": ["processing", "shipment_pending"],
    "invoiced": ["invoiced"],
    "approved": ["approved"],
    "canceled": ["canceled", "cancelled", "CANCELLED"],
}
FEED_START = dt.datetime(2024, 1, 1)
FEED_DAYS = 540
AS_OF_DATE = "2025-03-31"  # as_of + 60-day label horizon < feed end
TS_FMT = "%Y-%m-%d %H:%M:%S"


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def write_query_tables(
    out_dir: str, seed: int, n_customers: int = 1500, n_vectors: int = 500
) -> None:
    """``customer.parquet`` and ``embeddings.parquet`` under ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    keys = np.arange(n_customers, dtype=np.int64)
    write_table(
        pa.table(
            {
                "c_custkey": keys,
                "c_name": [f"Customer#{k:09d}" for k in keys],
                "c_nationkey": rng.integers(0, 25, n_customers).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
                "c_mktsegment": rng.choice(SEGMENTS, n_customers),
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )

    dim, n_labels = 64, 10
    centroids = rng.standard_normal((n_labels, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, n_labels, n_vectors).astype(np.int32)
    vecs = 0.15 * centroids[labels] + rng.standard_normal((n_vectors, dim)) / np.sqrt(dim)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write_table(
        pa.table(
            {
                "vec_id": np.arange(n_vectors, dtype=np.int64),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": labels,
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )


@dataclass(frozen=True)
class FeedCounts:
    """What silver must publish and reject for a generated feed."""

    rows: int
    published: int  # distinct valid order ids
    rejected: int  # invalid rows + duplicate losers
    invalid: int
    duplicates: int


def _spell(rng, status: str) -> str:
    options = STATUS_SPELLINGS[status]
    return options[int(rng.integers(len(options)))]


def _raw_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[], [], [], []]
    return pa.table(
        {
            name: pa.array(list(col), type=pa.string())
            for name, col in zip(
                ["order_id", "customer_id", "order_status", "order_purchase_timestamp"],
                cols,
            )
        }
    )


def write_raw_feed(
    path: str,
    seed: int,
    n_customers: int = 1500,
    n_orders: int = 15000,
    n_dups: int = 300,
    n_null_keys: int = 60,
    n_bad_ts: int = 40,
) -> tuple[FeedCounts, dict[str, list[tuple]]]:
    """Write the raw orders batch; return planted counts and, per
    customer id, that customer's valid ``(order_id, ts, status)`` rows."""
    rng = np.random.default_rng([seed, 2])
    cust = rng.integers(0, n_customers, n_orders)
    secs = rng.integers(0, FEED_DAYS * 86400, n_orders)
    status = rng.choice(STATUSES, n_orders, p=[0.55, 0.15, 0.1, 0.08, 0.07, 0.05])
    rows: list[tuple] = []
    by_customer: dict[str, list[tuple]] = {}
    for i in range(n_orders):
        oid, cid = f"ord-{i:07d}", f"cust-{int(cust[i]):06d}"
        ts = (FEED_START + dt.timedelta(seconds=int(secs[i]))).strftime(TS_FMT)
        rows.append((oid.upper() if i % 7 == 0 else oid, cid, _spell(rng, status[i]), ts))
        by_customer.setdefault(cid, []).append((oid, ts, status[i]))

    # Duplicates: an earlier copy of an existing order, key spelled in
    # another case/whitespace variant. Silver keeps the later timestamp,
    # so the original row stays the winner and the copy is rejected.
    for i in rng.choice(n_orders, n_dups, replace=False):
        oid, cid, st, ts = rows[i]
        earlier = (dt.datetime.strptime(ts, TS_FMT) - dt.timedelta(hours=1)).strftime(TS_FMT)
        variant = f" {oid.swapcase()} " if i % 2 else oid.swapcase()
        rows.append((variant, cid.upper(), st, earlier))
    # Invalid rows: null customer keys and unparseable timestamps, each
    # on an order id of its own so no duplicate can shadow it.
    for j in range(n_null_keys):
        rows.append((f"ord-nk-{j:05d}", None, "delivered", "2024-06-01 10:00:00"))
    for j in range(n_bad_ts):
        rows.append((f"ord-bt-{j:05d}", f"cust-{j:06d}", "shipped", "not-a-date"))
    order = rng.permutation(len(rows))
    write_table(_raw_table([rows[k] for k in order]), path)
    invalid = n_null_keys + n_bad_ts
    counts = FeedCounts(
        rows=len(rows),
        published=n_orders,
        rejected=invalid + n_dups,
        invalid=invalid,
        duplicates=n_dups,
    )
    return counts, by_customer


def write_cdc_delta(
    path: str, seed: int, by_customer: dict[str, list[tuple]], share: float = 0.02
) -> tuple[list[str], int]:
    """Write the CDC delta; return the touched customer ids, sorted, and
    the number of status changes.

    Each touched customer gets one new order, and half of them also
    get a status change on an existing order (same key and timestamp;
    the later ingest wins in silver)."""
    rng = np.random.default_rng([seed, 3])
    customers = sorted(by_customer)
    touched = sorted(
        customers[k]
        for k in rng.choice(len(customers), max(1, int(share * len(customers))), replace=False)
    )
    rows = []
    for n, cid in enumerate(touched):
        secs = int(rng.integers(0, FEED_DAYS * 86400))
        ts = (FEED_START + dt.timedelta(seconds=secs)).strftime(TS_FMT)
        rows.append((f"ord-cdc-{n:06d}", cid, "delivered", ts))
        if n % 2 == 0:
            oid, old_ts, _ = by_customer[cid][int(rng.integers(len(by_customer[cid])))]
            rows.append((oid, cid, "canceled", old_ts))
    write_table(_raw_table(rows), path)
    return touched, len(rows) - len(touched)


def request_stream(
    seed: int, known: list[str], n: int, zipf_a: float = 1.2
) -> list[tuple[str, int]]:
    """``(customer_id, expected_status)`` pairs: 90 % known keys drawn
    Zipf-skewed over a seeded ranking, 5 % unknown (404), 5 % blank (422)."""
    rng = np.random.default_rng([seed, 4])
    ranking = [known[k] for k in rng.permutation(len(known))]
    kind = rng.random(n)
    ranks = (rng.zipf(zipf_a, n) - 1) % len(ranking)
    out = []
    for i in range(n):
        if kind[i] < 0.90:
            out.append((ranking[ranks[i]], 200))
        elif kind[i] < 0.95:
            out.append((f"cust-unknown-{i:07d}", 404))
        else:
            out.append((" " * (1 + i % 3), 422))
    return out
