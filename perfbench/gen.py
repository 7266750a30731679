"""Seeded input generators for the benchmark.

Everything the engine reads during a run is made here from ``--seed``:
the same seed gives the same inputs, and every seed gives inputs of the
same size and shape, so runs with different seeds measure the same amount
of work.

- :func:`write_tables` writes the ten parquet tables the registry plans
  read (same schemas and value domains as the engine's test data).
- :func:`order_batches` yields files of nested order JSON lines shaped like
  the reference's Walmart order topic, with a fixed share malformed and a
  fixed share out of order within the watermark bound.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "green", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(
    out_dir: str,
    seed: int,
    n_orders: int = 15_000,
    n_events: int = 10_000,
    n_docs: int = 5_000,
) -> dict[str, int]:
    """Write the registry's ten tables under ``out_dir``; returns row
    counts. Sizes scale like the engine's test data: customers = orders /
    10, parts = orders / 7.5, suppliers = orders / 150, lineitem ≈ 4 lines
    per order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(n_orders // 10, 10)
    n_part = max(int(n_orders / 7.5), 10)
    n_supp = max(n_orders // 150, 10)
    n_users = max(n_events // 66, 10)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    order_days = rng.integers(0, 2405, n_orders)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _ts(_EPOCH_1995_US + order_days * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    per_order = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype="int64"), per_order)
    l_number = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype("int32")
    n_li = len(l_order)
    ship_days = order_days[l_order] + rng.integers(1, 122, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": l_number,
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(_EPOCH_1995_US + ship_days * _DAY_US),
    })
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(_EPOCH_2024_US + ev_ts),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(20.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = _documents(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    n_emb = max(n_docs * 2 // 5, 10)
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    emb = centers[labels] + rng.normal(0.0, 0.5, (n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(emb.astype("float32")), pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })
    return {"orders": n_orders, "lineitem": n_li, "events": n_events,
            "documents": n_docs, "embeddings": n_emb}


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Word-soup documents over a 30-word vocabulary. The last 5% are copies
    of others plus the word ``dup``, two copies of each of a set of distinct
    originals, so near duplicates form 3-document stars of the same shape for
    every seed, and the dedup graph loops run the same number of rounds."""
    lengths = rng.integers(8, 100, n)
    words = rng.choice(VOCAB, int(lengths.sum()))
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(words[pos:pos + k]))
        pos += k
    n_dup = n // 20
    n_orig = n - n_dup
    sources = np.repeat(rng.choice(n_orig, (n_dup + 1) // 2, replace=False), 2)[:n_dup]
    for i, src in enumerate(sources, start=n_orig):
        texts[i] = texts[src] + " dup"
    return texts


# ---------------------------------------------------------------------------
# Order stream

STATES = ["AL", "AZ", "CA", "CO", "FL", "GA", "IL", "MA", "MI", "MN", "NC",
          "NJ", "NY", "OH", "OR", "PA", "TN", "TX", "VA", "WA"]
ORDER_EPOCH_MS = 1_700_000_000_000
ORDER_STEP_MS = 10  # event time advances 10 ms per order
MALFORMED_EVERY = 100  # 1% of orders are truncated JSON
LATE_EVERY = 20  # 5% of orders carry an event time moved back ...
LATE_MAX_MS = 20_000  # ... by up to 20 s, inside the 30 s watermark
WINDOW_MS = 60_000  # stage 2 counts lines in 1-minute event-time windows


_LINE = (
    '{{"lineNumber":"{n}","item":{{"productName":"Product {sku}","sku":"SKU{sku:04d}",'
    '"condition":"New"}},"charges":{{"charge":[{{"chargeType":"PRODUCT",'
    '"chargeName":"ItemPrice","chargeAmount":{{"currency":"USD","amount":{price}}},'
    '"tax":{{"taxName":"Tax1","taxAmount":{{"currency":"USD","amount":{tax}}}}}}}]}},'
    '"orderLineQuantity":{{"unitOfMeasurement":"EACH","amount":"{qty}"}},'
    '"statusDate":{status_ms},"orderLineStatuses":{{"orderLineStatus":['
    '{{"status":"Created","statusQuantity":{{"unitOfMeasurement":"EACH","amount":"1"}},'
    '"trackingInfo":null}},{{"status":"{status}","statusQuantity":'
    '{{"unitOfMeasurement":"EACH","amount":"1"}},"trackingInfo":{{"shipDateTime":{ship_ms},'
    '"carrierName":{{"carrier":"UPS"}},"methodCode":"Value","trackingNumber":"1Z{i}{n}"}}}}]}},'
    '"fulfillment":{{"fulfillmentOption":"S2H","shipMethod":"VALUE"}}}}'
)
_ORDER = (
    '{{"purchaseOrderId":"PO{i:09d}","customerOrderId":"CO{i:09d}",'
    '"customerEmailId":"cust{cust}@example.com","orderDate":{ms},'
    '"shippingInfo":{{"phone":"5550000000","estimatedDeliveryDate":{deliver_ms},'
    '"estimatedShipDate":{ship_ms},"methodCode":"Value","postalAddress":{{'
    '"name":"Customer {i}","address1":"{i} Main St","address2":null,'
    '"city":"Springfield","state":"{state}","postalCode":"80108","country":"USA",'
    '"addressType":"RESIDENTIAL"}},"carrierMethodName":null}},'
    '"orderLines":{{"orderLine":[{lines}]}},'
    '"shipNode":{{"type":"DSV","name":"Node","id":"{node}"}},'
    '"request_time":"2023-11-14 22:13:20"}}'
)
_STATUSES = ["Acknowledged", "Shipped", "Delivered"]


def _order(i: int, rng: random.Random) -> tuple[str, int, int, str]:
    """One order as compact JSON (the shape of ``tests/test_order_etl``'s
    ``make_order``, with varied state, SKUs and 2-3 lines), its line count,
    event time (epoch ms) and ship state."""
    ms = ORDER_EPOCH_MS + i * ORDER_STEP_MS
    if i % LATE_EVERY == LATE_EVERY - 1:
        ms -= rng.randrange(1_000, LATE_MAX_MS)
    n_lines = 2 + (rng.random() < 0.5)
    lines = []
    for n in range(1, n_lines + 1):
        price = rng.randrange(100, 20_000) / 100
        lines.append(_LINE.format(
            n=n, i=i, sku=rng.randrange(500), price=price,
            tax=round(price * 0.07, 2), qty=rng.randrange(1, 5),
            status_ms=ms + 1000, status=rng.choice(_STATUSES),
            ship_ms=ms + 7_200_000))
    state = rng.choice(STATES)
    doc = _ORDER.format(
        i=i, cust=rng.randrange(100_000), ms=ms, deliver_ms=ms + 86_400_000,
        ship_ms=ms + 3_600_000, state=state,
        lines=",".join(lines), node=rng.randrange(50))
    return doc, n_lines, ms, state


@dataclass(frozen=True)
class OrderBatch:
    """The JSON lines of one drop file plus what the checks need to know
    about them."""

    lines: list[str]
    n_valid_lines: int  # order lines in the parseable orders
    n_malformed: int
    # (1-minute window start in epoch ms, ship state) -> order lines of the
    # parseable orders in it: what stage 2's windowed counts must add up to
    window_lines: dict[tuple[int, str], int]


def order_batches(seed: int, first: int, n_files: int, per_file: int):
    """Yield ``n_files`` :class:`OrderBatch` es of ``per_file`` orders,
    order ids ``first ..``. A file depends only on (seed, its first id)."""
    for f in range(n_files):
        lo = first + f * per_file
        rng = random.Random(seed * 1_000_003 + lo)
        lines, n_valid_lines, n_bad = [], 0, 0
        window_lines: dict[tuple[int, str], int] = {}
        for i in range(lo, lo + per_file):
            doc, n_lines, ms, state = _order(i, rng)
            if i % MALFORMED_EVERY == MALFORMED_EVERY - 1:
                doc = doc[: len(doc) // 2]  # truncated: not parseable JSON
                n_bad += 1
            else:
                n_valid_lines += n_lines
                key = (ms - ms % WINDOW_MS, state)
                window_lines[key] = window_lines.get(key, 0) + n_lines
            lines.append(doc)
        yield OrderBatch(lines, n_valid_lines, n_bad, window_lines)


def drop_file(directory: str, name: str, batch: OrderBatch) -> str:
    """Write one drop file and rename it into the watched directory
    atomically, so the file source never lists a half-written file."""
    tmp = os.path.join(os.path.dirname(directory), f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(batch.lines))
        f.write("\n")
    final = os.path.join(directory, name)
    os.rename(tmp, final)
    return final
