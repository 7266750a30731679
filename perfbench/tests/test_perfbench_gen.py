"""The generators make the same inputs from the same seed, inputs of the
same size from every seed, and the fixed shares of bad and late orders."""

import json
import os
from collections import Counter

import pyarrow.parquet as pq

import gen


def _tables(path):
    return {name: pq.read_table(os.path.join(path, name))
            for name in sorted(os.listdir(path))}


def test_tables_repeat_for_a_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.write_tables(a, 7, n_orders=300, n_events=200, n_docs=100)
    gen.write_tables(b, 7, n_orders=300, n_events=200, n_docs=100)
    gen.write_tables(c, 8, n_orders=300, n_events=200, n_docs=100)
    ta, tb, tc = _tables(a), _tables(b), _tables(c)
    assert len(ta) == 10
    assert all(ta[n].equals(tb[n]) for n in ta)
    assert not ta["documents.parquet"].equals(tc["documents.parquet"])
    # another seed gives the same sizes wherever a size is fixed
    for name in ("orders.parquet", "events.parquet", "documents.parquet",
                 "customer.parquet", "part.parquet"):
        assert ta[name].num_rows == tc[name].num_rows


def test_documents_hold_near_duplicates(tmp_path):
    gen.write_tables(str(tmp_path), 3, n_orders=100, n_events=100, n_docs=400)
    texts = pq.read_table(str(tmp_path / "documents.parquet")).column("text").to_pylist()
    dups = [t for t in texts if t.endswith(" dup")]
    assert len(dups) == 400 // 20
    assert all(t[: -len(" dup")] in texts[: 400 - len(dups)] for t in dups)
    # two copies of each source: 3-document stars for every seed
    assert sorted(Counter(dups).values()) == [2] * (len(dups) // 2)


def test_order_stream_repeats_for_a_seed():
    a = [b.lines for b in gen.order_batches(5, 0, 3, 50)]
    b = [b.lines for b in gen.order_batches(5, 0, 3, 50)]
    c = [b.lines for b in gen.order_batches(6, 0, 3, 50)]
    assert a == b
    assert a != c


def test_order_stream_shares():
    batches = list(gen.order_batches(9, 0, 4, 250))
    lines = [line for b in batches for line in b.lines]
    good, bad, late = [], 0, 0
    for i, line in enumerate(lines):
        try:
            doc = json.loads(line)
        except json.JSONDecodeError:
            bad += 1
            continue
        good.append(doc)
        if doc["orderDate"] < gen.ORDER_EPOCH_MS + i * gen.ORDER_STEP_MS:
            late += 1
            behind = gen.ORDER_EPOCH_MS + i * gen.ORDER_STEP_MS - doc["orderDate"]
            assert behind < gen.LATE_MAX_MS
    assert bad == sum(b.n_malformed for b in batches) == len(lines) // gen.MALFORMED_EVERY
    assert late > 0 and late <= len(lines) // gen.LATE_EVERY
    n_lines = sum(len(d["orderLines"]["orderLine"]) for d in good)
    assert n_lines == sum(b.n_valid_lines for b in batches)
    assert all(2 <= len(d["orderLines"]["orderLine"]) <= 3 for d in good)
    windows = {}
    for d in good:
        key = (d["orderDate"] - d["orderDate"] % gen.WINDOW_MS,
               d["shippingInfo"]["postalAddress"]["state"])
        windows[key] = windows.get(key, 0) + len(d["orderLines"]["orderLine"])
    want = {}
    for b in batches:
        for key, n in b.window_lines.items():
            want[key] = want.get(key, 0) + n
    assert windows == want
    assert len({d["shippingInfo"]["postalAddress"]["state"] for d in good}) > 5


def test_drop_file_is_renamed_into_place(tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    batch = next(gen.order_batches(1, 0, 1, 10))
    path = gen.drop_file(str(src), "f.json", batch)
    assert os.listdir(src) == ["f.json"]
    assert not [p for p in os.listdir(tmp_path) if p.endswith(".tmp")]
    with open(path) as f:
        assert f.read().splitlines() == batch.lines
