"""Seeded input generator for the benchmark.

Writes the ten tables the catalog reads (`graft.core.Tables.names`) as
single-file parquet, with the schemas, key ranges and value distributions
of the project's TPC-H-ish fixture family:

- dimensions: region, nation, customer, supplier, part;
- facts: orders, lineitem, events (time-ordered), documents (token text
  over a 30-word vocabulary, ~5 % planted near-duplicates ending in
  " dup"), embeddings (unit float vectors, dim 64).

`copies > 1` unions K re-keyed copies of the facts the way
`graft.MintScale` does: primary keys shift by copy * 1e9, payloads stay
content-identical, so every LSH/MinHash bucket gets K times denser.

`hourly_batches` makes the micro-batches of the hourly workload: each
changes ~2 % of the orders rows, half as updates to existing keys and
half as new keys, and comes with the checksum of the live table the merge
must produce.

Everything is drawn from one `numpy.random.Generator(seed)`: the same
seed always gives byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_OFFSET = 1_000_000_000
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
PART_ADJ = "blue hot small old red new cold large".split()
PART_NOUN = "bolt gear anvil widget rod ring plate gizmo".split()
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
LANGS, LANG_P = ["en", "zh", "es", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _days(start, end):
    return (np.datetime64(end, "D") - np.datetime64(start, "D")).astype(int)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(base, micros):
    return pa.array(np.datetime64(base, "us") + micros.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def make_tables(seed, sf, n_docs, n_vecs):
    """The ten tables at scale factor `sf` (sf 0.01: 15k orders)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(1, n_cust // 10)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL",
                              "ECONOMY"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    t["orders"] = orders_table(
        np.arange(n_ord, dtype=np.int64), rng.integers(0, n_cust, n_ord),
        rng.integers(0, 3, n_ord), _money(rng, 1000.0, 500_000.0, n_ord),
        rng.integers(0, _days("1995-01-01", "2001-08-01") + 1, n_ord),
        rng.integers(0, 5, n_ord))
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _ts("1995-01-02", rng.integers(
            0, _days("1995-01-02", "2001-11-04") + 1, n_line) * DAY_US)})
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", ev_us),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(VOCAB, n)) for n in rng.integers(10, 100, n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[rng.integers(0, n_docs)] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    v = rng.standard_normal((n_vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
    return t


def orders_table(key, cust, status, price, day, prio):
    return pa.table({
        "o_orderkey": np.asarray(key, np.int64),
        "o_custkey": np.asarray(cust, np.int64),
        "o_orderstatus": np.array(["P", "O", "F"])[status],
        "o_totalprice": np.asarray(price, np.float64),
        "o_orderdate": _ts("1995-01-01", np.asarray(day) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[prio]})


FACT_KEYS = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey"],
             "events": ["event_id"], "documents": ["doc_id"],
             "embeddings": ["vec_id"]}


def mint_copies(tables, k):
    """K re-keyed copies of the facts, dimensions unchanged (MintScale)."""
    out = dict(tables)
    for name, keys in FACT_KEYS.items():
        parts = []
        for c in range(k):
            tb = tables[name]
            for key in keys:
                i = tb.schema.get_field_index(key)
                shifted = pa.array(tb.column(key).to_numpy() + c * KEY_OFFSET)
                tb = tb.set_column(i, key, shifted)
            parts.append(tb)
        out[name] = pa.concat_tables(parts)
    return out


def orders_checksum(tb):
    """Order-independent checksum of an orders table; the harness computes
    the same expression over the live table in Spark."""
    key = tb.column("o_orderkey").to_numpy()
    cust = tb.column("o_custkey").to_numpy()
    status = np.array([ord(s) for s in tb.column("o_orderstatus").to_pylist()])
    cents = np.round(tb.column("o_totalprice").to_numpy() * 100).astype(np.int64)
    day = (tb.column("o_orderdate").to_numpy() - EPOCH_1995) // np.timedelta64(1, "D")
    return [int(len(key)), int(key.sum()), int((cust * 7 + status).sum()),
            int(cents.sum()), int(day.astype(np.int64).sum())]


def hourly_batches(seed, orders, n_batches, frac):
    """Micro-batches over `orders`: each updates frac/2 of the live rows and
    adds frac/2 new keys. Returns (batches, checksum after each batch)."""
    rng = np.random.default_rng([seed, 1])
    def codes(col, values):
        return np.array([values.index(s) for s in orders.column(col).to_pylist()])

    live = {"key": orders.column("o_orderkey").to_numpy().copy(),
            "cust": orders.column("o_custkey").to_numpy().copy(),
            "status": codes("o_orderstatus", ["P", "O", "F"]),
            "price": orders.column("o_totalprice").to_numpy().copy(),
            "day": ((orders.column("o_orderdate").to_numpy() - EPOCH_1995)
                    // np.timedelta64(1, "D")).astype(np.int64),
            "prio": codes("o_orderpriority", PRIORITIES)}
    n_cust = int(live["cust"].max()) + 1
    half = max(1, int(len(live["key"]) * frac / 2))
    next_key = int(live["key"].max()) + 1
    batches, sums = [], []
    for _ in range(n_batches):
        upd = rng.choice(len(live["key"]), half, replace=False)
        new = np.arange(next_key, next_key + half, dtype=np.int64)
        next_key += half
        b = {"key": np.concatenate([live["key"][upd], new]),
             "cust": rng.integers(0, n_cust, 2 * half),
             "status": rng.integers(0, 3, 2 * half),
             "price": _money(rng, 1000.0, 500_000.0, 2 * half),
             "day": rng.integers(0, _days("1995-01-01", "2001-08-01") + 1, 2 * half),
             "prio": rng.integers(0, 5, 2 * half)}
        for c in b:
            live[c][upd] = b[c][:half]
            live[c] = np.concatenate([live[c], b[c][half:]])
        batch = orders_table(b["key"], b["cust"], b["status"], b["price"],
                             b["day"], b["prio"])
        batches.append(batch)
        sums.append(orders_checksum(orders_table(
            live["key"], live["cust"], live["status"], live["price"],
            live["day"], live["prio"])))
    return batches, sums


def write_tables(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))


def generate(spec, seed, out_dir):
    """Materialize one workload's inputs under `out_dir`; return a manifest."""
    tables = make_tables(seed, spec["sf"], spec["docs"], spec["vecs"])
    if spec.get("copies", 1) > 1:
        tables = mint_copies(tables, spec["copies"])
    write_tables(tables, os.path.join(out_dir, "tables"))
    manifest = {"seed": seed, "rows": {n: tb.num_rows for n, tb in tables.items()}}
    if spec.get("batches"):
        batches, sums = hourly_batches(seed, tables["orders"], spec["batches"],
                                       spec["batch_frac"])
        bdir = os.path.join(out_dir, "batches")
        os.makedirs(bdir, exist_ok=True)
        for i, b in enumerate(batches):
            pq.write_table(b, os.path.join(bdir, f"batch-{i:04d}.parquet"))
        manifest["batch_checksums"] = sums
        manifest["batch_rows"] = [b.num_rows for b in batches]
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
