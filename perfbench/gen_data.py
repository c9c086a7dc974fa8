"""Seeded input generator for the benchmark.

Writes the ten catalog tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) as one parquet file each,
with the same column names, physical types and value ranges as the
TPC-H-ish test tables the catalog queries are written against, and builds
the Avro-encoded stream inputs for the two streaming workloads.

Everything is a pure function of the seed: the same seed gives
byte-identical tables and stream files.
"""
import json
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
PART_ADJ = "large hot blue old cold red small green dark light".split()
PART_NOUN = "ring bolt plate screw nut gear pipe valve spring washer".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

# Avro writer schema of a stream message value. The annotations drive the
# subscriptions' masking: `public` drops user_id, value and props,
# `confidential` drops value only.
EVENT_AVRO_SCHEMA = json.dumps({
    "type": "record", "name": "Event", "fields": [
        {"name": "id", "type": "long"},
        {"name": "ts", "type": "long"},
        {"name": "user_id", "type": "long", "@aether_masking": "confidential"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double", "@aether_masking": "secret"},
        {"name": "props", "type": "string", "@aether_masking": "confidential"},
    ]})

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000      # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200_000_000    # 2024-01-01T00:00:00Z in µs


def _ts_us(values):
    return pa.array(values.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _events(rng, n):
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(15, n // 66), n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.minimum(np.round(rng.exponential(50.0, n), 2), 560.0),
        "k": rng.integers(0, 100, n),
    }


def write_tables(out, sf, seed):
    """The ten catalog tables at scale factor `sf`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    adj, noun = rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part)
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts_us(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}),
        f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts_us(EPOCH_1995 + rng.integers(1, 2499, n_li) * DAY_US)}),
        f"{out}/lineitem.parquet")
    ev = _events(rng, n_ev)
    _write(pa.table({
        "event_id": ev["event_id"], "ts": _ts_us(ev["ts"]),
        "user_id": ev["user_id"], "event_type": ev["event_type"],
        "value": ev["value"], "props": [f'{{"k": {k}}}' for k in ev["k"]]}),
        f"{out}/events.parquet")
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:       # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 80)))))
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out}/embeddings.parquet")


# ---- Avro binary encoding of one stream message value -------------------

def _zigzag(n):
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _avro_string(s):
    b = s.encode("utf-8")
    return _zigzag(len(b)) + b


def avro_event(eid, ts, user, etype, value, props):
    return (_zigzag(eid) + _zigzag(ts) + _zigzag(user) + _avro_string(etype)
            + struct.pack("<d", value) + _avro_string(props))


def _message_table(ev, idx, value_delta=0.0):
    topics, values = [], []
    for i in idx:
        etype = str(ev["event_type"][i])
        topics.append(f"tnt.{etype}")
        values.append(avro_event(int(ev["event_id"][i]), int(ev["ts"][i]) * 1000,
                                 int(ev["user_id"][i]), etype,
                                 float(ev["value"][i]) + value_delta,
                                 f'{{"k": {int(ev["k"][i])}}}'))
    return pa.table({"kafka_topic": pa.array(topics, pa.string()),
                     "value": pa.array(values, pa.binary())})


def _stream_events(seed):
    """The sf0.1 events table (100k events, in time order) as messages."""
    return _events(np.random.default_rng([seed, 2]), 100_000)


def _write_schema(out):
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/event.avsc", "w") as f:
        f.write(EVENT_AVRO_SCHEMA)


def write_catchup(out, seed, files, rows, warm_files, warm_rows):
    """Backlog of `files` files of `rows` new documents each, in event-time
    order (every event is a new document), and `warm_files` smaller
    warm-up files of later events."""
    _write_schema(out)
    os.makedirs(f"{out}/backlog", exist_ok=True)
    os.makedirs(f"{out}/warm", exist_ok=True)
    ev = _stream_events(seed)
    if files * rows + warm_files * warm_rows > len(ev["event_id"]):
        raise ValueError("backlog larger than the events table")
    for i in range(files):
        _write(_message_table(ev, range(i * rows, (i + 1) * rows)),
               f"{out}/backlog/f-{i:05d}.parquet")
    for i in range(warm_files):
        first = files * rows + i * warm_rows
        _write(_message_table(ev, range(first, first + warm_rows)),
               f"{out}/warm/w-{i:05d}.parquet")


def write_live(out, seed, base, files, rows):
    """Base document set, then `files` files of `rows` messages each: half
    unchanged re-deliveries of stored documents, a quarter changed versions
    of stored documents and a quarter new documents. Every id appears at
    most once across the run files."""
    _write_schema(out)
    os.makedirs(f"{out}/base", exist_ok=True)
    os.makedirs(f"{out}/run", exist_ok=True)
    ev = _stream_events(seed)
    same_n, changed_n = rows // 2, rows // 4
    new_n = rows - same_n - changed_n
    if base + files * new_n > len(ev["event_id"]) or files * (same_n + changed_n) > base:
        raise ValueError("live schedule needs more events than the table holds")
    _write(_message_table(ev, range(base)), f"{out}/base/base.parquet")
    stored = np.random.default_rng([seed, 4]).permutation(base)
    for i in range(files):
        s0 = i * (same_n + changed_n)
        same = stored[s0:s0 + same_n]
        changed = stored[s0 + same_n:s0 + same_n + changed_n]
        new = range(base + i * new_n, base + (i + 1) * new_n)
        tbl = pa.concat_tables([_message_table(ev, same),
                                _message_table(ev, changed, 1000.0),
                                _message_table(ev, new)])
        _write(tbl, f"{out}/run/l-{i:05d}.parquet")
