"""Seeded inputs for the perfbench workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical parquet files and yields the same operation sequences.
The generator is independent of ``kbrowse_spark``: it carries its own
Kafka murmur2 partitioner, so a bug in the engine's copy shows up as a
failed output check instead of cancelling out.

Topics are written in the Kafka-envelope shape the service's
``source-parquet`` path reads (key, value, topic, partition, offset,
timestamp, timestampType), several files per topic so that a full scan
splits into at least as many tasks as there are cores.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_PARTITIONS = 8
BASE_TS_US = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z

ENVELOPE_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
    ]
)


# ---------------------------------------------------------------- partitioner


def murmur2(data: bytes) -> int:
    """Kafka's 32-bit murmur2 (``org.apache.kafka.common.utils.Utils``)."""
    m, mask = 0x5BD1E995, 0xFFFFFFFF
    n = len(data)
    h = (0x9747B28C ^ n) & mask
    body = n - n % 4
    for i in range(0, body, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * m) & mask
        k ^= k >> 24
        k = (k * m) & mask
        h = ((h * m) & mask) ^ k
    tail = data[body:]
    if len(tail) == 3:
        h ^= tail[2] << 16
    if len(tail) >= 2:
        h ^= tail[1] << 8
    if tail:
        h ^= tail[0]
        h = (h * m) & mask
    h ^= h >> 13
    h = (h * m) & mask
    return h ^ (h >> 15)


def kafka_partition(key: str, n_partitions: int = N_PARTITIONS) -> int:
    """Partition Kafka's DefaultPartitioner picks for a keyed record."""
    return (murmur2(key.encode()) & 0x7FFFFFFF) % n_partitions


# ---------------------------------------------------------------- topics


@dataclass
class Record:
    key: str
    value: bytes
    topic: str
    partition: int
    offset: int
    ts_us: int
    # What the engine renders for ``value`` (the decoded, stringified
    # payload) and what a pioneer row carries after its JSON parse.
    value_str: str
    value_obj: object


def zipf_keys(rng: np.random.Generator, n_keys: int, size: int, s: float = 1.1):
    """``size`` key ids drawn from a Zipf(s) law over ranks 1..n_keys."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    return rng.choice(n_keys, size=size, p=p / p.sum())


def place(records_kv, topic: str, first_ts_us: int, step_us: int, offsets=None):
    """Assign partition (murmur2 of the key), per-partition offset and a
    strictly increasing CreateTime to (key, value, value_str, value_obj)
    tuples, in order.  ``offsets`` carries the next offset per partition
    across calls (follow-mode arrivals continue a topic)."""
    offsets = offsets if offsets is not None else [0] * N_PARTITIONS
    out = []
    for i, (key, value, value_str, value_obj) in enumerate(records_kv):
        p = kafka_partition(key)
        out.append(
            Record(key, value, topic, p, offsets[p], first_ts_us + i * step_us,
                   value_str, value_obj)
        )
        offsets[p] += 1
    return out


def write_envelope(records: list[Record], path: str) -> None:
    """One envelope parquet file; written under a hidden temporary name
    and renamed into place, so a directory watcher never sees half a
    file."""
    table = pa.table(
        {
            "key": [r.key.encode() for r in records],
            "value": [r.value for r in records],
            "topic": [r.topic for r in records],
            "partition": pa.array([r.partition for r in records], pa.int32()),
            "offset": pa.array([r.offset for r in records], pa.int64()),
            "timestamp": pa.array([r.ts_us for r in records],
                                  pa.timestamp("us", tz="UTC")),
            "timestampType": pa.array([0] * len(records), pa.int32()),
        },
        schema=ENVELOPE_SCHEMA,
    )
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def write_topic(records: list[Record], topic_dir: str, n_files: int) -> None:
    """Split a topic over ``n_files`` files by position (each file spans
    every partition, as a Kafka log segment dump would not, but as a
    time-sliced export does)."""
    os.makedirs(topic_dir, exist_ok=True)
    bounds = np.linspace(0, len(records), n_files + 1).astype(int)
    for i in range(n_files):
        write_envelope(
            records[bounds[i] : bounds[i + 1]],
            os.path.join(topic_dir, f"part-{i:03d}.parquet"),
        )


def clicks_topic(rng: np.random.Generator, n_records: int, n_keys: int):
    """JSON-string topic: Zipf-skewed ``user-<id>`` keys."""
    ids = zipf_keys(rng, n_keys, n_records)
    pages = rng.integers(0, 500, n_records)
    ms = rng.integers(1, 5000, n_records)
    kv = []
    for i in range(n_records):
        obj = {"user": int(ids[i]), "page": f"/p/{pages[i]}", "ms": int(ms[i]),
               "seq": i}
        s = json.dumps(obj)
        kv.append((f"user-{ids[i]}", s.encode(), s, obj))
    return place(kv, "clicks", BASE_TS_US, 1000)


# ---------------------------------------------------------------- follow arrivals

FOLLOW_RECORDS_PER_FILE = 10
FOLLOW_MATCHES_PER_FILE = 1  # 10% of records match the follow regex


def follow_batch(rng: np.random.Generator, file_no: int, ts_us: int, offsets):
    """One arrival file: FOLLOW_RECORDS_PER_FILE JSON-string records
    sharing the scheduled CreateTime ``ts_us``, exactly
    FOLLOW_MATCHES_PER_FILE of them ``"kind": "alert"``."""
    alert = set(rng.choice(FOLLOW_RECORDS_PER_FILE, FOLLOW_MATCHES_PER_FILE,
                           replace=False).tolist())
    kv = []
    for j in range(FOLLOW_RECORDS_PER_FILE):
        obj = {"file": file_no, "j": j,
               "kind": "alert" if j in alert else "info",
               "host": f"h{int(rng.integers(0, 64))}"}
        s = json.dumps(obj)
        kv.append((f"host-{obj['host']}-{file_no}-{j}", s.encode(), s, obj))
    return place(kv, "logs", ts_us, 0, offsets)


# ---------------------------------------------------------------- catalog tables


def write_catalog_tables(rng: np.random.Generator, sf_dir: str, scale: int):
    """TPC-H-shaped star schema plus ``documents`` in the column layout
    the catalog builders read (one parquet per table).  ``scale``
    multiplies 150 customers / 10 suppliers / 1500 orders / 50
    documents; about 30% of documents carry a passage copied from an
    earlier one, so substring dedup has spans to find."""
    os.makedirs(sf_dir, exist_ok=True)

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))

    ts = pa.timestamp("us")
    save("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                               "MIDDLE EAST"]})
    save("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)],
                                            pa.int32())})
    n_cust, n_supp, n_ord = 150 * scale, 10 * scale, 1500 * scale
    save("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    save("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    day0 = np.datetime64("1992-01-01", "us")
    days = rng.integers(0, 365 * 7, n_ord)
    save("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(day0 + days * np.timedelta64(1, "D"), ts),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ok = np.repeat(np.arange(n_ord), lines)
    save("lineitem", {
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 200 * scale, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(
            day0 + (days[l_ok] + rng.integers(1, 120, n_li))
            * np.timedelta64(1, "D"), ts),
    })
    vocab = ("the a key value row table part hash scan merge sort batch "
             "spark window line fast slow agg join index").split()
    n_docs = 50 * scale
    docs = [list(rng.choice(vocab, int(rng.integers(20, 90))))
            for _ in range(n_docs)]
    for i in range(1, n_docs):
        if rng.random() < 0.3:  # plant a passage copied from an earlier doc
            src = docs[int(rng.integers(0, i))]
            s = int(rng.integers(0, len(src) - 10))
            at = int(rng.integers(0, len(docs[i])))
            docs[i][at:at] = src[s : s + int(rng.integers(10, 20))]
    texts = [" ".join(d) for d in docs]
    save("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
