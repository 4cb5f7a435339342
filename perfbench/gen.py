"""Seeded input generator for the benchmark, kept apart from the system
under test: it is plain Python (numpy + pyarrow) and never imports or
launches the collector. It writes Kafka-envelope parquet sources in the
layout `graft.CollectorMain` reads in file mode: the five `kafka_*`
metadata columns plus a binary `value` payload.

Every message is a pure function of (seed, topic, partition, offset): the
payload fields come from a splitmix64 hash of that identity. So a source
append continues offsets where the previous one stopped, and a broker
redelivery is regenerated byte-identical from the identity alone, without
reading back what was landed.

Topic mix (why: the reference detects the codec once per topic, and both
decode paths run in one drain): two msgpack topics and one JSON topic, 8
partitions each, payloads in the market-tick shape the reference's README
describes (symbol, bid/ask price and size, sequence number).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPICS = [("ticks_mp_a", "msgpack"), ("ticks_mp_b", "msgpack"), ("ticks_json", "json")]
PARTITIONS = 8
BASE_TS_MS = 1704067200000  # 2024-01-01T00:00:00Z
TS_STEP_MS = 5000           # one message per partition every 5 s
MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)

SCHEMA = pa.schema([
    ("kafka_topic", pa.string()),
    ("kafka_partition", pa.int32()),
    ("kafka_offset", pa.int64()),
    ("kafka_timestamp", pa.timestamp("us", tz="UTC")),
    ("kafka_key", pa.string()),
    ("value", pa.binary()),
])


def describe():
    """Fingerprint of the input shape, recorded with every result."""
    codecs = [c for _, c in TOPICS]
    return {
        "topics": len(TOPICS),
        "partitions_per_topic": PARTITIONS,
        "codec_mix": {c: codecs.count(c) for c in sorted(set(codecs))},
    }


def _splitmix(x):
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & MASK64
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & MASK64
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & MASK64
    return x ^ (x >> np.uint64(31))


def _fields(seed, topic_idx, partition, offsets):
    """The payload fields of each message identity, vectorised."""
    with np.errstate(over="ignore"):
        ident = (np.uint64(seed) * np.uint64(1000003) + np.uint64(topic_idx * 64 + partition)) \
            * np.uint64(0x100000001B3)
        h = _splitmix(offsets.astype(np.uint64) ^ ident)
    sym = (h % np.uint64(500)).astype(np.int64)
    # cents never end in 00 or 99, so neither price renders as an integral
    # double (msgpack -> JSON would print "120" and sampling could type the
    # field as long)
    bid_c = ((h >> np.uint64(9)) % np.uint64(1000) + np.uint64(1)).astype(np.int64) * 100 \
        + ((h >> np.uint64(20)) % np.uint64(94) + np.uint64(1)).astype(np.int64)
    ask_c = bid_c + 1 + ((h >> np.uint64(30)) % np.uint64(4)).astype(np.int64)
    bid_sz = ((h >> np.uint64(33)) % np.uint64(1000)).astype(np.int64)
    ask_sz = ((h >> np.uint64(43)) % np.uint64(1000)).astype(np.int64)
    jitter = ((h >> np.uint64(53)) % np.uint64(1000)).astype(np.int64)
    ts_ms = BASE_TS_MS + offsets * TS_STEP_MS + jitter
    return sym, bid_c / 100.0, ask_c / 100.0, bid_sz, ask_sz, ts_ms


def _msgpack(sym, bid, ask, bid_sz, ask_sz, seq):
    """Fixed-width msgpack maps (86 bytes each), built column-wise."""
    n = len(sym)
    parts = []

    def const(b):
        parts.append(np.broadcast_to(np.frombuffer(b, np.uint8), (n, len(b))))

    def be(arr, dtype):
        parts.append(np.ascontiguousarray(arr.astype(dtype)).view(np.uint8).reshape(n, -1))

    const(b"\x86\xa6symbol\xa6SYM")
    digits = np.stack([sym // 100, sym // 10 % 10, sym % 10], axis=1).astype(np.uint8) + ord("0")
    parts.append(digits)
    const(b"\xa9bid_price\xcb")
    be(bid, ">f8")
    const(b"\xa9ask_price\xcb")
    be(ask, ">f8")
    const(b"\xa8bid_size\xcd")
    be(bid_sz, ">u2")
    const(b"\xa8ask_size\xcd")
    be(ask_sz, ">u2")
    const(b"\xa3seq\xce")
    be(seq, ">u4")
    flat = np.ascontiguousarray(np.concatenate(parts, axis=1))
    width = flat.shape[1]
    offs = pa.array(np.arange(0, (n + 1) * width, width, dtype=np.int32))
    return pa.BinaryArray.from_buffers(pa.binary(), n, [None, offs.buffers()[1], pa.py_buffer(flat)])


def _json(sym, bid, ask, bid_sz, ask_sz, seq):
    return pa.array([
        b'{"symbol":"SYM%03d","bid_price":%r,"ask_price":%r,"bid_size":%d,"ask_size":%d,"seq":%d}'
        % (s, b, a, bs, az, q)
        for s, b, a, bs, az, q in zip(sym.tolist(), bid.tolist(), ask.tolist(),
                                      bid_sz.tolist(), ask_sz.tolist(), seq.tolist())
    ], pa.binary())


def messages(seed, topic_idx, partition, offsets):
    """Envelope table of the given message identities."""
    topic, codec = TOPICS[topic_idx]
    offsets = np.asarray(offsets, dtype=np.int64)
    sym, bid, ask, bid_sz, ask_sz, ts_ms = _fields(seed, topic_idx, partition, offsets)
    value = (_msgpack if codec == "msgpack" else _json)(sym, bid, ask, bid_sz, ask_sz, offsets)
    n = len(offsets)
    return pa.table([
        pa.array([topic] * n, pa.string()),
        pa.array(np.full(n, partition, np.int32)),
        pa.array(offsets),
        pa.array(ts_ms * 1000, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        pa.array(np.char.add("SYM", np.char.zfill(sym.astype(str), 3)).tolist(), pa.string()),
        value,
    ], schema=SCHEMA)


def write_messages(src_dir, tag, seed, first_offset, per_partition):
    """Append `per_partition` new messages to every topic partition, one
    file each, starting at `first_offset`. Returns the message count."""
    os.makedirs(src_dir, exist_ok=True)
    offsets = np.arange(first_offset, first_offset + per_partition, dtype=np.int64)
    for t in range(len(TOPICS)):
        for p in range(PARTITIONS):
            pq.write_table(messages(seed, t, p, offsets),
                           os.path.join(src_dir, f"{tag}-{TOPICS[t][0]}-{p}.parquet"))
    return per_partition * len(TOPICS) * PARTITIONS


def write_redeliveries(src_dir, tag, seed, landed_per_partition, n, rng):
    """One file of `n` byte-identical copies of already-landed messages,
    drawn without replacement from offsets [0, landed_per_partition)."""
    total = len(TOPICS) * PARTITIONS
    picks = np.sort(rng.choice(total * landed_per_partition, size=n, replace=False))
    tables = []
    for tp in range(total):
        sel = picks[(picks >= tp * landed_per_partition) & (picks < (tp + 1) * landed_per_partition)]
        if len(sel):
            tables.append(messages(seed, tp // PARTITIONS, tp % PARTITIONS,
                                   sel - tp * landed_per_partition))
    pq.write_table(pa.concat_tables(tables), os.path.join(src_dir, f"{tag}-redelivery.parquet"))
    return n
