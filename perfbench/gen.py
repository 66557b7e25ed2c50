"""Seeded inputs owned by the benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical inputs. The program under test only ever sees the files
these functions write.

* `ingest_plan` builds RuuviTag gateway messages (FIXTURES.md F1 shape)
  split into a pre-staged backlog and paced files, with planted
  temperature spikes, invalid messages and re-delivered duplicates, and
  the exact outcome the ingest DAG must produce for them. The devices
  report in turn, each once per second of its own clock, as the
  reference's simulator does (BASELINE.md: 8 devices x 1 reading/s).
* `write_tables` writes `events`, `documents` and `embeddings` parquet
  tables shaped like the repo's sf0.1 fixtures (TESTDATA.md): the same
  schemas, value ranges and vocabulary, at the sizes given.
"""
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The ingest DAG pins `now` to this instant (2024-01-15T12:00:00Z); every
# planted reading lies inside the DAG's now ± 24 h clamp window.
NOW_EPOCH = 1705320000
READINGS_START = NOW_EPOCH - 20 * 3600
SENSORS = [  # gateway field -> Ingest.sensorMapping device_type
    ("temperature", "temperature_sensor"),
    ("humidity", "humidity_sensor"),
    ("pressure", "pressure_sensor"),
    ("acceleration_x", "motion_sensor"),
    ("acceleration_y", "motion_sensor"),
    ("acceleration_z", "motion_sensor"),
    ("battery_voltage", "battery_sensor"),
    ("tx_power", "signal_sensor"),
    ("movement_counter", "motion_counter"),
]
ANOMALY_SHARE = 0.05
DUPLICATE_SHARE = 0.03
INVALID_SHARE = 0.01


@dataclass
class IngestPlan:
    """Gateway files plus the outcome the pipeline must reach on them."""
    backlog: list          # list of file contents (JSON lines)
    paced: list            # list of file contents, in drop order
    # per paced file: the (device_id, ts) key of one reading each of its
    # messages stores for the first time
    paced_keys: list
    expected: dict = field(default_factory=dict)


def _mac(rng):
    return ":".join(f"{b:02x}" for b in rng.integers(0, 256, 6))


def ingest_plan(seed, n_devices, backlog, paced):
    """Plan gateway files: `backlog` and `paced` are (files, messages per
    file). A file holds that many messages that store new readings, plus
    the re-deliveries and messages without a device drawn among them, so
    every file stores something new. Messages reach the DAG in file
    order; new messages cycle through the devices, and device d's k-th
    reading is stamped k seconds after its first."""
    sizes = [backlog[1]] * backlog[0] + [paced[1]] * paced[0]
    rng = np.random.default_rng(seed)
    macs = []
    while len(macs) < n_devices:
        m = _mac(rng)
        if m not in macs:
            macs.append(m)
    seq = [0] * n_devices
    stored = set()            # (device_id, ts) of every stored reading
    anomalies = 0
    quarantined = 0
    valid_fanned = 0          # valid readings before the sink's dedup
    hourly = {}               # (bucket_epoch, device_type) -> count
    sent = []                 # earlier valid lines, for re-delivery
    files, file_keys = [], []
    uptime_dev = 0
    turn = 0                  # new messages so far: whose turn it is
    for size in sizes:
        lines, keys = [], []
        while len(keys) < size:
            r = rng.random()
            if sent and r < DUPLICATE_SHARE:
                line, n_present = sent[int(rng.integers(0, len(sent)))]
                lines.append(line)
                valid_fanned += n_present
                continue
            d = turn % n_devices
            turn += 1
            ts = READINGS_START + seq[d]
            seq[d] += 1
            msg = {
                "device_id": macs[d],
                "device_type": "ruuvitag",
                "timestamp": str(ts),
                "temperature": round(21.0 + (rng.random() - 0.5) * 10.0, 2),
                "humidity": round(45.0 + (rng.random() - 0.5) * 20.0, 2),
                "pressure": round(101325.0 + (rng.random() - 0.5) * 2000.0, 1),
                "acceleration_x": round((rng.random() - 0.5) * 0.1, 3),
                "acceleration_y": round((rng.random() - 0.5) * 0.1, 3),
                "acceleration_z": round(1.0 + (rng.random() - 0.5) * 0.02, 3),
                "battery_voltage": round(2.95 - rng.random() * 0.1, 3),
                "tx_power": 4,
                "movement_counter": seq[d] % 256,
                "measurement_sequence": seq[d],
            }
            spike = rng.random() < ANOMALY_SHARE
            if spike:  # past the 85 °C threshold: T9 must flag it
                msg["temperature"] = round(msg["temperature"] + 80.0, 2)
            kind = rng.random()
            if kind < INVALID_SHARE:
                # no device_id: every fanned reading is quarantined
                del msg["device_id"]
                lines.append(json.dumps(msg))
                quarantined += len(SENSORS)
                continue
            if kind < 2 * INVALID_SHARE:
                # device-uptime timestamp: T5 maps it to `now`; a
                # dedicated device keeps the (device_id, ts) key unique
                msg["device_id"] = f"ee:ee:ee:{uptime_dev >> 8 & 255:02x}:" \
                                   f"{uptime_dev & 255:02x}:00"
                uptime_dev += 1
                msg["timestamp"] = str(int(rng.integers(100, 100000)))
                ts = NOW_EPOCH
            elif kind < 3 * INVALID_SHARE:
                # non-numeric sensor string: the parser nulls the field,
                # so that reading is dropped and the rest are stored
                msg["humidity"] = "n/a"
            line = json.dumps(msg)
            lines.append(line)
            present = [(fld, dt) for fld, dt in SENSORS
                       if not isinstance(msg[fld], str)]
            valid_fanned += len(present)
            for fld, dt in present:
                stored.add((f"{msg['device_id']}_{fld}", ts))
                b = (ts // 3600 * 3600, dt)
                hourly[b] = hourly.get(b, 0) + 1
            anomalies += spike
            keys.append((f"{msg['device_id']}_temperature", ts))
            sent.append((line, len(present)))
        files.append("\n".join(lines) + "\n")
        file_keys.append(keys)
    expected = {
        "messages": sum(f.count("\n") for f in files),
        "stored_rows": len(stored),
        "valid_rows": valid_fanned,
        "duplicates_dropped": valid_fanned - len(stored),
        "quarantined_rows": quarantined,
        "anomaly_rows": anomalies,
        "hourly": sorted([b, t, n] for (b, t), n in hourly.items()),
    }
    n = backlog[0]
    return IngestPlan(files[:n], files[n:], file_keys[n:], expected)


WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def write_tables(seed, out_dir, n_events, n_docs, n_vecs):
    """Write events/documents/embeddings parquet files into out_dir."""
    rng = np.random.default_rng(seed + 1)
    os.makedirs(out_dir, exist_ok=True)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_events)) + start
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_events), pa.int64()),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    pq.write_table(events, f"{out_dir}/events.parquet")

    texts = []
    for _ in range(n_docs):
        r = rng.random()
        if texts and r < 0.03:    # exact re-post of an earlier document
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < 0.08:  # near-duplicate: two words edited
            words = texts[int(rng.integers(0, len(texts)))].split()
            for _ in range(2):
                words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), n)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in
                          rng.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, f"{out_dir}/documents.parquet")

    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    pq.write_table(emb, f"{out_dir}/embeddings.parquet")
