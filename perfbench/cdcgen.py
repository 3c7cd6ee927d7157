"""Deterministic Debezium micro-batch generator and expected-state model.

Everything here is plain Python + pyarrow: the benchmark's inputs are
built without the engine, so the engine only ever sees the generated
Kafka-shaped parquet files (key/value binary + metadata).  The same
events drive :class:`CdcModel`, which tracks the curated state the
pipeline must end with (live rows, an order-independent checksum,
history rows and dead-letter rows).

Frames are JSON payloads in the Confluent wire format, written by hand
from the specification rather than through the package's encoders, so
a decode bug cannot cancel out against an encode bug.
"""

from __future__ import annotations

import json
import os
import random
import struct
import zlib
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

KEY_SCHEMA_ID = 1
VALUE_ID = 11
#: A value schema id the registry does not know: such frames are
#: dead-lettered (``on_unknown_schema="keep"``).
UNKNOWN_ID = 999

KEY_DDL = "id BIGINT"
_ROW = "STRUCT<id BIGINT, name STRING, weight DOUBLE>"
VALUE_DDL = f"op STRING, before {_ROW}, after {_ROW}"

KAFKA_SCHEMA = pa.schema(
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
KAFKA_DDL = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)
TS_BASE_US = 1_700_000_000_000_000


def row_checksum(row_id: int, name: str, weight: float, op: str) -> int:
    """CRC-32 of one curated row; summed over rows it is order-free.
    ``cdc_loop.CdcTable.actual_state`` computes the same in Spark."""
    return zlib.crc32(f"{row_id}|{name}|{int(weight * 4)}|{op}".encode())


def confluent(schema_id: int, payload: dict) -> bytes:
    """Confluent wire format: magic byte, big-endian schema id, payload."""
    return b"\x00" + struct.pack(">I", schema_id) + json.dumps(payload).encode()


@dataclass(frozen=True)
class Shape:
    """Sizes of one CDC stream."""

    live_rows: int  # curated rows after the initial load, held constant
    batch_events: int  # change events per incremental micro-batch
    hot_keys: int  # keys updated ``hot_repeats`` times in every batch
    hot_repeats: int
    delete_share: float  # deletes (= inserts) per batch, share of events
    unknown_share: float  # dead-lettered frames per batch, share of events


class CdcModel:
    """Generates the event stream and tracks the state it must produce.

    Every incremental batch mixes inserts of new keys, deletes of live
    keys (as many as inserts, so the live count stays constant), single
    updates, a hot set updated ``hot_repeats`` times, and frames with
    an unregistered schema id.  Events are applied in list order, which
    is also their offset and timestamp order: a key's last event wins.
    """

    def __init__(self, seed: int, shape: Shape) -> None:
        self.rng = random.Random(seed)
        self.shape = shape
        self.live: dict[int, tuple[str, float, str]] = {}
        self.checksum = 0
        self.next_id = 0
        self.offset = 0
        self.batches = 0
        self.seq = 0  # makes every row image's name unique
        self.history_rows = 0
        self.dead_letter_rows = 0
        self.hot = list(range(shape.hot_keys))

    def expected(self) -> dict:
        return {
            "rows": len(self.live),
            "checksum": self.checksum,
            "history_rows": self.history_rows,
            "dead_letter_rows": self.dead_letter_rows,
        }

    def _row(self, row_id: int) -> dict:
        self.seq += 1
        return {
            "id": row_id,
            "name": f"n{self.batches}.{self.seq}",
            "weight": self.rng.randrange(1, 40_000) / 4,
        }

    def next_batch(self) -> list[tuple]:
        """Events of the next micro-batch as
        ``(key, value_schema_id, op, before, after)``, applied to the
        model.  Batch 0 is the initial snapshot (``op='r'``)."""
        s, rng = self.shape, self.rng
        if self.batches == 0:
            events = [(k, VALUE_ID, "r", None, self._row(k)) for k in range(s.live_rows)]
            self.next_id = s.live_rows
        else:
            n_del = int(s.batch_events * s.delete_share)
            n_upd = s.batch_events - 2 * n_del - s.hot_keys * s.hot_repeats
            hot = set(self.hot)
            pool = rng.sample([k for k in self.live if k not in hot], n_del + n_upd)
            events = [(k, VALUE_ID, "d", self._image(k), None) for k in pool[:n_del]]
            events += [(k, VALUE_ID, "u", None, self._row(k)) for k in pool[n_del:]]
            for k in range(self.next_id, self.next_id + n_del):
                events.append((k, VALUE_ID, "c", None, self._row(k)))
            self.next_id += n_del
            for _ in range(s.hot_repeats):
                events += [(k, VALUE_ID, "u", None, self._row(k)) for k in self.hot]
            rng.shuffle(events)
            for _ in range(int(s.batch_events * s.unknown_share)):
                k = rng.choice(self.hot)
                events.insert(
                    rng.randrange(len(events) + 1), (k, UNKNOWN_ID, "u", None, self._row(k))
                )
        for k, vid, op, _before, after in events:
            if vid == UNKNOWN_ID:
                self.dead_letter_rows += 1
                continue
            if k in self.live:
                self.checksum -= row_checksum(k, *self.live[k])
            if op == "d":
                del self.live[k]
            else:
                self.live[k] = (after["name"], after["weight"], op)
                self.checksum += row_checksum(k, *self.live[k])
        self.batches += 1
        # one history row per merged micro-batch, one per post-hook run
        self.history_rows += 2
        return events

    def _image(self, k: int) -> dict:
        name, weight, _ = self.live[k]
        return {"id": k, "name": name, "weight": weight}

    def records(self, events: list[tuple], topic: str, partitions: int) -> list[pa.Table]:
        """Frame events as Kafka records, one table per partition."""
        cols = [{n: [] for n in KAFKA_SCHEMA.names} for _ in range(partitions)]
        for k, vid, op, before, after in events:
            c = cols[k % partitions]
            c["key"].append(confluent(KEY_SCHEMA_ID, {"id": k}))
            c["value"].append(confluent(vid, {"op": op, "before": before, "after": after}))
            c["topic"].append(topic)
            c["partition"].append(k % partitions)
            c["offset"].append(self.offset)
            c["timestamp"].append(TS_BASE_US + self.offset * 1000)
            c["timestampType"].append(0)
            self.offset += 1
        return [pa.Table.from_pydict(c, schema=KAFKA_SCHEMA) for c in cols if c["key"]]


def write_batch(tables: list[pa.Table], out_dir: str) -> int:
    """Write one batch's partition files; returns their total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for i, t in enumerate(tables):
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(t, path, compression="snappy")
        total += os.path.getsize(path)
    return total
