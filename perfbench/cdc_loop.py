"""The ``cdc_steady`` workload: Debezium micro-batches through the hops.

One operation = one micro-batch, timed from the moment its files land
in the source topic (an atomic rename) until it is visible in curated:
``source_to_raw`` → ``raw_to_staged`` → ``staged_to_curated`` with
``standard_post_hooks()``.  The curated table is a txlog table.  All
batches are generated in set-up; the initial load and the warm-up
batches run there too.
"""

from __future__ import annotations

import math
import os
import statistics
import time

from cdcgen import (
    KAFKA_DDL, KEY_DDL, KEY_SCHEMA_ID, VALUE_DDL, VALUE_ID, CdcModel, Shape, write_batch,
)

PROJECT, DATABASE, TABLE = "bench", "inventory", "products"
PARTITIONS = 4  # Kafka partitions: one source file each per batch
SHAPE = Shape(
    live_rows=20_000, batch_events=2_000, hot_keys=40, hot_repeats=4,
    delete_share=0.1, unknown_share=0.01,
)
#: jibaro_spark.config.Settings overrides: a txlog curated table, a
#: vacuum every 2 versions with no age floor (fires several times per
#: run), compaction whenever a snapshot holds more than 2 files.
SETTINGS = dict(
    use_txlog=True, vacuum_every_n_versions=2, vacuum_retention_hours=0,
    compact_min_files=2,
)
#: Incremental batches after the initial load and before the timed
#: region.  Op time keeps falling for about four batches after the
#: initial load (JIT warm-up: 5.4, 5.2, 4.3, 4.2 then 3.2-3.5 s on a
#: quiet 4-core box), and for longer on a contended one; three warm-up
#: batches leave at most one or two slow ops for the median to absorb.
WARMUP_OPS = 3
#: The timed region runs ceil(seconds / NOMINAL_OP_S) operations: a
#: fixed amount of work (so maintenance cadences land the same way in
#: every run) of about ``--seconds`` on a 4-core box.
NOMINAL_OP_S = 3.5


def _resolve(role: str, schema_id: int) -> str:
    """The schema registry: DDL per (role, id); unknown ids raise and
    their frames go to the dead-letter table."""
    return {("key", KEY_SCHEMA_ID): KEY_DDL, ("value", VALUE_ID): VALUE_DDL}[(role, schema_id)]


class CdcTable:
    """One source topic and its raw/staged/curated tables."""

    def __init__(self, spark, lake, work: str, model: CdcModel) -> None:
        self.spark, self.lake, self.model = spark, lake, model
        self.topic_dir = os.path.join(work, "source_topic")
        self.gen_dir = os.path.join(work, "generated")
        self.batches: list[tuple[str, int, int]] = []  # (dir, bytes, events)
        self.expected: list[dict] = []  # model state after each batch
        self.landed = 0

    def generate(self, n: int) -> None:
        for _ in range(n):
            events = self.model.next_batch()
            d = os.path.join(self.gen_dir, f"batch_{len(self.batches):05d}")
            size = write_batch(self.model.records(events, TABLE, PARTITIONS), d)
            self.batches.append((d, size, len(events)))
            self.expected.append(self.model.expected())

    def land(self) -> tuple[int, int]:
        """Atomically move the next batch's files into the topic dir;
        returns (bytes, events)."""
        d, size, n = self.batches[self.landed]
        os.makedirs(self.topic_dir, exist_ok=True)
        for f in sorted(os.listdir(d)):
            os.rename(os.path.join(d, f), os.path.join(self.topic_dir, f"b{self.landed:05d}-{f}"))
        self.landed += 1
        return size, n

    def run_hops(self, timer) -> None:
        from jibaro_spark.maintenance import standard_post_hooks
        from jibaro_spark.streaming import pipeline as pl

        spark, lake = self.spark, self.lake
        with timer("source_to_raw"):
            stream = spark.readStream.schema(KAFKA_DDL).parquet(self.topic_dir)
            pl.source_to_raw(stream, lake, PROJECT, DATABASE, TABLE)
        with timer("raw_to_staged"):
            pl.raw_to_staged(
                spark, lake, PROJECT, DATABASE, TABLE, registry=None,
                content_type="json", schema_resolver=_resolve, on_unknown_schema="keep",
            )
        # staged_to_curated runs the post-hooks itself; each is wrapped
        # so its time is recorded apart from the merge
        hooks = [_timed(h, timer) for h in standard_post_hooks()]
        with timer("staged_to_curated"):
            pl.staged_to_curated(
                spark, lake, PROJECT, DATABASE, TABLE, key_cols=["id"], post_hooks=hooks
            )

    def actual_state(self) -> dict:
        from pyspark.sql import functions as F

        from jibaro_spark import txlog
        from jibaro_spark.catalog import Layer, TableRef

        spark, lake = self.spark, self.lake
        cur = TableRef(str(Layer.CURATED), PROJECT, DATABASE, TABLE)
        key = F.concat_ws(
            "|", F.col("id").cast("string"), "name",
            (F.col("weight") * 4).cast("long").cast("string"), "op",
        )
        row = txlog.read_versioned(spark, lake.path(cur)).select(
            F.count(F.lit(1)).alias("n"), F.sum(F.crc32(key)).alias("sum")
        ).first()
        dlq = lake.path(TableRef(str(Layer.STAGED), PROJECT, DATABASE, f"{TABLE}__dead_letter"))
        return {
            "rows": int(row["n"]),
            "checksum": int(row["sum"] or 0),
            "history_rows": spark.read.parquet(lake.history_path(cur)).count(),
            # the table appears with the first unknown-id frame
            "dead_letter_rows": spark.read.parquet(dlq).count() if os.path.isdir(dlq) else 0,
        }


def _timed(hook, timer):
    def run(spark, catalog, ref):
        with timer("post_hooks"):
            return hook(spark, catalog, ref)

    return run


def _hop_summary(op: dict) -> dict:
    return {"total": round(op["seconds"], 2), **{n: round(s, 2) for n, *_, s in op["spans"]}}


def lake_files(root: str) -> dict[str, tuple[int, int]]:
    """path → (size, mtime_ns) of every file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def run_cdc_steady(spark, seed: int, seconds: float, work: str, tracer, t_start: float) -> dict:
    from jibaro_spark.catalog import Catalog
    from jibaro_spark.config import Settings

    lake_root = os.path.join(work, "lake")
    lake = Catalog(Settings(protocol="file", base_path=lake_root, **SETTINGS))
    table = CdcTable(spark, lake, work, CdcModel(seed, SHAPE))
    marks = {"session": time.time() - t_start}
    n_ops = max(1, math.ceil(seconds / NOMINAL_OP_S))
    table.generate(1 + WARMUP_OPS + n_ops)
    marks["generated"] = time.time() - t_start
    for _ in range(1 + WARMUP_OPS):
        _, n = table.land()
        tracer.begin_op(f"warmup{table.landed:04d}", rows=n)
        table.run_hops(tracer.span)
        tracer.end_op()

    latencies, events, landed_bytes, written = [], 0, 0, 0
    failed, error = 0, None
    listing = lake_files(lake_root)
    setup_s = time.time() - t_start
    tracer.begin_timed()
    while table.landed < len(table.batches):
        size, n = table.land()
        tracer.begin_op(f"op{table.landed:04d}", rows=n)
        t0 = time.perf_counter()
        try:
            table.run_hops(tracer.span)
        except Exception as ex:  # noqa: BLE001 — counted; the run stops
            failed, error = 1, f"{type(ex).__name__}: {ex}"
        latencies.append(time.perf_counter() - t0)
        tracer.end_op()
        if error:
            break
        events += n
        landed_bytes += size
        after = lake_files(lake_root)
        new = {
            os.path.relpath(p, lake_root): v[0]
            for p, v in after.items() if listing.get(p) != v
        }
        written += sum(new.values())
        tracer.record_written(new)
        listing = after
    tracer.end_timed()

    check = None
    if error is None:
        check = {"expected": table.expected[table.landed - 1], "actual": table.actual_state()}
        tracer.dead_letter_rows = check["actual"]["dead_letter_rows"]
        if check["actual"] != check["expected"]:
            # the state is checked once, so every timed op is suspect
            failed = len(latencies)
            error = "curated state differs from the model"
    return {
        "attempted": len(latencies),
        "failed": failed,
        "error": error,
        "metrics": {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(latencies),
            "items_per_s": events / sum(latencies),
            "write_amp": written / landed_bytes if landed_bytes else 0.0,
        },
        "diagnostics": {
            "setup_marks_s": {k: round(v, 2) for k, v in marks.items()},
            "warmup_op_s": [_hop_summary(op) for op in tracer.warmup_ops],
            "op_s": [round(x, 3) for x in latencies],
            "events": events,
            "check": check,
        },
    }
