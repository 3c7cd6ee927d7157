"""Schema-SHAPE degeneracy sweep (eighth fuzz class, VERDICT r11 #2).

The skew class covers row-COUNT degeneracy and bigval covers
row-SIZE; this class covers the SHAPE axes a 100 TB lakehouse is
guaranteed to meet and that no row-oriented fixture exercises:

* **S1 — 10k distinct schema ids in one micro-batch** through the
  schema-partitioned decode loop.  The reference's driver-side
  per-schema loop is linear in distinct ids (fine); the failure mode
  to disprove is the DATA plane regressing to a job storm — each
  pair's decode re-scanning the whole batch, O(pairs × batch).  The
  staged route (``pair_frames`` + scratch dir) re-partitions the
  batch ONCE by schema pair; the probe verifies every sampled pair's
  frame reads ONLY its own partition directory (``inputFiles``
  containment — deterministic evidence, not timing), that the 10k
  frames cover the batch exactly, and that decode values are right.
* **S2 — wide rows (500 columns)** through the codec roundtrip
  (wire-encode → schema-partitioned decode), CDC merge, and the
  txlog write/read plane.
* **S3 — deep nesting (24 levels + arrays-of-structs)** through
  StructType→Avro/JSON-schema/proto derivation and back (the U2
  surface), the pure-Python Avro codec, and ``from_json`` decode.

Import-safe (no SparkSession at import); ``python
scripts/schema_shape_probe.py`` prints one JSON summary line.
Scaled-down twins of every check run in CI
(``tests/test_schema_shape.py``).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

N_IDS = int(os.environ.get("SCHEMA_SHAPE_IDS", "10000"))
WIDE_COLS = 500
DEPTH = 24


def _frame(schema_id: int, payload: bytes) -> bytes:
    return b"\x00" + schema_id.to_bytes(4, "big") + payload


def _kafka_rows(spark, rows):
    """Kafka-shaped batch: (key, value, topic, partition, offset,
    timestamp, timestampType)."""
    return spark.createDataFrame(
        [
            (k, v, "t", 0, i, None, 0)
            for i, (k, v) in enumerate(rows)
        ],
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp, timestampType int",
    )


def scenario_many_schema_ids(spark, root, n_ids=None):
    """S1: many distinct value-schema ids in one batch, staged route
    (``n_ids`` defaults to the env-scaled N_IDS; the CI guard passes a
    small value)."""
    from jibaro_spark.codecs.confluent import (
        InMemorySchemaRegistry,
        decode_confluent_batch_pairs,
    )

    N_IDS = n_ids or globals()["N_IDS"]
    checks = []
    reg = InMemorySchemaRegistry()
    ids = [
        reg.register(f"shape-{i}-value", "id int, v string")
        for i in range(N_IDS)
    ]
    checks.append(("s1_ids_distinct", len(set(ids)) == N_IDS, ""))
    rows = [
        (None, _frame(sid, json.dumps({"id": i, "v": f"row{i}"}).encode()))
        for i, sid in enumerate(ids)
    ]
    batch = _kafka_rows(spark, rows).repartition(8)
    scratch = os.path.join(root, "s1_scratch")
    t0 = time.time()
    out = decode_confluent_batch_pairs(
        batch, reg, "json", scratch_dir=scratch
    )
    stage_s = time.time() - t0
    checks.append(("s1_pair_count", len(out) == N_IDS, f"{len(out)}"))
    checks.append(
        ("s1_staged_route_taken", os.path.isdir(scratch), "")
    )
    # partition pruning: every sampled pair's frame reads ONLY files
    # under its own __vid leaf — the deterministic no-job-storm
    # evidence (scan volume per pair = that pair's files, so total
    # scan across all pairs is O(batch) regardless of pair count)
    sample = out[:: max(1, N_IDS // 37)][:37]
    pruned = True
    covered_files: set[str] = set()
    for (kid, vid), df in sample:
        files = df.inputFiles()
        leaf = f"__vid={vid}"
        if not files or not all(leaf in f for f in files):
            pruned = False
            checks.append(
                ("s1_pruning_violation", False, f"vid={vid} files={files[:3]}")
            )
            break
        covered_files.update(files)
    checks.append(("s1_partition_pruned", pruned, f"sampled={len(sample)}"))
    # sampled leaves are disjoint (each file belongs to one pair)
    checks.append(
        (
            "s1_leaves_disjoint",
            len(covered_files) >= len(sample),
            "",
        )
    )
    # decode correctness on a sample, incl. both ends of the id range
    picked = [out[0], out[len(out) // 2], out[-1]]
    ok = True
    for (kid, vid), df in picked:
        got = df.select("value.id", "value.v").collect()
        i = ids.index(vid)
        if len(got) != 1 or got[0][0] != i or got[0][1] != f"row{i}":
            ok = False
            checks.append(("s1_decode_wrong", False, f"vid={vid} got={got}"))
            break
    checks.append(("s1_decode_correct", ok, ""))
    # total rows across frames == batch rows (cover exactly once):
    # verified on the staged PARQUET (one read of the scratch root),
    # not by running N_IDS count jobs
    staged_rows = spark.read.parquet(scratch).count()
    checks.append(
        ("s1_staged_covers_batch", staged_rows == N_IDS, f"{staged_rows}")
    )
    checks.append(("s1_stage_wall_s", stage_s < 600, f"{stage_s:.1f}s"))
    shutil.rmtree(scratch, ignore_errors=True)
    return checks


def scenario_direct_vs_staged_identity(spark, root):
    """S1b: the staged route must be bit-identical to the direct route
    on a mixed batch (null keys, tombstones, several ids) — the
    adaptive-plan discipline (same answer in both regimes)."""
    from jibaro_spark.codecs import confluent
    from jibaro_spark.codecs.confluent import (
        InMemorySchemaRegistry,
        decode_confluent_batch_pairs,
    )

    checks = []
    reg = InMemorySchemaRegistry()
    ids = [reg.register(f"dvi-{i}-value", "id int, v string") for i in range(24)]
    kid = reg.register("dvi-key", "k int")
    rows = []
    for i, sid in enumerate(ids):
        payload = json.dumps({"id": i, "v": f"x{i}"}).encode()
        key = _frame(kid, json.dumps({"k": i}).encode()) if i % 3 == 0 else None
        rows.append((key, _frame(sid, payload)))
    rows.append((_frame(kid, json.dumps({"k": 99}).encode()), None))  # tombstone
    batch = _kafka_rows(spark, rows)

    def _snap(pairs):
        snap = {}
        for (k, v), df in pairs:
            snap[(k, v)] = sorted(
                str(r) for r in df.select("value", "offset").collect()
            )
        return snap

    for tomb in ("drop", "keep"):
        direct = _snap(
            decode_confluent_batch_pairs(batch, reg, "json", on_tombstone=tomb)
        )
        scratch = os.path.join(root, f"dvi_{tomb}")
        # a low spill bound forces the staged route (pair_frames reads
        # SPILL_THRESHOLD when it routes)
        saved, confluent.SPILL_THRESHOLD = confluent.SPILL_THRESHOLD, 2
        try:
            staged = _snap(
                decode_confluent_batch_pairs(
                    batch, reg, "json", on_tombstone=tomb, scratch_dir=scratch
                )
            )
        finally:
            confluent.SPILL_THRESHOLD = saved
        checks.append((f"s1b_identity_{tomb}", direct == staged, ""))
        shutil.rmtree(scratch, ignore_errors=True)
    return checks


def _wide_schema():
    return ", ".join(f"c{i} int" for i in range(WIDE_COLS))


def scenario_wide_rows(spark, root):
    """S2: 500-column rows through wire decode, CDC apply, txlog."""
    from pyspark.sql import functions as F

    from jibaro_spark import txlog
    from jibaro_spark.codecs.confluent import (
        InMemorySchemaRegistry,
        decode_confluent_batch_pairs,
    )
    from jibaro_spark.operators.cdc import cdc_apply

    checks = []
    reg = InMemorySchemaRegistry()
    sid = reg.register("wide-value", _wide_schema())
    payload = json.dumps({f"c{i}": i for i in range(WIDE_COLS)}).encode()
    batch = _kafka_rows(spark, [(None, _frame(sid, payload))] * 8)
    ((_, df),) = [
        p for p in decode_confluent_batch_pairs(batch, reg, "json")
    ]
    got = df.select("value.*").limit(1).collect()[0]
    checks.append(
        (
            "s2_decode_all_columns",
            len(got) == WIDE_COLS and got[0] == 0 and got[WIDE_COLS - 1] == WIDE_COLS - 1,
            f"{len(got)} cols",
        )
    )
    # CDC apply with a wide after-image
    wide = spark.range(6).select(
        F.col("id"), *[(F.col("id") * 0 + i).cast("int").alias(f"c{i}") for i in range(WIDE_COLS)]
    )
    env = wide.limit(2).select(
        F.struct("id").alias("key"),
        F.struct(
            F.lit("u").alias("op"),
            F.lit(None).cast(wide.schema.simpleString()).alias("before"),
            F.struct(*wide.columns).alias("after"),
        ).alias("value"),
        F.lit(1).alias("timestamp"),
    )
    merged = cdc_apply(wide, env, ["id"])
    checks.append(
        (
            "s2_cdc_wide",
            merged.count() == 6 and len(merged.columns) == WIDE_COLS + 2,
            f"{len(merged.columns)} cols",
        )
    )
    # txlog roundtrip wide
    t = os.path.join(root, "s2_tx")
    txlog.write_versioned(wide, t)
    back = txlog.read_versioned(spark, t)
    checks.append(
        (
            "s2_txlog_wide_roundtrip",
            back.count() == 6 and len(back.columns) == WIDE_COLS + 1,
            "",
        )
    )
    return checks


def _deep_struct(depth: int):
    from pyspark.sql import types as T

    leaf = T.StructType(
        [
            T.StructField("x", T.IntegerType(), True),
            T.StructField(
                "arr",
                T.ArrayType(
                    T.StructType([T.StructField("y", T.StringType(), True)])
                ),
                True,
            ),
        ]
    )
    s = leaf
    for i in range(depth - 1):
        s = T.StructType([T.StructField(f"lvl{i}", s, True)])
    return s


def _deep_value(depth: int):
    v = {"x": 7, "arr": [{"y": "leaf"}]}
    for i in range(depth - 1):
        v = {f"lvl{i}": v}
    return v


def scenario_deep_nesting(spark, root):
    """S3: 24-level nesting + arrays-of-structs through schema
    derivation roundtrips (U2), the Python Avro codec, and
    from_json."""
    from pyspark.sql import functions as F

    from jibaro_spark.codecs.schemas import (
        avro_schema_to_struct,
        json_schema_to_struct,
        proto_schema_to_struct,
        to_avro_schema,
        to_json_schema,
        to_proto_schema,
    )

    checks = []
    deep = _deep_struct(DEPTH)
    # derivation roundtrips preserve the shape
    avro_rt = avro_schema_to_struct(to_avro_schema(deep, "Deep"))
    checks.append(("s3_avro_roundtrip", avro_rt == deep, ""))
    json_rt = json_schema_to_struct(to_json_schema(deep, "Deep"))
    checks.append(("s3_jsonschema_roundtrip", json_rt == deep, ""))
    proto_rt = proto_schema_to_struct(to_proto_schema(deep, "Deep"))
    # proto scalar mapping widens int→int32 etc.; compare field paths
    def _paths(s, prefix=""):
        from pyspark.sql import types as T

        out = []
        for f in s.fields:
            p = f"{prefix}.{f.name}"
            out.append(p)
            dt = f.dataType
            if isinstance(dt, T.StructType):
                out.extend(_paths(dt, p))
            elif isinstance(dt, T.ArrayType) and isinstance(
                dt.elementType, T.StructType
            ):
                out.extend(_paths(dt.elementType, p + "[]"))
        return out

    checks.append(
        ("s3_proto_paths_preserved", _paths(proto_rt) == _paths(deep), "")
    )
    # from_json at depth
    doc = json.dumps(_deep_value(DEPTH))
    df = spark.createDataFrame([(doc,)], "j string").select(
        F.from_json("j", deep).alias("v")
    )
    chain = "v." + ".".join(f"lvl{i}" for i in reversed(range(DEPTH - 1)))
    got = df.select(
        F.col(f"{chain}.x").alias("x"),
        F.col(f"{chain}.arr")[0]["y"].alias("y"),
    ).collect()[0]
    checks.append(
        ("s3_from_json_deep", (got.x, got.y) == (7, "leaf"), f"{got}")
    )
    # pure-Python Avro codec at depth (encode a deep row, decode back)
    try:
        from pyspark.sql import types as T

        from jibaro_spark.codecs.avro_python import (
            decode_avro_python,
            encode_avro_python,
        )

        row_df = spark.createDataFrame(
            [(_deep_value(DEPTH),)],
            T.StructType([T.StructField("payload", deep, True)]),
        )
        enc = encode_avro_python(row_df, "payload", deep, "out")
        dec = decode_avro_python(enc, "out", deep, "back")
        deep_path = ".".join(f"lvl{i}" for i in reversed(range(DEPTH - 1)))
        got2 = dec.select(f"back.{deep_path}.x").collect()[0][0]
        checks.append(("s3_avro_python_deep", got2 == 7, f"{got2}"))
    except Exception as ex:  # noqa: BLE001
        checks.append(("s3_avro_python_deep", False, repr(ex)))
    return checks


ALL_SCENARIOS = [
    scenario_many_schema_ids,
    scenario_direct_vs_staged_identity,
    scenario_wide_rows,
    scenario_deep_nesting,
]


def run(spark, scenarios=None, root=None):
    results = []
    own_root = root is None
    root = root or tempfile.mkdtemp(prefix="schema_shape_")
    try:
        for fn in scenarios or ALL_SCENARIOS:
            try:
                results.extend(fn(spark, root))
            except Exception as ex:  # noqa: BLE001
                results.append((f"{fn.__name__}_crashed", False, repr(ex)))
    finally:
        if own_root:
            shutil.rmtree(root, ignore_errors=True)
    return results


def main():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("schema_shape_probe")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    results = run(spark)
    failed = [(n, d) for n, ok, d in results if not ok]
    for n, ok, d in results:
        print(f"{'PASS' if ok else 'FAIL'} {n} {d}".rstrip(), flush=True)
    print(
        json.dumps(
            {
                "class": "schema_shape",
                "n_ids": N_IDS,
                "checks": len(results),
                "failed": [n for n, _ in failed],
            }
        ),
        flush=True,
    )
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
