"""Targeted-delete scale demo: pin `delete_by_keys`' O(k files)
contract — including its incremental `_bloom` sidecar upkeep — with
measured numbers at two table sizes.

Build the SAME workload at two scales (8× file count, 8× rows), bloom-
index the key, delete the same k keys from each, and compare:

* files_rewritten — should track k (bloom targeting), not table size;
* wall time of the delete — should be near-flat across the 8× tables
  (the r8 implementation rescanned the whole table per indexed column
  to rebuild the sidecar, which made this ratio track table size);
* Spark jobs the delete runs, counted by job group — should not grow
  with table size;
* a follow-up bloom point read stays exact on both.

Prints one JSON line; paste into SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from jibaro_spark.maintenance import (  # noqa: E402
    build_bloom_file_index,
    delete_by_keys,
    read_bloom_pruned,
)
from jibaro_spark.session import build_session  # noqa: E402

SMALL_FILES = int(os.environ.get("DELETE_DEMO_SMALL_FILES", "64"))
SCALE = int(os.environ.get("DELETE_DEMO_SCALE", "8"))
ROWS_PER_FILE = 20_000
K_KEYS = 8


def build(spark, root: str, n_files: int) -> str:
    out = os.path.join(root, f"t{n_files}")
    n = n_files * ROWS_PER_FILE
    df = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") % 9973).alias("v")
    )
    df.repartition(n_files, "k").write.parquet(out)
    build_bloom_file_index(spark, out, "k")
    return out


def run_delete(spark, out: str, n_files: int) -> dict:
    n = n_files * ROWS_PER_FILE
    doomed = [int(n * (i + 0.5) / K_KEYS) for i in range(K_KEYS)]
    sc = spark.sparkContext
    group = f"delete_scale_demo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "delete_by_keys")
    t0 = time.perf_counter()
    try:
        stats = delete_by_keys(spark, out, "k", doomed)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    wall = time.perf_counter() - t0
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert stats["rows_deleted"] == K_KEYS, stats
    survivor = doomed[0] + 1
    assert read_bloom_pruned(spark, out, "k", survivor).count() == 1
    assert read_bloom_pruned(spark, out, "k", doomed[0]).count() == 0
    return {
        "files_total": stats["files_total"],
        "files_rewritten": stats["files_rewritten"],
        "delete_wall_s": round(wall, 2),
        "delete_jobs": jobs,
    }


def main() -> None:
    spark = build_session(app_name="delete_scale_demo", shuffle_partitions=32)
    root = tempfile.mkdtemp(prefix="delete_scale_")
    small = build(spark, root, SMALL_FILES)
    large = build(spark, root, SMALL_FILES * SCALE)
    # warm the JIT/codegen constant on a throwaway table so the two
    # measured deletes compare plan cost, not first-run compilation
    warm = build(spark, root, 8)
    run_delete(spark, warm, 8)

    r_small = run_delete(spark, small, SMALL_FILES)
    r_large = run_delete(spark, large, SMALL_FILES * SCALE)
    out = {
        "k_keys": K_KEYS,
        "rows_per_file": ROWS_PER_FILE,
        "small": r_small,
        "large": r_large,
        "table_scale": SCALE,
        "wall_ratio": round(
            r_large["delete_wall_s"] / max(r_small["delete_wall_s"], 1e-9), 2
        ),
    }
    print(json.dumps(out))
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
