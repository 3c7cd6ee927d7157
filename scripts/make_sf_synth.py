"""Synthesize a ~10x scale fixture from an sf0.1 fixture by shard
replication with consistent key offsets (VERDICT r5 §Next-5).

Each shard i in 0..R-1 offsets every PK/FK by i*OFF, so joins stay
within-shard and the workload scales linearly BY CONSTRUCTION — the
point of the smoke test is to catch operators whose cost does NOT
(super-linear candidate generation, driver-side accumulation,
partition-count cliffs).  Content columns that drive similarity
workloads are decorrelated per shard so duplicate-detection outputs
also scale linearly instead of exploding combinatorially across
replicas:

- documents.text: per-shard alphabet rotation (translate) — within-
  shard shingle/minhash structure identical, zero cross-shard overlap
- embeddings.embedding: per-shard dimension rotation — norms and
  within-shard geometry preserved exactly, cross-shard cosine ~0

Shard 0 is the identity, so sf0.1's answers embed in the synth set.

Usage: python scripts/make_sf_synth.py --sf-dir <sf0.1 dir> --out <dir> [--shards R]
"""
import argparse
import os
import shutil
import string
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F

ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
ap.add_argument("--sf-dir", required=True,
                help="source fixture directory of <table>.parquet files")
ap.add_argument("--out", required=True, help="synth fixture directory (replaced)")
ap.add_argument("--shards", type=int, default=10, help="replication factor R")
args = ap.parse_args()
SRC, OUT, R = args.sf_dir, args.out, args.shards
OFF = 10_000_000

KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    # dimensions stay shared across shards (25 nations, 5 regions):
    "nation": [],
    "region": [],
}

spark = (
    SparkSession.builder.master("local[32]")
    .appName("make_sf_synth")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.driver.memory", "16g")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

lower = string.ascii_lowercase
upper = string.ascii_uppercase

if os.path.isdir(OUT):
    shutil.rmtree(OUT)
os.makedirs(OUT, exist_ok=True)

for table, keys in KEYS.items():
    df = spark.read.parquet(f"{SRC}/{table}.parquet")
    if not keys:  # shared dimension — copy once
        df.coalesce(1).write.mode("overwrite").parquet(f"{OUT}/{table}.parquet")
        print(f"{table}: dimension copied")
        continue
    shards = []
    for i in range(R):
        s = df
        for k in keys:
            s = s.withColumn(k, (F.col(k) + F.lit(i * OFF)).cast("long"))
        if table == "documents" and i > 0:
            rl = lower[i:] + lower[:i]
            ru = upper[i:] + upper[:i]
            s = s.withColumn(
                "text", F.translate("text", lower + upper, rl + ru)
            )
        if table == "embeddings" and i > 0:
            rot = (i * 6) % 64
            s = s.withColumn(
                "embedding",
                F.expr(
                    f"concat(slice(embedding, {rot + 1}, {64 - rot}),"
                    f" slice(embedding, 1, {rot}))"
                ),
            )
        shards.append(s)
    out = shards[0]
    for s in shards[1:]:
        out = out.unionByName(s)
    out.write.mode("overwrite").parquet(f"{OUT}/{table}.parquet")
    n = spark.read.parquet(f"{OUT}/{table}.parquet").count()
    print(f"{table}: {n} rows ({R}x)")

print("done:", OUT)
