"""10x scale smoke (VERDICT r5 §Next-5): run the heaviest headline
queries at sf0.1 and at the sharded ~sf1 synth fixture
(scripts/make_sf_synth.py) and report the time ratio.  The synth set
scales linearly by construction, so ratio >> R signals a super-linear
operator (candidate blowup, driver accumulation, partition cliff).

Usage: python scripts/scale_smoke.py --sf-dir <sf0.1 dir> --synth-dir <dir>
           [--replication R] [--runs N] [query ...]
(query names override the default heavy-headline list; pass the
replication the synth dir was built with, e.g. 50 for a 50-shard set)
Prints one JSON line per query and a summary.
"""
import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from jibaro_spark.queries import REGISTRY

ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
ap.add_argument("--sf-dir", required=True, help="sf0.1 fixture directory")
ap.add_argument("--synth-dir", required=True,
                help="synth fixture directory (scripts/make_sf_synth.py --out)")
ap.add_argument("--replication", type=int, default=10,
                help="the synth dir's shard count (make_sf_synth.py --shards)")
ap.add_argument("--runs", type=int, default=1, help="runs per point (min is kept)")
ap.add_argument("queries", nargs="*", help="query names (default: heavy headline set)")
args = ap.parse_args()
SF01, SF1, REPL, RUNS = args.sf_dir, args.synth_dir, args.replication, args.runs

QUERIES = [
    "q_bfs_hops",
    "q_embedding_dedup_clusters",
    "q_basket_pairs",
    "q_triangle_count",
    "q_percentile_prices",
    "q_salted_join",
    "q_crossdoc_shingle_dup",
    "q_rfm_segments",
    "q_minhash_near_dup",
    "q_pagerank_nations",
]
if args.queries:
    QUERIES = args.queries

spark = (
    SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    .appName("scale_smoke")
    .config("spark.sql.shuffle.partitions", "64")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.driver.memory", "48g")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

# warm the JVM/codegen once
REGISTRY["q_percentile_prices"].fn(spark, SF01).collect()

results = {}
for name in QUERIES:
    fn = REGISTRY[name].fn
    row = {}
    for label, sf in (("sf0.1", SF01), ("sf1", SF1)):
        best = None
        rows = None
        for _ in range(RUNS):
            t0 = time.perf_counter()
            rows = len(fn(spark, sf).collect())
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        row[label] = round(best, 2)
        row[f"rows_{label}"] = rows
    row["ratio"] = round(row["sf1"] / row["sf0.1"], 2)
    row["rows_ratio"] = round(row["rows_sf1"] / max(row["rows_sf0.1"], 1), 2)
    results[name] = row
    print(json.dumps({"query": name, **row}), flush=True)

tot01 = sum(r["sf0.1"] for r in results.values())
tot1 = sum(r["sf1"] for r in results.values())
print(json.dumps({
    "total_sf0.1": round(tot01, 2), "total_sf1": round(tot1, 2),
    "ratio": round(tot1 / tot01, 2), "replication": REPL,
}))
