"""Drive the ``__spark_entry__`` contract: entry() smoke + every
queries() entry, hash-comparing each oracle_sql() entry against DuckDB
(sort columns by name, sort rows, sha256 of the stringified values).

    python scripts/drive_contract.py --sf-dir DIR [query ...]

Imports the checkout this script lives in.  ``--sf-dir`` is the fixture
directory of ``<table>.parquet`` files (the contract's scale is
sf0.01); naming queries drives only those.  Exits non-zero when any
query fails."""
import argparse
import hashlib
import json
import math
import os
import sys
import time
from datetime import date, datetime

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 6))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def hash_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", required=True,
                    help="fixture directory of <table>.parquet files")
    ap.add_argument("queries", nargs="*", help="query names (default: all)")
    a = ap.parse_args()
    sf = a.sf_dir

    sys.path.insert(0, REPO)
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("drive_contract")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    t0 = time.time()
    edf = E.entry(spark)
    erows = edf.collect()
    print(f"entry(): {len(erows)} rows, schema={edf.columns} [{time.time()-t0:.1f}s]",
          flush=True)

    qs = E.queries()
    oracles = E.oracle_sql()
    only = set(a.queries)
    fails = []
    for i, (name, fn) in enumerate(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as ex:
            fails.append(name)
            print(f"[{i+1}/{len(qs)}] {name}: SPARK ERROR {ex}", flush=True)
            continue
        if name not in oracles:
            print(f"[{i+1}/{len(qs)}] {name}: rows-only {len(rows)} rows "
                  f"[{time.time()-t0:.1f}s]", flush=True)
            continue
        try:
            rel = con.sql(oracles[name])
            d_cols, d_rows = list(rel.columns), rel.fetchall()
        except Exception as ex:
            fails.append(name)
            print(f"[{i+1}/{len(qs)}] {name}: ORACLE ERROR {ex}", flush=True)
            continue
        ok_schema = sorted(cols) == sorted(d_cols)
        ok_rows = len(rows) == len(d_rows)
        ok_hash = ok_schema and ok_rows and hash_rows(cols, rows) == hash_rows(
            d_cols, d_rows)
        status = "OK" if ok_hash else (
            f"MISMATCH schema={ok_schema} rows={len(rows)}/{len(d_rows)}")
        if not ok_hash:
            fails.append(name)
        print(f"[{i+1}/{len(qs)}] {name}: {status} [{time.time()-t0:.1f}s]",
              flush=True)

    print(json.dumps({"total": len(qs), "failed": fails}), flush=True)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
