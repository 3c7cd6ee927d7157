#!/usr/bin/env python
"""Time and/or capture formatted plans for a subset of declared queries.

Usage:
    python scripts/plan_tools.py time  q_a q_b ...   [--runs N]
    python scripts/plan_tools.py plan  q_a q_b ...   [--tag before|after] [--plan-dir DIR]
    python scripts/plan_tools.py both  q_a q_b ...   [--sf-dir DIR]

Timing methodology matches bench.py exactly: noop sink, N runs
(default 2), report min.  Plans go to <plan-dir>/<name>_<tag>.txt
(default plan dir: ./plans, git-ignored).  The fixture directory is
--sf-dir, or $SPARK_GRAFT_SF_DIR when the flag is left out.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", choices=("time", "plan", "both"))
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--plan-dir", default="plans")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("no fixture: pass --sf-dir or set SPARK_GRAFT_SF_DIR")
    sf_dir = args.sf_dir

    from jibaro_spark.session import build_session

    spark = build_session(app_name="plan_tools")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from jibaro_spark.queries import REGISTRY

    # same warmup as bench.py
    for t in ("lineitem", "orders", "documents", "embeddings", "events"):
        try:
            spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        except Exception:
            pass

    timings: dict[str, float] = {}
    for name in args.names:
        dq = REGISTRY[name]
        if args.mode in ("plan", "both"):
            os.makedirs(args.plan_dir, exist_ok=True)
            df = dq.fn(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore
                df._jdf.queryExecution(), "formatted"
            )
            out = os.path.join(args.plan_dir, f"{name}_{args.tag}.txt")
            with open(out, "w") as f:
                f.write(txt)
            print(f"plan -> {out}", flush=True)
        if args.mode in ("time", "both"):
            spark.sparkContext.setJobDescription(name)
            rs = []
            for _ in range(args.runs):
                t0 = time.perf_counter()
                dq.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                rs.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
            timings[name] = round(min(rs), 3)
            print(f"{name}: min={timings[name]} runs={[round(r,3) for r in rs]}",
                  flush=True)
    if timings:
        print(json.dumps({"timings": timings, "sf_dir": sf_dir}, separators=(",", ":")))


if __name__ == "__main__":
    main()
