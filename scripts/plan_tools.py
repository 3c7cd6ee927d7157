#!/usr/bin/env python
"""Time, capture or sweep the formatted plans of declared queries.

Usage:
    python scripts/plan_tools.py time  q_a q_b ...   [--runs N]
    python scripts/plan_tools.py plan  q_a q_b ...   [--tag before|after] [--plan-dir DIR]
    python scripts/plan_tools.py both  q_a q_b ...   [--sf-dir DIR]
    python scripts/plan_tools.py sweep [q_a q_b ...]
    python scripts/plan_tools.py sweep --jobs [q_a q_b ...]

Timing methodology matches bench.py exactly: noop sink, N runs
(default 2), report min.  Plans go to <plan-dir>/<name>_<tag>.txt
(default plan dir: ./plans, git-ignored).  The fixture directory is
--sf-dir, or $SPARK_GRAFT_SF_DIR when the flag is left out.

``sweep`` (default: bench.py's headline queries) counts physical-plan
nodes per query — parquet scans, exchanges, windows, joins, Python
evals — one JSON line each, then lists the worst scan amplification
(scans far above the distinct tables touched: a likely duplicated
subtree).  Plan-only: probe jobs that run at construction execute,
nothing is timed.

``sweep --jobs`` (default: every registry query) builds and runs each
query and counts the Spark jobs of each phase by job group: one JSON
line per query with ``construct_jobs``/``construct_s`` (``fn(spark,
sf_dir)``, eager probes and pins included), ``execute_jobs``/
``execute_s`` (every row produced and dropped, as ``toRdd().count()``)
and ``pyrdd`` (a ``PythonRDD`` in the executed RDD lineage: rows the
driver pickled, unpickled again by Python workers), then the registry
totals.
"""
from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore
        df._jdf.queryExecution(), "formatted"
    )


def _plan_counts(name: str, txt: str) -> dict:
    tables = len(set(re.findall(r"Scan parquet[^\n]*?(\w+)\.parquet", txt))) or len(
        set(re.findall(r"file:[^\n]*/(\w+)\.parquet", txt))
    )
    return {
        "q": name,
        "scans": len(re.findall(r"Scan parquet", txt)),
        "tables": tables,
        "exch": len(re.findall(r"Exchange", txt)),
        "reuse": len(re.findall(r"ReusedExchange", txt)),
        "win": len(re.findall(r"\bWindow\b", txt)),
        "smj": len(re.findall(r"SortMergeJoin", txt)),
        "bhj": len(re.findall(r"BroadcastHashJoin", txt)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", txt)),
        "cart": len(re.findall(r"CartesianProduct", txt)),
        "pyeval": len(re.findall(r"(BatchEvalPython|ArrowEvalPython)", txt)),
    }


def _sweep(spark, sf_dir: str, names: list[str]) -> None:
    from jibaro_spark.queries import REGISTRY

    rows = []
    for name in names:
        try:
            txt = _plan_text(REGISTRY[name].fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {e}", flush=True)
            continue
        rows.append(_plan_counts(name, txt))
        print(json.dumps(rows[-1], separators=(",", ":")), flush=True)
    rows.sort(key=lambda r: -(r["scans"] - r["tables"]))
    print("== top scan amplification ==", flush=True)
    for r in rows[:15]:
        print(f"{r['scans']:3d} scans / {r['tables']} tables  exch={r['exch']} "
              f"win={r['win']}  {r['q']}", flush=True)


def _jobs_sweep(spark, sf_dir: str, names: list[str]) -> None:
    from jibaro_spark.queries import REGISTRY

    sc = spark.sparkContext
    tot = {"queries": 0, "errors": 0, "construct_jobs": 0, "construct_s": 0.0,
           "execute_jobs": 0, "execute_s": 0.0, "pyrdd": 0}

    def phase(group: str, action):
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            out = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group)), time.perf_counter() - t0

    for i, name in enumerate(names):
        try:
            df, cj, cs = phase(f"{i}/{name}/construct", lambda: REGISTRY[name].fn(spark, sf_dir))
            qe = df._jdf.queryExecution()
            # toRdd runs the adaptive plan's shuffle stages, count the rest
            _, ej, es = phase(f"{i}/{name}/execute", lambda: qe.toRdd().count())
        except Exception as e:  # noqa: BLE001
            tot["errors"] += 1
            print(f"{name}: ERROR {str(e)[:300]}", flush=True)
            continue
        row = {"q": name, "construct_jobs": cj, "construct_s": round(cs, 3),
               "execute_jobs": ej, "execute_s": round(es, 3),
               "pyrdd": "PythonRDD" in qe.toRdd().toDebugString()}
        print(json.dumps(row, separators=(",", ":")), flush=True)
        for k in ("construct_jobs", "construct_s", "execute_jobs", "execute_s", "pyrdd"):
            tot[k] += row[k]
        tot["queries"] += 1
    tot["construct_s"], tot["execute_s"] = round(tot["construct_s"], 1), round(tot["execute_s"], 1)
    print(json.dumps({"totals": tot}, separators=(",", ":")), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", choices=("time", "plan", "both", "sweep"))
    ap.add_argument("names", nargs="*")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--plan-dir", default="plans")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--jobs", action="store_true",
                    help="sweep: count and time each phase's Spark jobs")
    args = ap.parse_intermixed_args()
    if not args.sf_dir:
        ap.error("no fixture: pass --sf-dir or set SPARK_GRAFT_SF_DIR")
    if not args.names and args.mode != "sweep":
        ap.error(f"{args.mode} needs at least one query name")
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

    if args.mode == "sweep" and args.jobs:
        _jobs_sweep(spark, sf_dir, args.names or sorted(REGISTRY))
        spark.stop()
        return
    if args.mode == "sweep":
        from bench import HEADLINE

        _sweep(spark, sf_dir, args.names or HEADLINE)
        spark.stop()
        return

    timings: dict[str, float] = {}
    for name in args.names:
        dq = REGISTRY[name]
        if args.mode in ("plan", "both"):
            os.makedirs(args.plan_dir, exist_ok=True)
            txt = _plan_text(dq.fn(spark, sf_dir))
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
