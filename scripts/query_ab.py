#!/usr/bin/env python
"""Within-session A/B of declared queries under two values of a SQL conf.

Full-bench totals on this box swing with neighbor load (measured
back-to-back full benches at 180/213/293 s with nonzero steal time),
so cross-run comparisons are unusable for small deltas.  This runs
each query in ABAB... alternation INSIDE one session — both modes see
the same ambient load — and reports per-mode minima plus the steal%
observed during the run.

Modes are two values of a runtime SQL conf.  Usage:

    python scripts/query_ab.py --conf KEY ON_VAL OFF_VAL q_a ... [--rounds N]

The fixture directory is $SPARK_GRAFT_SF_DIR.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _cpu_snap():
    with open("/proc/stat") as f:
        p = f.readline().split()
    vals = list(map(int, p[1:11]))
    return sum(vals), vals[7]  # total, steal


def main() -> None:
    if sys.argv[1:2] != ["--conf"]:
        sys.exit(__doc__)
    conf_key, on_val, off_val = sys.argv[2:5]
    args = sys.argv[5:]
    rounds = 2
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--rounds":
            rounds = int(args[i + 1]); i += 2
        else:
            names.append(args[i]); i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        sys.exit("no fixture: set SPARK_GRAFT_SF_DIR")
    from jibaro_spark.session import build_session

    spark = build_session(app_name="query_ab")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from jibaro_spark.queries import REGISTRY

    for t in ("lineitem", "orders", "documents", "embeddings", "events"):
        try:
            spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        except Exception:
            pass

    t0_tot, t0_steal = _cpu_snap()
    out: dict[str, dict[str, float]] = {}
    for name in names:
        dq = REGISTRY[name]
        a_runs, b_runs = [], []
        for _ in range(rounds):
            for val, runs in ((on_val, a_runs), (off_val, b_runs)):
                spark.conf.set(conf_key, val)
                spark.sparkContext.setJobDescription(f"{name}[{conf_key}={val}]")
                t0 = time.perf_counter()
                dq.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        out[name] = {
            "on_min": round(min(a_runs), 3),
            "off_min": round(min(b_runs), 3),
            "on": [round(r, 3) for r in a_runs],
            "off": [round(r, 3) for r in b_runs],
        }
        print(f"{name}: on={out[name]['on']} off={out[name]['off']}", flush=True)
    t1_tot, t1_steal = _cpu_snap()
    steal_pct = 100.0 * (t1_steal - t0_steal) / max(t1_tot - t0_tot, 1)
    print(json.dumps({"ab": {k: (v["on_min"], v["off_min"]) for k, v in out.items()},
                      "steal_pct": round(steal_pct, 2)},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
