"""Run every workload once untraced and once traced, and print each
end-to-end metric by name with its unit, the tracing overhead (traced
vs untraced ``op_p50_s`` and ``items_per_s``) and the traced run's
per-layer metrics.

    python3 perfbench/report.py [--seed 1] [--seconds N]

Run from the repository root.  Each line is ``workload metric value
unit``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args()
    ok = True
    for w in (w["name"] for w in bench["workloads"]):
        plain = run(w, a.seed, a.seconds, 0)
        traced = run(w, a.seed, a.seconds, 1)
        ok &= plain["correct"] and traced["correct"]
        print(f"{w} correct={plain['correct']} attempted={plain['attempted']} "
              f"failed={plain['failed']}")
        for name, m in plain["metrics"].items():
            print(f"{w} {name} {m['value']:.6g} {m['unit']}")
        t = traced["metrics"]
        for name, key in (("op_p50_s", "trace.op_p50_s"), ("items_per_s", "trace.items_per_s")):
            base = plain["metrics"][name]["value"]
            print(f"{w} tracing_overhead.{name} "
                  f"{(t[key]['value'] - base) / base:+.3f} share")
        for name, m in t.items():
            print(f"{w} {name} {m['value']:.6g} {m['unit']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
