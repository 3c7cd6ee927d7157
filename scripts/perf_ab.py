#!/usr/bin/env python
"""Paired A/B of the benchmark: a base revision against the working tree.

    python scripts/perf_ab.py --base HEAD~1 [--pairs 10] [--seed0 1000] \\
        [--workload cdc_steady] [--seconds 20] [--trace 0] [--jsonl runs.jsonl]
    python scripts/perf_ab.py --from-jsonl runs.jsonl      # summarize only

The change side is the working tree this script lives in.  The base
revision's committed files are exported with ``git archive`` into a
temporary directory (removed at exit; ``--base-dir`` reuses an
existing export and keeps it).  Pair i
runs ``perfbench/run.py`` once on each side with seed ``seed0 + i``;
the side that goes first alternates from pair to pair, so a drift in
host load over the session falls on both sides alike.  Every run is a
fresh process, as in the benchmark itself, and nothing under
``perfbench/`` is modified.

For each metric the summary prints, per side, the median and the
quartiles over the runs, and how many pairs each side won (strictly
better in the metric's direction).  Against ``BENCHMARK.json`` it flags
an end-to-end metric whose median is worse than the base's by more
than its bound, and a claimable gain: better in at least 9 of 10 pairs
and a median better by more than the base's interquartile range.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("base", "change")


def export_rev(rev: str, dest: str) -> None:
    """The committed files of ``rev`` under ``dest`` (no git state)."""
    archive = subprocess.run(
        ["git", "-C", REPO, "archive", "--format=tar", rev],
        check=True, stdout=subprocess.PIPE,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
        tar.extractall(dest, filter="data")


def run_once(root: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One ``perfbench/run.py`` run in checkout ``root``: its result
    line, plus the host steal% from its diagnostics line."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
                "error": p.stderr.strip().splitlines()[-1:]}
    out = json.loads(lines[-1])
    for line in reversed(p.stderr.splitlines()):
        if line.startswith('{"error"'):
            out["steal_pct"] = json.loads(line).get("steal_pct")
            break
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def summarize(runs: list[dict], bench: dict) -> None:
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    for workload in sorted({r["workload"] for r in runs}):
        pairs: dict[int, dict[str, dict]] = {}
        for r in runs:
            if r["workload"] == workload:
                pairs.setdefault(r["pair"], {})[r["side"]] = r["result"]
        done = [p for p in pairs.values() if all(s in p for s in SIDES)]
        n = len(done)
        print(f"\n== {workload}: {n} complete pairs")
        for side in SIDES:
            res = [p[side] for p in done]
            steal = [r["steal_pct"] for r in res if r.get("steal_pct") is not None]
            print(f"  {side:6s} correct {sum(r['correct'] for r in res)}/{n}  "
                  f"failed ops {sum(r['failed'] for r in res)}/"
                  f"{sum(r['attempted'] for r in res)}  "
                  f"steal% {min(steal, default=0):.1f}-{max(steal, default=0):.1f}")
        names = [m for m in spec if all(m in p[s]["metrics"] for p in done for s in SIDES)]
        if not n or not names:
            continue
        print(f"  {'metric':40s} {'base median [q1, q3]':>30s} "
              f"{'change median [q1, q3]':>30s} {'rel':>7s} {'wins b/c':>8s}  note")
        for name in names:
            lower = spec[name]["better"] == "lower"
            vals = {s: [p[s]["metrics"][name]["value"] for p in done] for s in SIDES}
            q = {s: quartiles(vals[s]) for s in SIDES}
            base_med, chg_med = q["base"][1], q["change"][1]
            better = (lambda c, b: c < b) if lower else (lambda c, b: c > b)
            wins_c = sum(better(c, b) for b, c in zip(vals["base"], vals["change"]))
            wins_b = sum(better(b, c) for b, c in zip(vals["base"], vals["change"]))
            rel = (chg_med - base_med) / base_med if base_med else 0.0
            worse = rel if lower else -rel
            note = ""
            if "bound" in spec[name] and worse > spec[name]["bound"]:
                note = f"WORSE than bound {spec[name]['bound']}"
            elif (wins_c >= 0.9 * n and better(chg_med, base_med)
                  and abs(chg_med - base_med) > q["base"][2] - q["base"][0]):
                note = "gain (>=9/10 wins, beyond base IQR)"
            print(f"  {name:40s} "
                  + " ".join(f"{q[s][1]:>11.4g} [{q[s][0]:.4g}, {q[s][2]:.4g}]".rjust(30)
                             for s in SIDES)
                  + f" {rel:+7.1%} {wins_b:>3d}/{wins_c:<3d}  {note}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", help="git revision of the base side")
    ap.add_argument("--base-dir", help="an existing export of the base side (kept)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workload", action="append",
                    help="repeatable; default: every workload in BENCHMARK.json")
    ap.add_argument("--seconds", type=float, help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--jsonl", help="append every run's result here as it finishes")
    ap.add_argument("--from-jsonl", help="summarize the runs in this file; run nothing")
    a = ap.parse_args()

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.from_jsonl:
        with open(a.from_jsonl) as f:
            summarize([json.loads(line) for line in f if line.strip()], bench)
        return 0
    if not (a.base or a.base_dir):
        ap.error("--base or --base-dir is required")
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    seconds = a.seconds or bench["run_seconds"]

    tmp = None
    base_root = a.base_dir
    if base_root is None:
        tmp = tempfile.mkdtemp(prefix="perf_ab_base_")
        export_rev(a.base, tmp)
        base_root = tmp
    roots = {"base": base_root, "change": REPO}
    runs: list[dict] = []
    try:
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            for workload in workloads:
                for side in order:
                    res = run_once(roots[side], workload, seed, seconds, a.trace)
                    rec = {"workload": workload, "pair": i, "seed": seed,
                           "side": side, "result": res}
                    runs.append(rec)
                    if a.jsonl:
                        with open(a.jsonl, "a") as f:
                            f.write(json.dumps(rec) + "\n")
                    print(f"pair {i} seed {seed} {workload} {side}: "
                          f"correct={res['correct']}", file=sys.stderr, flush=True)
    finally:
        if tmp:
            shutil.rmtree(tmp, ignore_errors=True)
    summarize(runs, bench)
    return 0


if __name__ == "__main__":
    sys.exit(main())
