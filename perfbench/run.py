"""jibaro_spark benchmark entry point.

    python3 perfbench/run.py --workload cdc_steady --seed 1 --seconds 15 --trace 0

Run from the repository root.  Each run starts a fresh worker process
on a fresh work directory (under ``.perfbench_work/`` in the current
directory, removed afterwards), waits for every process the worker
started, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the
per-layer ones.  Diagnostics (warm-up times, per-op times, output
checks, steal%) go to stderr.

Workloads: ``cdc_steady``, ``query_mix``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("cdc_steady", "query_mix")
UNITS = {
    "setup_s": "s", "op_p50_s": "s", "items_per_s": "1/s",
    "peak_rss_mb": "MB", "write_amp": "ratio",
}
TIMEOUT_S = 160  # the run must end within 180 s, cleanup included


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, the worker's process group (JVM, Python
    workers) and wait until none of it is left."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "jibaro_spark", "__init__.py")):
        print("perfbench: run from the jibaro_spark repository root", file=sys.stderr)
        return 2
    # a directory of its own, so two runs in one checkout cannot collide
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH", "")) if p
        ),
        "PYTHONHASHSEED": "0",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    env.pop("SPARK_GRAFT_CPUS", None)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--out", out, "--t-start", repr(T_START),
    ]
    # a TERM (a harness timeout) still stops the worker group below
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    proc = subprocess.Popen(
        cmd, env=env, cwd=root, stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True,
    )
    res = None
    try:
        if proc.wait(timeout=TIMEOUT_S) == 0 and os.path.exists(out):
            with open(out) as f:
                res = json.load(f)
    except subprocess.TimeoutExpired:
        print("perfbench: worker timed out", file=sys.stderr)
    finally:
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
    if res is None:
        print(f"perfbench: worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1

    print(json.dumps({"error": res["error"], **res["diagnostics"]}), file=sys.stderr)
    if a.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in res["metrics"].items()}
    print(json.dumps({
        "correct": res["failed"] == 0 and res["error"] is None,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
