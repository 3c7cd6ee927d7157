"""One benchmark run in a fresh process: set-up, timed region, checks.

Started by ``run.py`` with the work directory and environment already
prepared; writes its result as JSON to ``--out``.  Not meant to be run
by hand (use ``run.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

#: Spark ``local[k]`` per workload, never more cores than the box has.
#: The CDC loop is driver-bound and runs faster on 2 (fewer tasks per
#: stage); the queries scale with cores.
CORES = {"cdc_steady": 2, "query_mix": 4}
DRIVER_MEMORY = "2g"


def build_spark(work: str, trace: bool, k: int):
    from jibaro_spark.session import build_session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            # a fixed, pre-touched heap: G1 otherwise sizes the heap and
            # the young generation by GC pause times, so resident memory
            # would follow the host's CPU contention rather than the code
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
            f" -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if trace:
        # plain JSON lines: uncompressed, one file (zstandard is absent)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    spark = build_session(
        app_name="perfbench", master=f"local[{k}]", shuffle_partitions=k,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb(spark) -> tuple[float, float]:
    """VmHWM of this Python process and of the driver JVM, in MB."""

    def hwm_mb(pid) -> float:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    return hwm_mb("self"), hwm_mb(int(spark._jvm.java.lang.ProcessHandle.current().pid()))


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two /proc/stat
    samples (a diagnostic of the host, not a metric)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total else 0.0


def proc_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t-start", type=float, required=True)
    a = ap.parse_args()

    from cdc_loop import run_cdc_steady
    from layers import Tracer
    from query_mix import run_query_mix

    run = {"cdc_steady": run_cdc_steady, "query_mix": run_query_mix}[a.workload]
    k = max(1, min(CORES[a.workload], os.cpu_count() or 1))
    stat0 = proc_stat()
    spark = build_spark(a.work, bool(a.trace), k)
    tracer = Tracer(spark, k, bool(a.trace), os.path.join(a.work, "eventlog"))
    try:
        res = run(spark, a.seed, a.seconds, a.work, tracer, a.t_start)
        py_mb, jvm_mb = peak_rss_mb(spark)
        res["metrics"]["peak_rss_mb"] = py_mb + jvm_mb
        res["diagnostics"]["peak_rss_mb"] = {"python": round(py_mb), "jvm": round(jvm_mb)}
    finally:
        spark.stop()
    res["diagnostics"]["steal_pct"] = round(steal_pct(stat0, proc_stat()), 2)
    if a.trace:
        # read after stop: the event log is complete only then
        res["per_layer"] = tracer.report(res["metrics"])
    with open(a.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
