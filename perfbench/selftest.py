"""Self-tests of the benchmark's own machinery.

    python3 perfbench/selftest.py      # from the repository root, ~1 min
    python3 perfbench/selftest.py --record-eventlog   # re-record the sample log

* the event-log parser on a small recorded log (``testdata/``);
* the tracer's split of txlog checkpoints into commit-cadence ones and
  the ones compaction writes;
* the CDC expected-state model against a tiny 3-batch pipeline run;
* the oracle-hash normalisation against ``scripts/drive_contract.py``
  on one query, and against the stored DuckDB hash.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

SAMPLE_LOG = os.path.join(HERE, "testdata", "eventlog_sample.jsonl")


def test_eventlog() -> None:
    from eventlog import attribute, parse_event_log

    log = parse_event_log(SAMPLE_LOG)
    groups = [j.group for j in log.jobs]
    assert groups == ["op1/count", "op1/shuffle", ""], groups
    # the shuffle job's two stages: 4 map tasks that wrote shuffle
    # bytes and 1 reduce task; every task ran some executor time
    shuffle = log.job_totals(log.jobs[1])
    assert shuffle["tasks"] == 5 and shuffle["shuffle_write"] > 0, shuffle
    assert shuffle["run_ms"] >= 0 and shuffle["cpu_ns"] > 0, shuffle
    # the third job carries no group: it is placed by submission time
    t = log.jobs[2].submit_ms / 1000.0
    got = attribute(log, [("op1/count", 0, 1), ("op1/shuffle", 0, 1),
                          ("op2", t - 1, t + 1), ("op2/inner", t - 0.5, t + 0.5)])
    assert [j.job_id for j in got["op1/count"]] == [log.jobs[0].job_id]
    assert [j.job_id for j in got["op2/inner"]] == [log.jobs[2].job_id]
    assert "op2" not in got
    print("ok  event-log parser on the recorded log")


def test_checkpoint_callers() -> None:
    from layers import Tracer, build_report

    tr = Tracer(spark=None, k=1, enabled=False, eventlog_dir="")
    checkpoint = tr._wrap("txlog.write_checkpoint", lambda: 1)
    commit = tr._wrap("txlog.write_versioned", lambda: checkpoint() and 10)
    compact = tr._wrap("maintenance.compact", lambda: commit() and checkpoint() and True)
    tr.begin_op("op1", rows=1)
    with tr.span("staged_to_curated"):
        commit()  # a commit on the 10-commit cadence checkpoints inside
        compact()  # its rewrite commits (cadence again), then checkpoints
    tr.end_op()
    got = build_report(tr, None, {}, {"op_p50_s": 1.0, "items_per_s": 1.0})
    assert got["txlog.checkpoints"] == (2.0, "count"), got["txlog.checkpoints"]
    assert got["maintenance.compactions"] == (1.0, "count"), got["maintenance.compactions"]
    print("ok  tracer counts cadence checkpoints apart from compaction ones")


def test_cdc_model(spark, work: str) -> None:
    from cdc_loop import SETTINGS, CdcTable
    from cdcgen import CdcModel, Shape

    from jibaro_spark.catalog import Catalog
    from jibaro_spark.config import Settings

    lake = Catalog(Settings(protocol="file", base_path=os.path.join(work, "lake"), **SETTINGS))
    shape = Shape(live_rows=300, batch_events=120, hot_keys=5, hot_repeats=3,
                  delete_share=0.1, unknown_share=0.05)
    table = CdcTable(spark, lake, work, CdcModel(7, shape))
    table.generate(3)
    for i in range(3):
        table.land()
        table.run_hops(_no_span)
        actual, expected = table.actual_state(), table.expected[i]
        assert actual == expected, (i, actual, expected)
    assert expected["dead_letter_rows"] > 0 and expected["rows"] == 300, expected
    print("ok  CDC model matches a 3-batch pipeline run")


class _no_span:
    def __init__(self, name):
        pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def _drive_contract_hashing() -> dict:
    """``norm`` and ``hash_rows`` exactly as scripts/drive_contract.py
    defines them (that script runs a whole contract on import, so its
    two functions are compiled out of its source)."""
    path = os.path.join(os.getcwd(), "scripts", "drive_contract.py")
    tree = ast.parse(open(path).read())
    keep = [n for n in tree.body if isinstance(n, ast.FunctionDef)
            and n.name in ("norm", "hash_rows")]
    ns: dict = {}
    exec("import hashlib, math\nfrom datetime import date, datetime", ns)
    exec(compile(ast.Module(body=keep, type_ignores=[]), path, "exec"), ns)
    return ns


def test_oracle_normalisation(spark) -> None:
    import duckdb

    from oracle import hash_rows
    from query_mix import FIXTURE

    from jibaro_spark.queries import REGISTRY

    ref = _drive_contract_hashing()
    name = "q_mmr_diversify"
    with open(os.path.join(HERE, "oracle_hashes.json")) as f:
        stored = json.load(f)[name]["sha256"]
    df = REGISTRY[name].fn(spark, FIXTURE)
    rows = [tuple(r) for r in df.collect()]
    ours, theirs = hash_rows(df.columns, rows), ref["hash_rows"](df.columns, rows)
    assert ours == theirs == stored, (ours, theirs, stored)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{FIXTURE}/embeddings.parquet'")
    rel = con.sql(REGISTRY[name].oracle)
    d_cols, d_rows = list(rel.columns), rel.fetchall()
    assert hash_rows(d_cols, d_rows) == ref["hash_rows"](d_cols, d_rows) == stored
    print(f"ok  oracle hashing agrees with drive_contract.py on {name}")


def record_eventlog(work: str) -> None:
    """Three small jobs: two under job groups, one without; the log is
    trimmed to the events and fields the parser reads."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    logdir = os.path.join(work, "eventlog")
    os.makedirs(logdir)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "1")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", logdir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setJobGroup("op1/count", "op1/count")
    sc.parallelize(range(10), 2).count()
    sc.setJobGroup("op1/shuffle", "op1/shuffle")
    spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 3).alias("k")).count().collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.parallelize(range(4), 1).sum()
    spark.stop()
    keep_props = ("spark.jobGroup.id",)
    with open(glob.glob(os.path.join(logdir, "*"))[0]) as src, open(SAMPLE_LOG, "w") as out:
        for line in src:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties", {})
                ev = {k: ev[k] for k in ("Event", "Job ID", "Submission Time", "Stage IDs")}
                ev["Properties"] = {k: v for k, v in props.items() if k in keep_props}
            elif kind == "SparkListenerTaskEnd":
                ev = {k: ev[k] for k in ("Event", "Stage ID", "Task Metrics")}
            else:
                continue
            out.write(json.dumps(ev) + "\n")


def main() -> int:
    work = os.path.join(os.getcwd(), ".perfbench_selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    tempfile.tempdir = None
    try:
        if sys.argv[1:] == ["--record-eventlog"]:
            record_eventlog(work)
            return 0
        test_eventlog()
        test_checkpoint_callers()
        from worker import build_spark

        spark = build_spark(work, trace=False, k=2)
        try:
            test_oracle_normalisation(spark)
            test_cdc_model(spark, work)
        finally:
            spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
