"""Per-layer tracing for the traced run (``--trace 1``).

Three sources, none of which edits the package:

* **Spans** the workloads open around every hop, post-hook and query
  phase (construct / execute).  In the traced run each span and
  operation also sets a Spark job group named after it.
* **Timing wrappers** around public functions of ``operators.cdc``,
  ``txlog``, ``maintenance``, ``io`` and ``codecs.confluent``, installed
  as module attributes in every loaded ``jibaro_spark`` module that
  holds the function, so calls made inside the package are caught too.
* **Spark's event log** (uncompressed, one file), read after the
  session stops; jobs go to operations and spans by job group or, for
  jobs on streaming threads (which carry the stream's own group), by
  submission time (``eventlog.attribute``).

Untraced runs use the same object with ``enabled=False``: spans cost
two clock reads and nothing else is installed.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import os
import statistics
import sys
import threading
import time
from collections import defaultdict

#: module → public functions timed in the traced run
WRAPPED = {
    "jibaro_spark.operators.cdc": ["cdc_merge_table"],
    "jibaro_spark.txlog": [
        "write_versioned", "snapshot_files", "write_checkpoint", "latest_version",
    ],
    "jibaro_spark.maintenance": [
        "compact", "append_history_metrics", "generate_manifest", "vacuum_if_due",
    ],
    "jibaro_spark.io": ["write_table"],
    "jibaro_spark.codecs.confluent": ["pair_frames"],
}
HOPS = ("source_to_raw", "raw_to_staged", "staged_to_curated")
MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark, k: int, enabled: bool, eventlog_dir: str) -> None:
        self.spark, self.k, self.enabled = spark, k, enabled
        self.eventlog_dir = eventlog_dir
        self.ops: list[dict] = []  # timed operations, in order
        self.warmup_ops: list[dict] = []
        self.op: dict | None = None
        self.groups: list[str] = []
        self.dead_letter_rows = 0
        self._stack = threading.local()  # wrapped calls in progress, per thread
        if enabled:
            self._install()

    # -- operations and spans
    def begin_timed(self) -> None:
        self.warmup_ops, self.ops = self.ops, []

    def end_timed(self) -> None:
        self._group("perfbench/idle")

    def begin_op(self, label: str, rows: int = 0) -> None:
        self.op = {
            "label": label, "rows": rows, "w0": time.time(), "t0": time.perf_counter(),
            "spans": [], "calls": defaultdict(lambda: [0, 0.0]),
            "results": defaultdict(list), "callers": defaultdict(list), "written": {},
        }
        self.groups = [label]
        self._group(label)

    def end_op(self) -> None:
        op, self.op = self.op, None
        op["w1"], op["seconds"] = time.time(), time.perf_counter() - op["t0"]
        self.ops.append(op)

    @contextlib.contextmanager
    def span(self, name: str):
        op = self.op
        label = f"{op['label']}/{name}"
        self.groups.append(label)
        self._group(label)
        w0, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            op["spans"].append((name, w0, time.time(), time.perf_counter() - t0))
            self.groups.pop()
            self._group(self.groups[-1])

    def _group(self, label: str) -> None:
        if self.enabled:
            self.spark.sparkContext.setJobGroup(label, label)

    def record_written(self, files: dict[str, int]) -> None:
        """Bytes written under the lake root by the last op, by path."""
        self.ops[-1]["written"] = files

    # -- wrappers
    def _install(self) -> None:
        for mod_name, fns in WRAPPED.items():
            mod = importlib.import_module(mod_name)
            for fn_name in fns:
                orig = getattr(mod, fn_name)
                key = f"{mod_name.rsplit('.', 1)[-1]}.{fn_name}"
                wrapped = self._wrap(key, orig)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith("jibaro_spark"):
                        for attr, val in list(vars(m).items()):
                            if val is orig:
                                setattr(m, attr, wrapped)

    def _wrap(self, key: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # the innermost wrapped call this one is made from: tells a
            # txlog checkpoint of the commit cadence from one compaction
            # writes after its rewrite
            stack = self._stack.__dict__.setdefault("keys", [])
            caller = stack[-1] if stack else None
            stack.append(key)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                stack.pop()
            op = self.op
            if op is not None:
                op["calls"][key][0] += 1
                op["calls"][key][1] += time.perf_counter() - t0
                op["results"][key].append(_summary(out))
                op["callers"][key].append(caller)
            return out

        return wrapper

    # -- report
    def report(self, end_to_end: dict) -> dict[str, tuple[float, str]]:
        from eventlog import attribute, parse_event_log

        files = sorted(glob.glob(os.path.join(self.eventlog_dir, "*")))
        log = parse_event_log(files[-1])
        windows = []
        for op in self.ops:
            windows.append((op["label"], op["w0"], op["w1"]))
            windows += [(f"{op['label']}/{n}", w0, w1) for n, w0, w1, _ in op["spans"]]
        jobs = attribute(log, windows)
        return build_report(self, log, jobs, end_to_end)


def _summary(out):
    """What the report keeps of a wrapped call's return value: flags
    and counts as they are, a list's length, a dict's copy."""
    if isinstance(out, (bool, int)):
        return out
    if isinstance(out, list):
        return len(out)
    return dict(out) if isinstance(out, dict) else None


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def build_report(tr: Tracer, log, jobs, end_to_end: dict) -> dict[str, tuple[float, str]]:
    from query_mix import MIX

    ops = tr.ops
    out: dict[str, tuple[float, str]] = {}
    wall = sum(op["seconds"] for op in ops)

    def span_s(op, name):
        return sum(s for n, _, _, s in op["spans"] if n == name)

    def span_jobs(op, name):
        return jobs.get(f"{op['label']}/{name}", [])

    def call_s(op, key):
        return op["calls"][key][1] if key in op["calls"] else 0.0

    cdc_ops = [op for op in ops if any(n in HOPS for n, *_ in op["spans"])]
    # pipeline hops (staged_to_curated without its post-hooks)
    for hop in HOPS + ("post_hooks",):
        secs = [
            span_s(op, hop) - (span_s(op, "post_hooks") if hop == "staged_to_curated" else 0)
            for op in cdc_ops
        ]
        out[f"pipeline.{hop}_s"] = (_median(secs), "s")
        if hop in HOPS:
            out[f"pipeline.{hop}.rows_per_s"] = (
                _median(op["rows"] / s for op, s in zip(cdc_ops, secs) if s > 0), "1/s"
            )
            out[f"pipeline.{hop}.jobs"] = (
                _median(len(span_jobs(op, hop)) for op in cdc_ops), "count")
    lat = sorted(op["seconds"] for op in cdc_ops) or [0.0]
    # highest percentile with >= 10 ops beyond it; the slowest when fewer
    out["pipeline.op_tail_s"] = (lat[-11] if len(lat) > 10 else lat[-1], "s")

    # codecs, cdc, txlog, maintenance: the wrappers
    def results(key):
        return [r for op in cdc_ops for r in op["results"].get(key, [])]

    def per_op_s(key):
        return _median(call_s(op, key) for op in cdc_ops)

    out["codecs.schema_pairs_per_op"] = (
        _median(sum(op["results"].get("confluent.pair_frames", [])) for op in cdc_ops), "count")
    out["codecs.dead_letter_rows"] = (float(tr.dead_letter_rows), "rows")
    out["cdc.merge_s"] = (per_op_s("cdc.cdc_merge_table"), "s")
    out["cdc.rows_written"] = (_median(
        r.get("rowsWritten", 0) for r in results("cdc.cdc_merge_table") if r), "rows")
    out["txlog.commit_s"] = (per_op_s("txlog.write_versioned"), "s")
    out["txlog.snapshot_s"] = (per_op_s("txlog.snapshot_files"), "s")
    out["txlog.checkpoint_s"] = (
        float(sum(call_s(op, "txlog.write_checkpoint") for op in cdc_ops)), "s")
    out["txlog.latest_version_calls"] = (_median(
        op["calls"]["txlog.latest_version"][0] if "txlog.latest_version" in op["calls"] else 0
        for op in cdc_ops), "count")
    # the 10-commit cadence only: compaction also checkpoints each rewrite
    out["txlog.checkpoints"] = (float(sum(
        c == "txlog.write_versioned"
        for op in cdc_ops for c in op["callers"].get("txlog.write_checkpoint", [])
    )), "count")
    for short, fn in (("compact", "compact"), ("history", "append_history_metrics"),
                      ("manifest", "generate_manifest"), ("vacuum", "vacuum_if_due")):
        out[f"maintenance.{short}_s"] = (per_op_s(f"maintenance.{fn}"), "s")
    for name, key in (("compactions", "compact"), ("vacuums", "vacuum_if_due")):
        fired = sum(1 for r in results(f"maintenance.{key}") if r)
        out[f"maintenance.{name}"] = (float(fired), "count")

    # io: bytes under the lake root per op, by bucket
    n_cdc = max(1, len(cdc_ops))
    for bucket, name in (("raw", "raw"), ("staged", "staged"), ("curated", "curated"),
                         ("spark-control", "control")):
        b = sum(v for op in cdc_ops for p, v in op["written"].items()
                if p.split(os.sep)[0] == bucket)
        out[f"io.bytes_written_mb.{name}"] = (b / MB / n_cdc, "MB")
    out["io.files_written"] = (sum(len(op["written"]) for op in cdc_ops) / n_cdc, "count")
    out["io.write_table_s"] = (per_op_s("io.write_table"), "s")

    # queries: construct / execute per query
    for q in MIX:
        qops = [op for op in ops if op["label"].endswith("/" + q)]
        out[f"queries.{q}.construct_s"] = (_median(span_s(op, "construct") for op in qops), "s")
        out[f"queries.{q}.construct_jobs"] = (
            _median(len(span_jobs(op, "construct")) for op in qops), "count")
        out[f"queries.{q}.execute_s"] = (_median(span_s(op, "execute") for op in qops), "s")
        out[f"queries.{q}.jobs"] = (_median(len(_op_jobs(op, jobs)) for op in qops), "count")
        out[f"queries.{q}.shuffle_mb"] = (_median(
            sum(log.job_totals(j)["shuffle_write"] for j in _op_jobs(op, jobs)) / MB
            for op in qops), "MB")

    # spark: everything the timed operations ran
    tot = defaultdict(int)
    n_jobs = 0
    for op in ops:
        for j in _op_jobs(op, jobs):
            n_jobs += 1
            for k, v in log.job_totals(j).items():
                tot[k] += v
    n = max(1, len(ops))
    out["spark.jobs_per_op"] = (n_jobs / n, "count")
    out["spark.tasks_per_op"] = (tot["tasks"] / n, "count")
    out["spark.executor_run_s"] = (tot["run_ms"] / 1e3 / n, "s")
    out["spark.executor_cpu_s"] = (tot["cpu_ns"] / 1e9 / n, "s")
    out["spark.gc_s"] = (tot["gc_ms"] / 1e3 / n, "s")
    out["spark.shuffle_write_mb"] = (tot["shuffle_write"] / MB / n, "MB")
    out["spark.spill_mb"] = (tot["spill"] / MB / n, "MB")
    out["spark.executor_busy_ratio"] = (
        tot["run_ms"] / 1e3 / (wall * tr.k) if wall else 0.0, "ratio")

    # the traced run's own end-to-end figures: compared with an
    # untraced run they give the tracing overhead
    out["trace.op_p50_s"] = (end_to_end["op_p50_s"], "s")
    out["trace.items_per_s"] = (end_to_end["items_per_s"], "1/s")
    return out


def _op_jobs(op, jobs) -> list:
    """Jobs of an operation: its own and those of its spans."""
    prefix = op["label"]
    return [j for label, js in jobs.items()
            if label == prefix or label.startswith(prefix + "/") for j in js]
