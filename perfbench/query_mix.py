"""The ``query_mix`` workload: repeated passes over declared queries.

One operation = one query, from ``DeclaredQuery.fn(spark, fixture)``
(construction, including eager probes and pins) to the completion of a
``noop`` sink write.  Each timed pass runs every query of :data:`MIX`
once, in an order drawn from the seed; a run times
``ceil(seconds / NOMINAL_PASS_S)`` passes (at least 2, so each query
runs more than once), about ``--seconds`` of work on a 4-core box.
Set-up runs one pass that collects each result and checks its hash
against ``oracle_hashes.json`` (DuckDB ``oracle_sql`` over the same
fixture); that pass is also the warm-up.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics
import time

from oracle import hash_rows

HERE = os.path.dirname(os.path.abspath(__file__))
#: The sf0.01 fixture tables the mix reads (a copy of the project's
#: deterministic test fixture, so the benchmark needs nothing outside
#: the checkout).
FIXTURE = os.path.join(HERE, "fixture_sf0.01")
#: Every query has an oracle.  The ROADMAP targets: containment join,
#: as-of join, the quantile/global-rank probe, the edit-distance skew
#: probe, and the applyInPandas pair (MMR, DTW).
MIX = (
    "q_asof_purchase_click",
    "q_quantile_normalize",
    "q_containment_pairs",
    "q_edit_distance_qgram",
    "q_mmr_diversify",
    "q_dtw_monthly_pairs",
)
NOMINAL_PASS_S = 12.0


def stage_totals(spark, after_stage: int) -> tuple[int, dict[str, float]]:
    """Sums of task metrics over stages with id > ``after_stage`` from
    Spark's own status store (no event log needed); returns the
    highest stage id seen and the sums."""
    ctx = spark.sparkContext
    sc = ctx._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    no_quantiles = ctx._gateway.new_array(ctx._jvm.double, 0)
    stages = sc.statusStore().stageList(None, False, False, no_quantiles, None)
    top, sums = after_stage, {"input": 0, "shuffle_write": 0, "spill": 0}
    for i in range(stages.size()):
        st = stages.apply(i)
        sid = st.stageId()
        top = max(top, sid)
        if sid > after_stage:
            sums["input"] += st.inputBytes()
            sums["shuffle_write"] += st.shuffleWriteBytes()
            sums["spill"] += st.diskBytesSpilled()
    return top, sums


def run_query_mix(spark, seed: int, seconds: float, work: str, tracer, t_start: float) -> dict:
    from jibaro_spark.queries import REGISTRY

    with open(os.path.join(HERE, "oracle_hashes.json")) as f:
        oracle = json.load(f)
    rng = random.Random(seed)

    # set-up: one checked pass (collect + hash) doubles as the warm-up
    warm, mismatched = {}, {}
    for name in rng.sample(MIX, len(MIX)):
        t0 = time.perf_counter()
        try:
            df = REGISTRY[name].fn(spark, FIXTURE)
            rows = [tuple(r) for r in df.collect()]
            got = {"rows": len(rows), "columns": sorted(df.columns),
                   "sha256": hash_rows(df.columns, rows)}
        except Exception as ex:  # noqa: BLE001 — the query counts as failed
            got = {"error": f"{type(ex).__name__}: {ex}"[:500]}
        warm[name] = round(time.perf_counter() - t0, 3)
        if got != oracle[name]:
            mismatched[name] = got

    top_stage, _ = stage_totals(spark, -1)
    setup_s = time.time() - t_start
    tracer.begin_timed()
    latencies, completed, failed, errors = [], [], 0, {}
    per_query: dict[str, list[float]] = {q: [] for q in MIX}
    passes = max(2, math.ceil(seconds / NOMINAL_PASS_S))
    for p in range(1, passes + 1):
        for name in rng.sample(MIX, len(MIX)):
            tracer.begin_op(f"p{p}/{name}")
            t0 = time.perf_counter()
            ok = True
            try:
                with tracer.span("construct"):
                    df = REGISTRY[name].fn(spark, FIXTURE)
                with tracer.span("execute"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as ex:  # noqa: BLE001 — counted; the mix goes on
                ok = False
                errors[name] = f"{type(ex).__name__}: {ex}"[:500]
            dt = time.perf_counter() - t0
            tracer.end_op()
            latencies.append(dt)
            if ok:
                completed.append(dt)
            per_query[name].append(dt)
            # a query that disagrees with its oracle stays in the mix,
            # every execution of it counted as failed
            failed += not ok or name in mismatched
    tracer.end_timed()
    _, sums = stage_totals(spark, top_stage)
    return {
        "attempted": len(latencies),
        "failed": failed,
        "error": (
            f"failed or disagree with their oracle: {sorted(set(mismatched) | set(errors))}"
            if mismatched or errors else None
        ),
        "metrics": {
            "setup_s": setup_s,
            # a query that raised ran only up to its error: it counts
            # against items_per_s but not in the latency median
            "op_p50_s": statistics.median(completed or latencies),
            "items_per_s": len(completed) / sum(latencies),
            # the mix lands no events: bytes the executors wrote
            # (shuffle + spill) per byte they scanned
            "write_amp": (sums["shuffle_write"] + sums["spill"]) / max(1, sums["input"]),
        },
        "diagnostics": {
            "warmup_op_s": warm,
            "passes": passes,
            "op_s": [round(x, 3) for x in latencies],
            "query_p50_s": {
                q: round(statistics.median(v), 3) for q, v in per_query.items()
            },
            "mismatched": mismatched,
            "errors": errors,
            "stage_bytes": sums,
        },
    }
