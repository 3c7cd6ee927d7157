"""NULL-fuzz differential sweep (the ADVICE r8 QEXSUB finding, swept
as a CLASS): the sf fixtures contain no NULL/empty documents, so a
Spark-kernel-vs-oracle divergence in NULL handling passes every driver
round silently.  This harness builds a MUTATED fixture — the sf0.001
tables verbatim, plus documents rows with NULL doc_id (duplicated
text), NULL text, empty text, and whitespace-only text, and embeddings
rows with NULL id / NULL vector — then re-runs every documents/
embeddings-reading registered query through the driver's own
hash-compare on that fixture.

A query that CRASHES or hash-diverges here encodes different NULL
contracts on its two sides — exactly the latent class the r8 advisor
caught once by reading.  Queries are exercised at sf0.001 (speed; the
point is the NULL rows, not volume).

Fixture classes (``NULLFUZZ_CLASS`` env var):

* ``docs`` (default) — mutate documents/embeddings/events (the two
  round-9 sweeps); relational tables copied verbatim.
* ``relational`` — mutate the seven TPC-H tables instead: a consistent
  injected sub-graph (order 90000002 → customer 90000003 → nation 91,
  lineitems with NULL measures / NULL keys / NULL dates) plus one
  all-NULL row per table; documents/embeddings/events copied verbatim.
  Targets become every registered query whose source reads a
  relational table.
* ``bigval`` — the VALUE-SIZE degeneracy (sixth class, VERDICT r10 #1):
  the skew class covered row-COUNT skew; this one covers row-SIZE skew
  — the other certainty of a 100 TB corpus.  Injected rows: a ~1.5 MB
  document with a diverse 5k-word vocabulary (shingle/minhash/BPE
  pipelines materialize per-row arrays proportional to its length), a
  100k-char UNBROKEN token (word tokenizers, BPE word collapse), a
  400 KB highly-repetitive document (PMI/bigram aggregation), a 600 KB
  CJK document (byte-vs-char width contracts), and an events row whose
  ``props`` is a ~1 MB JSON value (json extraction both engines).
  Checks THREE contracts: hash-equality vs the oracle on the mutated
  fixture, a wall-time band (``bigval_wall <= BIGVAL_BAND ×
  max(base_wall, floor)`` — the payload is ≤ ~20× the fixture's
  logical bytes, so a linear kernel rides the fixed overhead while a
  super-linear one blows through), and a PEAK-MEMORY band: a sampler
  thread tracks JVM heap-used (py4j) plus the RSS of every descendant
  process (pyspark Arrow workers) during both runs, and the big run's
  peak-over-floor must stay within ``MEM_BAND × max(base_peak, floor)
  + MEM_PER_PAYLOAD_BYTE × payload`` — a kernel that holds more than a
  small constant factor of a giant value in memory at once is a 100 TB
  OOM even when its values are right.  Violations land in ``slow`` /
  ``mem_hog`` buckets and fail the sweep; measured-intrinsic cases are
  registered in ``BIGVAL_INTRINSIC`` with their justification.
* ``timedegen`` — EXTREME-TIMESTAMP degeneracy (ninth class, r12): the
  sf fixtures' event times sit in a friendly 2023-2024 window, so a
  Spark-vs-DuckDB divergence in negative-epoch floor/truncation,
  pre-Gregorian proleptic dates, or era edges passes every round
  silently.  Injected events rows (valid user/type/value/props, fresh
  94000xxx ids): epoch 0, a negative-epoch timestamp, a negative-epoch
  value with fractional seconds (floor-vs-truncate division is the
  classic engine split), pre-1900, the day before the 1582 Gregorian
  reform, and the year-1 / year-9999 era edges.  Targets every
  events-reading registered query through the same hash-compare.
  ``timedegen_rel`` is the companion lane on the RELATIONAL date axes:
  a consistent valid sub-graph of 3 orders + 3 lineitems carrying the
  same degenerate instants on o_orderdate / l_shipdate, swept over
  every orders/lineitem-reading query (174 targets; r12 end state
  fully green — the decimal/date conventions of earlier rounds held).
* ``skew`` — the CARDINALITY degeneracy (fifth class, VERDICT r9 #5):
  every mutated table doubles in volume with the new half concentrated
  on ONE hot key (customer 42 owns 50% of orders, part 7 sits on 50%
  of lineitems, user 7 fires 50% of events, one document text / one
  embedding vector duplicated to 50% of the corpus) — the "one user
  with 3M events / one doc at 10^5 copies" state a 100 TB corpus
  always contains.  Checks BOTH contracts: hash-equality vs the oracle
  on the skewed fixture AND a wall-time band — each target runs first
  on the pristine fixture then on the skewed one, and must stay within
  ``SKEW_BAND × volume_ratio × max(base_wall, floor)``; violations
  land in a ``slow`` bucket and fail the sweep (a silently
  single-tasking or pair-exploding plan is a scale defect even when
  its values are right).

Usage: [NULLFUZZ_CLASS=relational] python scripts/null_fuzz_contract.py [names...]
Prints per-query status + one JSON summary line.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import sys
import tempfile
import time
from datetime import date, datetime

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Overridable for the skew class: at sf0.001 the wall-time band mostly
# catches quadratic candidate blowups; re-running the heavy queries
# with NULLFUZZ_SRC=/root/testdata/sf0.1 makes silent single-tasking
# (one hot partition doing 50% of the work) measurable too.
SRC = os.environ.get("NULLFUZZ_SRC", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
RELATIONAL = "region nation customer supplier part orders lineitem".split()
CLS = os.environ.get("NULLFUZZ_CLASS", "docs")


def _append_rows(src: str, dst: str, rows: "list[dict]") -> None:
    """Copy parquet ``src`` to ``dst`` with ``rows`` appended, via
    pyarrow so every physical type (int96/us timestamps, int32 vs
    int64) is preserved byte-for-byte — the same trick the events lane
    uses.  Columns a row omits become NULL."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tab = pq.read_table(src)
    arrays = []
    for field in tab.schema:
        vals = [r.get(field.name) for r in rows]
        arrays.append(pa.array(vals, type=field.type))
    extra = pa.table(arrays, schema=tab.schema)
    pq.write_table(pa.concat_tables([tab, extra]), dst)


# The injected relational sub-graph: orders 90000002 (NULL measures on
# its lineitems) and 90000007 (NULL custkey), customer 90000003 in the
# NULL-regionkey nation 91, part/supplier with NULL attributes, and an
# all-NULL row per table.  Valid timestamps sit inside the fixture's
# date domain so date fences don't trivially prune every injected row.
_TS = datetime(2024, 3, 15, 12, 0, 0)
RELATIONAL_ROWS = {
    "region": [{}],
    "nation": [
        {"n_nationkey": 91, "n_name": "NULLLAND", "n_regionkey": None},
        {},
    ],
    "customer": [
        {"c_custkey": 90000003, "c_name": "Customer#NULL1", "c_nationkey": 91},
        {"c_custkey": 90000004, "c_acctbal": 1234.56, "c_mktsegment": "BUILDING"},
        {},
    ],
    "supplier": [
        {"s_suppkey": 90000005, "s_name": "Supplier#NULL"},
        {},
    ],
    "part": [
        {"p_partkey": 90000006},
        {},
    ],
    "orders": [
        {"o_orderkey": 90000002, "o_custkey": 90000003, "o_orderstatus": "O"},
        {
            "o_orderkey": 90000007,
            "o_totalprice": 999.99,
            "o_orderdate": _TS,
            "o_orderpriority": "1-URGENT",
        },
        {},
    ],
    "lineitem": [
        {  # valid keys into the injected order/part/supplier, NULL measures
            "l_orderkey": 90000002,
            "l_partkey": 90000006,
            "l_suppkey": 90000005,
            "l_linenumber": 1,
            "l_returnflag": "N",
            "l_linestatus": "O",
            "l_shipdate": _TS,
        },
        {  # NULL keys/flags/date, valid measures
            "l_quantity": 17.0,
            "l_extendedprice": 1000.0,
            "l_discount": 0.05,
            "l_tax": 0.02,
        },
        {  # valid keys+measures, NULL flags+shipdate
            "l_orderkey": 90000002,
            "l_partkey": 90000006,
            "l_suppkey": 90000005,
            "l_linenumber": 2,
            "l_quantity": 5.0,
            "l_extendedprice": 500.0,
            "l_discount": 0.0,
            "l_tax": 0.0,
        },
        {},
    ],
}

# Degenerate-FLOAT class: NaN / +Inf / -Inf in double measure columns
# with VALID keys, so the rows pass every NULL fence and reach the
# arithmetic.  Keys sit in a fresh 91000xxx range.
_NAN, _PINF, _NINF = float("nan"), float("inf"), float("-inf")
FLOATDEGEN_ROWS = {
    "customer": [
        {"c_custkey": 91000001, "c_name": "Customer#NAN", "c_nationkey": 1,
         "c_acctbal": _NAN, "c_mktsegment": "BUILDING"},
        {"c_custkey": 91000002, "c_name": "Customer#INF", "c_nationkey": 1,
         "c_acctbal": _PINF, "c_mktsegment": "BUILDING"},
    ],
    "part": [
        {"p_partkey": 91000003, "p_name": "nan part", "p_brand": "Brand#91",
         "p_type": "STANDARD NAN", "p_size": 1, "p_retailprice": _NAN},
    ],
    "orders": [
        {"o_orderkey": 91000004, "o_custkey": 91000001, "o_orderstatus": "O",
         "o_totalprice": _NAN, "o_orderdate": datetime(1996, 6, 15, 12, 0, 0),
         "o_orderpriority": "3-MEDIUM"},
        {"o_orderkey": 91000005, "o_custkey": 91000001, "o_orderstatus": "O",
         "o_totalprice": _NINF, "o_orderdate": datetime(1996, 6, 16, 12, 0, 0),
         "o_orderpriority": "3-MEDIUM"},
    ],
    "lineitem": [
        {"l_orderkey": 91000004, "l_partkey": 91000003, "l_suppkey": 1,
         "l_linenumber": 1, "l_quantity": _NAN, "l_extendedprice": _PINF,
         "l_discount": 0.05, "l_tax": _NAN, "l_returnflag": "N",
         "l_linestatus": "O", "l_shipdate": datetime(1996, 6, 15, 12, 0, 0)},
    ],
    # a broken encoder emitting NaN/Inf vectors is a REALISTIC corpus
    # state — the numpy block kernels and HOF dot products must agree
    # with the oracle on it
    "embeddings": [
        {"vec_id": 91000010,
         "embedding": [_NAN] + [0.1] * 63, "label": 1},
        {"vec_id": 91000011,
         "embedding": [_PINF] + [0.2] * 63, "label": 2},
        # NULL COMPONENT (not whole-NULL vector): the case the r9
        # advisor flagged — Spark's ~exists finite fence drops it under
        # three-valued logic while a non-NULL-aware oracle lambda keeps
        # it; both sides must agree to drop (ADVICE r9 medium)
        {"vec_id": 91000014,
         "embedding": [None] + [0.3] * 63, "label": 3},
    ],
    "events": [
        {"event_id": 91000012, "ts": datetime(2024, 1, 5, 10, 0, 0),
         "user_id": 7, "event_type": "click", "value": _NAN,
         "props": '{"k": 1}'},
    ],
}

# Extreme-timestamp class (ninth, r12): valid keys/types/values so the
# rows pass every fence and reach the time arithmetic; only ``ts`` is
# degenerate.  Fresh 94000xxx ids; micro precision only (the
# established cross-engine precision contract).  The fractional
# negative-epoch value is the classic floor-vs-truncate division
# split; 1582-10-04 probes proleptic-Gregorian agreement; year 1 /
# year 9999 probe the era edges of every date_trunc/extract kernel.
TIMEDEGEN_ROWS = {
    "events": [
        {"event_id": 94000001, "ts": datetime(1970, 1, 1, 0, 0, 0),
         "user_id": 13, "event_type": "view", "value": 1.0,
         "props": '{"k": 1}'},
        {"event_id": 94000002, "ts": datetime(1920, 6, 15, 12, 34, 56),
         "user_id": 13, "event_type": "click", "value": 2.0,
         "props": '{"k": 2}'},
        {"event_id": 94000003,
         "ts": datetime(1969, 12, 31, 23, 59, 59, 999999),
         "user_id": 13, "event_type": "view", "value": 3.0,
         "props": '{"k": 3}'},
        {"event_id": 94000004, "ts": datetime(1850, 3, 7, 1, 2, 3),
         "user_id": 13, "event_type": "purchase", "value": 4.0,
         "props": '{"k": 4}'},
        {"event_id": 94000005, "ts": datetime(1582, 10, 4, 12, 0, 0),
         "user_id": 13, "event_type": "view", "value": 5.0,
         "props": '{"k": 5}'},
        # 0001-01-08, NOT 0001-01-01: midnight of year 1 day 1 cannot
        # round-trip pyspark's driver-side conversion at all (the
        # Julian<->proleptic rebase underflows into year 0 — a CLIENT
        # materialization limit, pinned in
        # tests/test_timedegen_guards.py), and any week-truncation of
        # days 1-7 lands back on it; day 8 is the first Monday whose
        # whole truncation lattice stays collectable.
        {"event_id": 94000006, "ts": datetime(1, 1, 8, 0, 0, 0),
         "user_id": 13, "event_type": "click", "value": 6.0,
         "props": '{"k": 6}'},
        {"event_id": 94000007, "ts": datetime(9999, 12, 31, 23, 59, 59),
         "user_id": 13, "event_type": "view", "value": 7.0,
         "props": '{"k": 7}'},
    ],
}

# timedegen_rel lane: the same degenerate instants on the RELATIONAL
# date axes (o_orderdate / l_shipdate), with a consistent valid
# sub-graph (order 95000001 owns the lineitems; real custkey/part/
# supplier keys) so joins and date grouping actually reach the rows.
# Date-range fences (1995-2001 predicates) legitimately prune them in
# the filtered TPC-H queries — the probe power is in the unfiltered
# group-by-month/era arithmetic.
TIMEDEGEN_REL_ROWS = {
    "orders": [
        {"o_orderkey": 95000001, "o_custkey": 1, "o_orderstatus": "O",
         "o_totalprice": 101.0,
         "o_orderdate": datetime(1920, 6, 15, 12, 34, 56),
         "o_orderpriority": "1-URGENT"},
        {"o_orderkey": 95000002, "o_custkey": 1, "o_orderstatus": "F",
         "o_totalprice": 102.0,
         "o_orderdate": datetime(1969, 12, 31, 23, 59, 59, 999999),
         "o_orderpriority": "2-HIGH"},
        {"o_orderkey": 95000003, "o_custkey": 1, "o_orderstatus": "O",
         "o_totalprice": 103.0,
         "o_orderdate": datetime(9999, 12, 28, 0, 0, 0),
         "o_orderpriority": "3-MEDIUM"},
    ],
    "lineitem": [
        {"l_orderkey": 95000001, "l_partkey": 1, "l_suppkey": 1,
         "l_linenumber": 1, "l_quantity": 1.0, "l_extendedprice": 100.0,
         "l_discount": 0.0, "l_tax": 0.0, "l_returnflag": "N",
         "l_linestatus": "O",
         "l_shipdate": datetime(1920, 6, 16, 1, 2, 3)},
        {"l_orderkey": 95000002, "l_partkey": 1, "l_suppkey": 1,
         "l_linenumber": 1, "l_quantity": 2.0, "l_extendedprice": 200.0,
         "l_discount": 0.1, "l_tax": 0.0, "l_returnflag": "R",
         "l_linestatus": "F",
         "l_shipdate": datetime(1, 1, 8, 0, 0, 0)},
        {"l_orderkey": 95000003, "l_partkey": 1, "l_suppkey": 1,
         "l_linenumber": 1, "l_quantity": 3.0, "l_extendedprice": 300.0,
         "l_discount": 0.0, "l_tax": 0.1, "l_returnflag": "A",
         "l_linestatus": "F",
         "l_shipdate": datetime(9999, 12, 29, 23, 59, 59)},
    ],
}

# Adversarial-skew class: the new half of every mutated table carries
# ONE hot key.  Keys are chosen IN-DOMAIN (existing customer/part/user)
# so joins and group-bys actually concentrate; row identities shift by
# _SKEW_SHIFT so uniqueness contracts hold (lineitem FKs follow their
# shifted orders — the duplicated sub-graph stays referentially
# consistent).
_SKEW_SHIFT = 95_000_000
_SKEW_HOT_CUST = 42
_SKEW_HOT_PART = 7
_SKEW_HOT_USER = 7
# wall-time contract: skew_wall <= band * volume_ratio * max(base, floor)
_SKEW_BAND = 3.0
_SKEW_VOLUME_RATIO = 2.0
_SKEW_FLOOR_S = 1.0

# Queries whose TRUE answer mass grows super-linearly under the hot
# key — a band violation here is data-dependent work, not a plan
# defect, and the ORACLE pays it too.  Each entry carries its measured
# justification; violations land in `slow_intrinsic` (reported, not
# failing).  Anything NOT in this dict that trips the band is a real
# finding.
SKEW_INTRINSIC = {
    # Hot part 7 on 50% of lineitems turns the co-supply graph into a
    # complete 1000-supplier clique: edges 113,506 → 499,500 (4.4×)
    # and oriented wedge mass Σdeg² 5.2e7 → 1.0e9 (19×) at 2× input —
    # measured, and the 20× wall tracks it 1:1 (the Suri-Vassilvitskii
    # orientation balances load; the wedge mass IS the triangle mass).
    "q_triangle_count": "co-supply graph densifies to a 1000-clique; "
    "wedge mass grows 19x at 2x input (measured), wall tracks it 1:1",
}


# Probe-side staged twins: single-statement oracles whose CTE chains
# DuckDB re-inlines super-linearly on the mutated fixtures (VERDICT
# r10 #5).  Moved to an importable side-effect-free module so the
# pytest guards import it instead of exec-ing a source slice of this
# file (ADVICE r11 #3).
from jibaro_spark.queries.graph import STAGED_ORACLES  # noqa: E402


# Value-size degeneracy class (sixth class, VERDICT r10 #1).  All
# payloads are DETERMINISTIC closed-form strings (no RNG): re-runs and
# the oracle see byte-identical fixtures.  Doc ids sit in a fresh
# 93000xxx range with VALID lang/source/n_chars so the giant rows pass
# every fence and reach the hot paths (a NULL-fenced giant doc tests
# nothing).
_BIGVAL_BAND = 10.0        # wall: bigval <= band * max(base, floor)
_BIGVAL_FLOOR_S = 1.0
# memory band + sampler live in the import-safe scripts/bigval_band.py
# so the band's teeth are pytest-checkable (VERDICT r11 #7)
from scripts.bigval_band import (  # noqa: E402
    MEM_BAND as _BIGVAL_MEM_BAND,
    MEM_FLOOR_B as _BIGVAL_MEM_FLOOR_B,
    MEM_PER_PAYLOAD_BYTE as _BIGVAL_MEM_PER_PAYLOAD_BYTE,
    PeakMemSampler as _PeakMemSampler,
)


def _bigval_rows() -> "dict[str, list[dict]]":
    # ~1.5 MB, ~250k tokens over a 5k-word vocabulary: char shingles
    # are diverse (tens of thousands distinct) without being unique,
    # the realistic worst case for per-row shingle materialization
    doc_a = " ".join(f"w{(i * i + 17 * i) % 4999:04d}" for i in range(250_000))
    # one 100k-char UNBROKEN token (no whitespace anywhere): word
    # tokenizers yield a single giant token; BPE's word collapse gets
    # one word with 100k-1 adjacent pairs
    doc_b = "".join(chr(97 + (7 * i + (i * i) // 5) % 26) for i in range(100_000))
    # ~400 KB over a 47-word vocabulary: maximal bigram/PMI mass per
    # byte (every bigram repeats thousands of times)
    doc_c = " ".join(f"t{(i * 13) % 47}" for i in range(100_000))
    # ~200k chars of CJK (≈600 KB utf-8): 3-byte code points stress
    # every byte-vs-char width assumption (length/substring/shingles
    # are CHARacter-based in both engines — a kernel that measures
    # bytes diverges here)
    doc_d = "".join(chr(0x4E00 + (i * 31) % 2000) for i in range(200_000))
    # ~1 MB single JSON value in events.props, still shaped like the
    # fixture's ('{"k": int}' plus extra keys) so json-path queries
    # extract from it rather than fencing it out
    pad = "".join(chr(97 + (i * 11 + i // 7) % 26) for i in range(1_000_000))
    big_props = json.dumps({"k": 93, "tag": "bigval", "pad": pad})
    docs = [
        {"doc_id": 93_000_000, "text": doc_a, "lang": "en",
         "source": "src0", "n_chars": len(doc_a)},
        {"doc_id": 93_000_001, "text": doc_b, "lang": "en",
         "source": "src0", "n_chars": len(doc_b)},
        {"doc_id": 93_000_002, "text": doc_c, "lang": "en",
         "source": "src0", "n_chars": len(doc_c)},
        {"doc_id": 93_000_003, "text": doc_d, "lang": "zh",
         "source": "src0", "n_chars": len(doc_d)},
    ]
    events = [
        {"event_id": 93_000_101, "ts": datetime(2024, 1, 15, 12, 0, 0),
         "user_id": 7, "event_type": "click", "value": 1.0,
         "props": big_props},
    ]
    return {"documents": docs, "events": events}


def _bigval_payload_bytes(rows_by_table: "dict[str, list[dict]]") -> int:
    total = 0
    for rows in rows_by_table.values():
        for r in rows:
            for v in r.values():
                if isinstance(v, str):
                    total += len(v.encode("utf-8"))
    return total


# Queries whose TRUE answer/work mass grows super-linearly in a single
# value's length — a band violation here is data-dependent work the
# oracle pays too.  Measured justification required per entry;
# violations report as `slow_intrinsic` / `mem_intrinsic`, non-failing.
BIGVAL_INTRINSIC: "dict[str, str]" = {}
BIGVAL_MEM_INTRINSIC: "dict[str, str]" = {}




def _build_skew_table(t: str, src: str, dst: str) -> bool:
    """Write the skewed twin of table ``t``; False if copied verbatim."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tab = pq.read_table(src)

    def replace(table, name, arr):
        return table.set_column(
            table.schema.get_field_index(name), table.schema.field(name), arr
        )

    def const(name, val, n):
        return pa.array([val] * n, type=tab.schema.field(name).type)

    n = tab.num_rows
    if t == "orders":
        dup = replace(tab, "o_orderkey", pc.add(tab["o_orderkey"], _SKEW_SHIFT))
        dup = replace(dup, "o_custkey", const("o_custkey", _SKEW_HOT_CUST, n))
    elif t == "lineitem":
        dup = replace(tab, "l_orderkey", pc.add(tab["l_orderkey"], _SKEW_SHIFT))
        dup = replace(dup, "l_partkey", const("l_partkey", _SKEW_HOT_PART, n))
    elif t == "events":
        dup = replace(tab, "event_id", pc.add(tab["event_id"], _SKEW_SHIFT))
        dup = replace(dup, "user_id", const("user_id", _SKEW_HOT_USER, n))
    elif t == "documents":
        # one hot TEXT at 50% of the corpus: every duplicate is a full
        # row copy of one deterministic base doc under a fresh doc_id
        base = (
            tab.filter(pc.greater(pc.utf8_length(tab["text"]), 200))
            .sort_by("doc_id")
            .slice(0, 1)
        )
        if base.num_rows != 1:
            # ADVICE r10: never let the fixture silently degenerate to
            # a plain copy — fall back to the longest non-NULL text
            base = (
                tab.append_column(
                    "__len",
                    pc.fill_null(pc.utf8_length(tab["text"]), 0),
                )
                .sort_by([("__len", "descending"), ("doc_id", "ascending")])
                .slice(0, 1)
                .drop_columns(["__len"])
            )
        assert base.num_rows == 1, "skew fixture: empty documents table"
        reps = pa.concat_tables([base] * n)
        dup = replace(
            reps,
            "doc_id",
            pa.array(
                [_SKEW_SHIFT + i for i in range(n)],
                type=tab.schema.field("doc_id").type,
            ),
        )
    elif t == "embeddings":
        base = tab.sort_by("vec_id").slice(0, 1)
        reps = pa.concat_tables([base] * n)
        dup = replace(
            reps,
            "vec_id",
            pa.array(
                [_SKEW_SHIFT + i for i in range(n)],
                type=tab.schema.field("vec_id").type,
            ),
        )
    else:
        shutil.copyfile(src, dst)
        return False
    pq.write_table(pa.concat_tables([tab, dup]), dst)
    return True


import __spark_entry__ as E  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

spark = (
    SparkSession.builder.master("local[8]")
    .appName("null_fuzz_contract")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "8g")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")


def build_fixture() -> str:
    keep = os.environ.get("NULLFUZZ_DIR")
    marker = os.path.join(keep, ".fuzzclass") if keep else None
    if (
        keep
        and os.path.isdir(keep)
        and os.path.exists(os.path.join(keep, "documents.parquet"))
        and marker
        and os.path.exists(marker)
        and open(marker).read().strip() == CLS
    ):
        return keep
    if keep and os.path.isdir(keep):
        # Stale cache (pre-marker dir, or NULLFUZZ_CLASS switched under
        # the same NULLFUZZ_DIR): the rebuild below cannot overwrite —
        # Spark's write.parquet refuses an existing path and
        # pq.write_table can't replace a Spark-written directory — so
        # wipe the kept dir before rebuilding (ADVICE r9).
        shutil.rmtree(keep, ignore_errors=True)
    out = keep or tempfile.mkdtemp(prefix="nullfuzz_sf_")
    os.makedirs(out, exist_ok=True)
    if CLS == "skew":
        for t in TABLES:
            _build_skew_table(
                t,
                os.path.join(SRC, f"{t}.parquet"),
                os.path.join(out, f"{t}.parquet"),
            )
        if keep:
            with open(marker, "w") as f:
                f.write(CLS)
        return out
    if CLS in ("relational", "floatdegen", "bigval", "timedegen", "timedegen_rel"):
        rows_by_table = (
            RELATIONAL_ROWS
            if CLS == "relational"
            else FLOATDEGEN_ROWS
            if CLS == "floatdegen"
            else TIMEDEGEN_ROWS
            if CLS == "timedegen"
            else TIMEDEGEN_REL_ROWS
            if CLS == "timedegen_rel"
            else _bigval_rows()
        )
        for t in TABLES:
            src = os.path.join(SRC, f"{t}.parquet")
            dst = os.path.join(out, f"{t}.parquet")
            if t in rows_by_table:
                _append_rows(src, dst, rows_by_table[t])
            else:
                shutil.copyfile(src, dst)
        if keep:
            with open(marker, "w") as f:
                f.write(CLS)
        return out
    for t in TABLES:
        src = os.path.join(SRC, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if t == "documents":
            docs = spark.read.parquet(src)
            some_text = docs.select("text").filter(
                F.length("text") > 200
            ).first()["text"]
            extras = spark.createDataFrame(
                [
                    (None, some_text),  # NULL id, text duplicated from corpus
                    (10_000_001, None),  # NULL text
                    (10_000_002, ""),  # empty text
                    (10_000_003, "   \n\t  "),  # whitespace-only text
                ],
                "doc_id bigint, text string",
            )
            # non-core columns (lang, ts, ...) become NULL on the
            # injected rows — more NULL surface, deliberately
            full = docs.unionByName(
                extras.select(
                    *[
                        extras[c].cast(docs.schema[c].dataType).alias(c)
                        if c in extras.columns
                        else F.lit(None).cast(docs.schema[c].dataType).alias(c)
                        for c in docs.columns
                    ]
                )
            )
            full.coalesce(1).write.parquet(dst)
        elif t == "embeddings":
            emb = spark.read.parquet(src)
            extras = spark.createDataFrame(
                [tuple(None for _ in emb.columns)], emb.schema
            )
            emb.unionByName(extras).coalesce(1).write.parquet(dst)
        elif t == "events":
            # mutate via pyarrow so the physical timestamp type is
            # preserved byte-for-byte (load_tables dispatches on it)
            import pyarrow as pa
            import pyarrow.parquet as pq

            tab = pq.read_table(src)
            nulls = {
                "event_id": [10_000_101, 10_000_102, 10_000_103, None],
                "ts": [None, "2024-01-02T00:00:00", "2024-01-02T00:00:01",
                       "2024-01-02T00:00:02"],
                "user_id": [7, None, 7, 7],
                "event_type": ["click", "click", None, "click"],
                "value": [1.0, 1.0, None, 1.0],
                "props": ['{"k": 1}', '{"k": 1}', None, '{"k": 1}'],
            }
            arrays = []
            for field in tab.schema:
                vals = nulls.get(field.name, [None] * 4)
                if pa.types.is_timestamp(field.type):
                    import datetime as _dt

                    vals = [
                        None if v is None else _dt.datetime.fromisoformat(v)
                        for v in vals
                    ]
                arrays.append(pa.array(vals, type=field.type))
            extra = pa.table(arrays, schema=tab.schema)
            pq.write_table(pa.concat_tables([tab, extra]), dst)
        else:
            shutil.copyfile(src, dst)
    if keep:
        with open(marker, "w") as f:
            f.write(CLS)
    return out


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 6))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def hash_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def module_reads_doc_tables(fn) -> bool:
    import inspect

    try:
        src = inspect.getsource(fn)
    except OSError:
        return False
    if CLS == "relational":
        return any(f'"{t}"' in src or f"'{t}'" in src for t in RELATIONAL)
    if CLS == "floatdegen":
        return any(
            f'"{t}"' in src or f"'{t}'" in src for t in FLOATDEGEN_ROWS
        )
    if CLS == "timedegen":
        return '"events"' in src or "'events'" in src
    if CLS == "timedegen_rel":
        return any(
            f'"{t}"' in src or f"'{t}'" in src for t in ("orders", "lineitem")
        )
    if CLS == "skew":
        return any(
            f'"{t}"' in src or f"'{t}'" in src
            for t in ("orders", "lineitem", "events", "documents", "embeddings")
        )
    if CLS == "bigval":
        return any(
            f'"{t}"' in src or f"'{t}'" in src for t in ("documents", "events")
        )
    return (
        '"documents"' in src
        or '"embeddings"' in src
        or "'documents'" in src
        or '"events"' in src
    )


def main() -> None:
    fixture = build_fixture()
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(fixture, f"{t}.parquet")
        # Spark writes the mutated tables as directories of part files
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    qs = E.queries()
    oracles = E.oracle_sql()
    only = set(sys.argv[1:])
    targets = {
        n: fn
        for n, fn in qs.items()
        if (not only or n in only) and module_reads_doc_tables(fn)
    }
    fails, crashes, crashed_both, checked = [], [], [], 0
    slow: "list[dict]" = []
    slow_intrinsic: "list[dict]" = []
    mem_hogs: "list[dict]" = []
    mem_intrinsic: "list[dict]" = []
    # violations whose GC-retry came back in-band — logged so cleared
    # flags stay auditable (ADVICE r11 #2): a timing-sensitive real
    # amplifier that passes one lucky retry still leaves a record.
    mem_retry_cleared: "list[dict]" = []
    payload_b = _bigval_payload_bytes(_bigval_rows()) if CLS == "bigval" else 0
    for i, (name, fn) in enumerate(sorted(targets.items())):
        # rows-only queries (no oracle) are not value-hashed, so their
        # runs materialize via count() rather than collect(): a skewed
        # hot key can legitimately inflate a PAIR query's output 1000×,
        # and serializing millions of answer rows to the driver would
        # trip the wall band on output volume, not plan work
        rows_only = name not in oracles
        base_wall = None
        base_peak = None
        big_peak = None
        if CLS in ("skew", "bigval"):
            # pristine-fixture run FIRST: establishes the per-query
            # baseline (and absorbs whole-stage-codegen JIT, which the
            # identical mutated-run plan then reuses — the band
            # measures DATA sensitivity, not compilation)
            tb = time.time()
            try:
                base = fn(spark, SRC)
                if CLS == "bigval":
                    with _PeakMemSampler(spark._jvm) as ms:
                        base.count() if rows_only else base.collect()
                    base_peak = ms.peak_delta
                else:
                    base.count() if rows_only else base.collect()
                base_wall = time.time() - tb
            except Exception:
                base_wall = None
        t0 = time.time()
        try:
            df = fn(spark, fixture)
            cols = df.columns
            if CLS == "bigval":
                with _PeakMemSampler(spark._jvm) as ms:
                    if rows_only:
                        rows = df.count()
                    else:
                        rows = [tuple(r) for r in df.collect()]
                big_peak = ms.peak_delta
                big_floor = ms.floor
            elif rows_only:
                rows = df.count()
            else:
                rows = [tuple(r) for r in df.collect()]
        except Exception as ex:
            # does the oracle refuse the same input?  A consistent
            # refusal (e.g. both engines reject CAST(NaN AS DECIMAL))
            # is a shared contract, not a divergence — bucket apart.
            both = False
            if name in oracles:
                try:
                    if name in STAGED_ORACLES:
                        _stmts = STAGED_ORACLES[name]()
                        for _s in _stmts[:-1]:
                            con.execute(_s)
                        con.sql(_stmts[-1]).fetchall()
                    else:
                        con.sql(oracles[name]).fetchall()
                except Exception:
                    both = True
            (crashed_both if both else crashes).append(name)
            tag = "CRASH-BOTH" if both else "SPARK CRASH"
            print(
                f"[{i+1}/{len(targets)}] {name}: {tag} {str(ex)[:160]}",
                flush=True,
            )
            continue
        skew_wall = time.time() - t0
        if CLS in ("skew", "bigval") and base_wall is not None:
            if CLS == "skew":
                limit = _SKEW_BAND * _SKEW_VOLUME_RATIO * max(
                    base_wall, _SKEW_FLOOR_S
                )
            else:
                limit = _BIGVAL_BAND * max(base_wall, _BIGVAL_FLOOR_S)
            if skew_wall > limit:
                entry = {
                    "name": name,
                    "base_s": round(base_wall, 2),
                    "mutated_s": round(skew_wall, 2),
                    "limit_s": round(limit, 2),
                }
                intrinsic = (
                    SKEW_INTRINSIC if CLS == "skew" else BIGVAL_INTRINSIC
                )
                if name in intrinsic:
                    entry["reason"] = intrinsic[name]
                    slow_intrinsic.append(entry)
                    tag = f"{CLS.upper()}-SLOW-INTRINSIC"
                else:
                    slow.append(entry)
                    tag = f"{CLS.upper()}-SLOW"
                print(
                    f"[{i+1}/{len(targets)}] {name}: {tag} "
                    f"base={base_wall:.2f}s mutated={skew_wall:.2f}s "
                    f"limit={limit:.2f}s",
                    flush=True,
                )
        if CLS == "bigval" and big_peak is not None:
            mem_limit = _BIGVAL_MEM_BAND * max(
                base_peak or 0, _BIGVAL_MEM_FLOOR_B
            ) + _BIGVAL_MEM_PER_PAYLOAD_BYTE * payload_b
            if big_peak > mem_limit:
                # peak heap-used counts COLLECTABLE garbage: a fast-
                # allocating linear kernel can spike gigabytes of
                # transient arrays mid-sweep when the JVM is near its
                # growth threshold from earlier queries.  Re-measure
                # once after a GC before flagging — real live-memory
                # amplification (e.g. a document-sized materialized
                # hash array) reproduces; allocation-churn noise does
                # not (observed: 2.1 GB "peak" on q_simhash_near_dup
                # mid-sweep vs in-band standalone).
                try:
                    spark._jvm.java.lang.System.gc()
                except Exception:
                    pass
                first_peak = big_peak
                try:
                    # pin the FIRST measurement's floor: reused Python
                    # workers keep freed pages in RSS, so a fresh floor
                    # here is already elevated by the first run's peak
                    # and would mask live-set growth as churn (the
                    # band-teeth masking vector, VERDICT r11 #7)
                    df2 = fn(spark, fixture)
                    with _PeakMemSampler(spark._jvm, floor=big_floor) as ms2:
                        df2.count() if rows_only else df2.collect()
                    big_peak = min(big_peak, ms2.peak_delta or big_peak)
                except Exception:
                    pass
                if big_peak <= mem_limit:
                    mem_retry_cleared.append(
                        {
                            "name": name,
                            "first_peak_mb": round(first_peak / 2**20),
                            "retry_peak_mb": round(big_peak / 2**20),
                            "limit_mb": round(mem_limit / 2**20),
                        }
                    )
                    print(
                        f"[{i+1}/{len(targets)}] {name}: BIGVAL-MEM "
                        f"retry-cleared first={first_peak / 2**20:.0f}MB "
                        f"retry={big_peak / 2**20:.0f}MB "
                        f"limit={mem_limit / 2**20:.0f}MB",
                        flush=True,
                    )
            if big_peak > mem_limit:
                entry = {
                    "name": name,
                    "base_peak_mb": round((base_peak or 0) / 2**20),
                    "big_peak_mb": round(big_peak / 2**20),
                    "limit_mb": round(mem_limit / 2**20),
                }
                if name in BIGVAL_MEM_INTRINSIC:
                    entry["reason"] = BIGVAL_MEM_INTRINSIC[name]
                    mem_intrinsic.append(entry)
                    tag = "BIGVAL-MEM-INTRINSIC"
                else:
                    mem_hogs.append(entry)
                    tag = "BIGVAL-MEM-HOG"
                print(
                    f"[{i+1}/{len(targets)}] {name}: {tag} "
                    f"base={((base_peak or 0) / 2**20):.0f}MB "
                    f"big={big_peak / 2**20:.0f}MB "
                    f"limit={mem_limit / 2**20:.0f}MB",
                    flush=True,
                )
        if name not in oracles:
            print(
                f"[{i+1}/{len(targets)}] {name}: rows-only {rows} "
                f"[{time.time()-t0:.1f}s]",
                flush=True,
            )
            checked += 1
            continue
        try:
            if name in STAGED_ORACLES:
                stmts = STAGED_ORACLES[name]()
                for stmt in stmts[:-1]:
                    con.execute(stmt)
                rel = con.sql(stmts[-1])
            else:
                rel = con.sql(oracles[name])
            d_cols, d_rows = list(rel.columns), rel.fetchall()
        except Exception as ex:
            crashes.append(name)
            print(f"[{i+1}/{len(targets)}] {name}: ORACLE CRASH {ex}", flush=True)
            continue
        ok = (
            sorted(cols) == sorted(d_cols)
            and len(rows) == len(d_rows)
            and hash_rows(cols, rows) == hash_rows(d_cols, d_rows)
        )
        checked += 1
        if not ok:
            fails.append(name)
        print(
            f"[{i+1}/{len(targets)}] {name}: "
            f"{'OK' if ok else f'NULL-DIVERGENCE rows={len(rows)}/{len(d_rows)}'}"
            f" [{time.time()-t0:.1f}s]",
            flush=True,
        )
    summary = {
        "targets": len(targets),
        "checked": checked,
        "divergent": fails,
        "crashed": crashes,
        "crashed_both": crashed_both,
    }
    if CLS == "skew":
        summary["slow"] = slow
        summary["slow_intrinsic"] = slow_intrinsic
        summary["band"] = (
            f"skew <= {_SKEW_BAND} * {_SKEW_VOLUME_RATIO} * max(base, "
            f"{_SKEW_FLOOR_S}s)"
        )
    if CLS == "bigval":
        summary["slow"] = slow
        summary["slow_intrinsic"] = slow_intrinsic
        summary["mem_hog"] = mem_hogs
        summary["mem_intrinsic"] = mem_intrinsic
        summary["mem_retry_cleared"] = mem_retry_cleared
        summary["band"] = (
            f"wall <= {_BIGVAL_BAND} * max(base, {_BIGVAL_FLOOR_S}s); "
            f"peak <= {_BIGVAL_MEM_BAND} * max(base_peak, "
            f"{_BIGVAL_MEM_FLOOR_B >> 20}MB) + "
            f"{_BIGVAL_MEM_PER_PAYLOAD_BYTE} B/payload-B "
            f"(payload {payload_b >> 20}MB)"
        )
    print(json.dumps(summary), flush=True)
    if not os.environ.get("NULLFUZZ_DIR"):
        shutil.rmtree(fixture, ignore_errors=True)
    sys.exit(1 if (fails or crashes or slow or mem_hogs) else 0)


if __name__ == "__main__":
    main()
