"""Minimal versioned transaction log for parquet tables ([ext] —
clean-room, log-structured table semantics in the spirit of the Delta
protocol the reference's data plane relies on: `/root/reference/jibaro/
datalake/cdc.py:203-269` assumes Delta MERGE/history/vacuum, whose jars
are not available in this environment).  This gives the parquet
fallback REAL transactional behavior instead of rm-rf overwrites:

* **Versioned commits** — every write is a new numbered log entry of
  add/remove actions; data files are immutable and uniquely named.
* **Snapshot isolation** — readers resolve a version's file list from
  the log; a concurrent overwrite never disturbs a pinned reader.
* **Time travel** — read any retained version.
* **History** — the commit list IS the audit table (reference K8).
* **Vacuum** — delete data files no retained version references
  (reference K10), never files a retained snapshot still needs.
* **Optimistic concurrency** — commits are atomic renames of the next
  version's log file; on collision the writer re-reads and retries
  (the Delta/Iceberg commit protocol shape).

Scale notes: the log is metadata-bounded (one small JSON file per
commit), and replay is CHECKPOINTED the way the production formats do
it: every ``CHECKPOINT_INTERVAL`` commits the committer writes a
consolidated ``<version>.checkpoint.json`` holding the full live-file
set, and ``snapshot_files`` replays only the commits SINCE the newest
checkpoint at-or-below the requested version — O(interval) file
PARSES per read instead of O(all commits), which is the difference
between a usable and an unusable table after 10⁶ streaming
micro-batch commits.  Directory-listing cost is managed the same two
ways Delta manages it (ADVICE r8): a ``_last_checkpoint`` pointer
file lets checkpoint resolution skip the log listing entirely on the
common read-at-head path, and ``vacuum_versioned`` prunes superseded
checkpoints (every checkpoint below the newest one that still serves
the retained window) so the log dir holds O(retained) checkpoint
files, not O(history).  Data-plane reads stay fully distributed: the
resolved file list feeds ``spark.read.parquet(*files)``.

**Snapshot schema in the log** (Delta's ``metaData`` action): every
commit carries ``{"metaData": {"schema": <StructType JSON>}}`` and
every checkpoint carries the schema of its version forward, so
:func:`read_versioned` hands the schema to the reader and building the
snapshot DataFrame runs no Spark job (no footer inference).  The
recorded schema is the writer's ``df.schema`` with every field
nullable, which is what Spark reports for any parquet read.  An
``overwrite`` or a table's first commit records it; an ``append`` or
``replace`` records it only when it equals the snapshot's recorded
schema, and otherwise records ``{"schema": null}``.  A snapshot whose
schema is null, or whose newest commit has no ``metaData`` (logs
written before the action existed), is read with footer inference as
before.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

LOG_DIR = "_jibaro_log"
_VERSION_WIDTH = 20
#: A consolidated checkpoint is written every this-many commits
#: (Delta's default cadence); reads replay at most this many commit
#: files past the newest covering checkpoint.
CHECKPOINT_INTERVAL = 10


class CommitConflict(RuntimeError):
    """Another writer committed this version first (after retries)."""


def _log_path(table: str) -> str:
    return os.path.join(table, LOG_DIR)


def _version_file(table: str, version: int) -> str:
    return os.path.join(_log_path(table), f"{version:0{_VERSION_WIDTH}d}.json")


def _checkpoint_file(table: str, version: int) -> str:
    return os.path.join(
        _log_path(table), f"{version:0{_VERSION_WIDTH}d}.checkpoint.json"
    )


def _last_checkpoint_pointer(table: str) -> str:
    return os.path.join(_log_path(table), "_last_checkpoint")


def _read_pointer(table: str) -> int | None:
    """Version named by the ``_last_checkpoint`` pointer, or None when
    the pointer is missing, torn or corrupt."""
    try:
        with open(_last_checkpoint_pointer(table)) as f:
            return int(json.load(f)["version"])
    except (OSError, ValueError, KeyError, json.JSONDecodeError):
        return None


def _checkpoint_versions(table: str) -> list[int]:
    """Versions of the ``<version>.checkpoint.json`` files, ascending."""
    suffix = ".checkpoint.json"
    return sorted(
        int(f[: -len(suffix)])
        for f in os.listdir(_log_path(table))
        if f.endswith(suffix) and f[: -len(suffix)].isdigit()
    )


def latest_version(table: str) -> int | None:
    """Highest committed version, or None for a non-log table.
    Checkpoint files are consolidated snapshots, not commits — only
    bare ``<digits>.json`` entries count.

    Fast path (the second half of the ADVICE r8 listing finding, after
    the ``_last_checkpoint`` pointer fixed checkpoint resolution):
    commit versions are CONTIGUOUS by construction (every commit is an
    atomic create of ``head+1``; vacuum never deletes commit files),
    so from any known-committed floor the head is found by walking
    forward with ``os.path.exists`` until the first gap — O(commits
    since the pointer's checkpoint), not O(total log files).  A
    missing/corrupt pointer falls back to the full listing."""
    d = _log_path(table)
    if not os.path.isdir(d):
        return None
    v = _read_pointer(table)
    if v is not None and v >= 0 and os.path.exists(_version_file(table, v)):
        while os.path.exists(_version_file(table, v + 1)):
            v += 1
        return v
    versions = [
        int(f[: -len(".json")])
        for f in os.listdir(d)
        if f.endswith(".json") and f[: -len(".json")].isdigit()
    ]
    return max(versions) if versions else None


def _latest_checkpoint_at_or_below(table: str, version: int) -> int | None:
    """Newest checkpoint whose version is ≤ ``version``, or None.

    Fast path: the ``_last_checkpoint`` pointer file (the Delta
    ``_last_checkpoint`` pattern, ADVICE r8) names the newest
    checkpoint — when it exists, is intact, and is ≤ ``version``, no
    directory listing happens at all, which is what keeps the common
    read-at-head path O(1) in table history.  A missing/corrupt/
    too-new pointer falls back to the full listing (correct, just
    slower); a stale-LOW pointer is impossible to return wrongly from
    the fast path because the fast path only ever returns the pointer
    itself after verifying its checkpoint file exists."""
    d = _log_path(table)
    if not os.path.isdir(d):
        return None
    v = _read_pointer(table)
    if v is not None and v <= version and os.path.exists(_checkpoint_file(table, v)):
        return v
    return max((c for c in _checkpoint_versions(table) if c <= version), default=None)


def write_checkpoint(table: str, version: int | None = None) -> int:
    """Write the consolidated live-file snapshot at ``version``
    (default head) as ``<version>.checkpoint.json`` — one add action
    per live file (preserving the add metadata), one ``txns`` action
    carrying every app's streaming-transaction watermark, and the
    ``metaData`` action of the snapshot's schema, so readers AND
    :func:`latest_txn_version` resolve from the checkpoint.  Atomic
    create-if-absent (two racing committers produce identical content,
    so the loser just skips).  Returns the checkpointed version."""
    head = latest_version(table)
    if head is None:
        raise FileNotFoundError(f"no {LOG_DIR} at {table}")
    v = head if version is None else version
    if v > head or v < 0:
        raise ValueError(f"version {v} out of range [0, {head}]")
    live, txns, schema = _replay_state(table, v)
    tmp = os.path.join(_log_path(table), f"_tmp_{uuid.uuid4().hex[:12]}.json")
    with open(tmp, "w") as f:
        for path in sorted(live):
            f.write(json.dumps({"add": live[path]}) + "\n")
        if txns:
            f.write(json.dumps({"txns": txns}) + "\n")
        f.write(json.dumps({"metaData": {"schema": schema}}) + "\n")
    target = _checkpoint_file(table, v)
    try:
        os.link(tmp, target)
    except FileExistsError:
        pass
    os.unlink(tmp)
    # advance the _last_checkpoint pointer (Delta's pattern) so readers
    # resolve the newest checkpoint without listing the log dir;
    # atomic (tmp + rename) so readers never see a torn pointer, and
    # best-effort monotone: the read-compare-write can race, so a
    # concurrent older checkpointer may briefly regress it — readers
    # verify the pointed file exists and only ever lose replay
    # distance (more commits parsed), never correctness, and the next
    # checkpoint repairs it.  A failed pointer write only means
    # readers fall back to the directory listing.
    try:
        cur = _read_pointer(table)
        if cur is None or v > cur:
            ptmp = os.path.join(
                _log_path(table), f"_tmp_ptr_{uuid.uuid4().hex[:12]}"
            )
            with open(ptmp, "w") as f:
                json.dump({"version": v}, f)
            os.replace(ptmp, _last_checkpoint_pointer(table))
    except OSError:
        pass
    return v


def _replay_state(
    table: str, version: int
) -> "tuple[dict[str, dict], dict[str, int], dict | None]":
    """(live ``path -> add-metadata``, ``app -> txn watermark``,
    recorded schema JSON or None) at ``version``: start from the newest
    covering checkpoint (if any), replay only the commits after it.
    Each commit sets the schema from its ``metaData`` action; a commit
    without one leaves it unknown (None)."""
    live: dict[str, dict] = {}
    txns: dict[str, int] = {}
    schema = None
    start = 0
    ckpt = _latest_checkpoint_at_or_below(table, version)
    if ckpt is not None:
        with open(_checkpoint_file(table, ckpt)) as f:
            for line in f:
                if line.strip():
                    a = json.loads(line)
                    if "add" in a:
                        live[a["add"]["path"]] = a["add"]
                    elif "txns" in a:
                        txns.update(
                            {k: int(w) for k, w in a["txns"].items()}
                        )
                    elif "metaData" in a:
                        schema = a["metaData"]["schema"]
        start = ckpt + 1
    for i in range(start, version + 1):
        schema = None
        for a in _read_actions(table, i):
            if "metaData" in a:
                schema = a["metaData"]["schema"]
            elif "add" in a:
                live[a["add"]["path"]] = a["add"]
            elif "remove" in a:
                live.pop(a["remove"]["path"], None)
            elif "commit" in a:
                txn = a["commit"].get("txn")
                if txn:
                    prev = txns.get(txn["app"])
                    w = int(txn["version"])
                    txns[txn["app"]] = w if prev is None or w > prev else prev
    return live, txns, schema


def _read_actions(table: str, version: int) -> list[dict]:
    with open(_version_file(table, version)) as f:
        return [json.loads(line) for line in f if line.strip()]


def _snapshot_state(
    table: str, version: int | None
) -> "tuple[dict[str, dict], dict | None]":
    """(live ``path -> add-metadata``, recorded schema JSON or None)
    of the snapshot at ``version`` (default: latest)."""
    head = latest_version(table)
    if head is None:
        raise FileNotFoundError(f"no {LOG_DIR} at {table}")
    v = head if version is None else version
    if v > head or v < 0:
        raise ValueError(f"version {v} out of range [0, {head}]")
    live, _, schema = _replay_state(table, v)
    return live, schema


def snapshot_files(table: str, version: int | None = None) -> list[str]:
    """Absolute data-file paths of the snapshot at ``version``
    (default: latest) — checkpoint-accelerated log replay: at most
    ``CHECKPOINT_INTERVAL``-ish commit files are read past the newest
    covering checkpoint, independent of total table history."""
    return [os.path.join(table, p) for p in sorted(_snapshot_state(table, version)[0])]


def snapshot_bytes(table: str, version: int | None = None) -> int:
    """Data bytes of the snapshot at ``version`` (default: latest):
    the sum of the ``size`` each add action records, from the same log
    replay as :func:`snapshot_files` — no stat per data file."""
    return sum(int(a["size"]) for a in _snapshot_state(table, version)[0].values())


def read_versioned(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Snapshot-isolated read (time travel with ``version``).  With a
    recorded schema (module docstring) the reader gets it up front and
    no Spark job runs; without one Spark infers it from the footers."""
    live, schema = _snapshot_state(table, version)
    if not live:
        raise ValueError(f"version has no data files: {table}@{version}")
    reader = spark.read if schema is None else spark.read.schema(
        StructType.fromJson(schema)
    )
    return reader.parquet(*[os.path.join(table, p) for p in sorted(live)])


def latest_txn_version(table: str, app: str) -> int | None:
    """Highest streaming-transaction version committed for ``app``
    (the idempotence watermark of :func:`write_versioned`'s
    ``txn_app``/``txn_version`` contract), or None if the app has never
    committed.

    Scans the log NEWEST-FIRST and stops at the first commit carrying
    the app's txn: per-app txn versions are monotone (the
    :func:`write_versioned` skip-below-watermark contract), so the
    most recent occurrence IS the watermark.  For a long-lived stream
    checking before each micro-batch, the previous batch's commit sits
    at (or near) the head — O(1)-ish per batch instead of the full
    replay's O(total commits), which compounds to O(n²) over a
    stream's lifetime (ADVICE r5).  The backward scan stops at the
    newest checkpoint, whose ``txns`` action carries every app's
    consolidated watermark — so even a NEVER-seen app (a fresh
    stream's first batch against an old table) resolves in
    O(CHECKPOINT_INTERVAL), not O(table history)."""
    head = latest_version(table)
    if head is None:
        return None
    ckpt = _latest_checkpoint_at_or_below(table, head)
    floor = -1 if ckpt is None else ckpt
    for v in range(head, floor, -1):
        for a in _read_actions(table, v):
            txn = a.get("commit", {}).get("txn")
            if txn and txn.get("app") == app:
                return int(txn["version"])
    if ckpt is not None:
        _, txns, _ = _replay_state(table, ckpt)
        if app in txns:
            return txns[app]
    return None


def _nullable(t):
    """A schema JSON value with every field, array element and map
    value nullable — the form Spark reports for a parquet read."""
    if not isinstance(t, dict):
        return t
    if t["type"] == "struct":
        return {**t, "fields": [
            {**f, "nullable": True, "type": _nullable(f["type"])} for f in t["fields"]
        ]}
    if t["type"] == "array":
        return {**t, "containsNull": True, "elementType": _nullable(t["elementType"])}
    if t["type"] == "map":
        return {
            **t, "valueContainsNull": True,
            "keyType": _nullable(t["keyType"]), "valueType": _nullable(t["valueType"]),
        }
    return t


def write_versioned(
    df: DataFrame,
    table: str,
    mode: str = "append",
    operation: str | None = None,
    max_retries: int = 10,
    txn_app: str | None = None,
    txn_version: int | None = None,
    replace_paths: "list[str] | None" = None,
) -> int:
    """Commit ``df`` as a new table version; returns the version
    (or, for an idempotently-skipped transactional write, the current
    head version — see below).

    Data files are written under a staging dir, moved into the table
    root under unique names (immutable — never overwritten), and only
    then registered by an atomically-renamed log entry: a crash before
    the rename leaves orphan data files but an UNCHANGED table (vacuum
    reclaims orphans).  ``mode='overwrite'`` logs removes for the prior
    snapshot's files alongside the adds — the files themselves stay on
    disk for time travel until vacuumed.

    **Exactly-once streaming sink**: pass ``txn_app`` (a stable writer
    identity, e.g. the query's checkpoint name) and ``txn_version``
    (the micro-batch id).  A (app, version) pair at or below the app's
    committed watermark is SKIPPED — the replayed micro-batch a
    ``foreachBatch`` restart re-delivers commits nothing, which is the
    Delta ``txnAppId``/``txnVersion`` idempotence contract rebuilt on
    the log (reference sink: ``cdc.py:250-256``).  The watermark
    re-check happens inside the commit retry loop, so two racing
    writers of the same batch commit it once; the loser's already-moved
    data files are left as orphans for vacuum (the crash path's
    guarantee, and the same files Delta leaves unreferenced).

    **``mode='replace'``** (targeted rewrite — the DELETE/UPDATE commit
    shape): logs removes for exactly ``replace_paths`` (snapshot file
    paths, absolute or table-relative) alongside the adds, leaving
    every other live file referenced and untouched — what a Delta
    DELETE commit does after rewriting only the files that held
    matching rows.  The removed files stay on disk for time travel
    until vacuumed.
    """
    if mode not in ("append", "overwrite", "replace"):
        raise ValueError(f"write_versioned: unsupported mode {mode!r}")
    if (mode == "replace") != (replace_paths is not None):
        raise ValueError("replace_paths is required by (and only by) mode='replace'")
    if (txn_app is None) != (txn_version is None):
        raise ValueError("txn_app and txn_version must be passed together")
    if txn_app is not None:
        seen = latest_txn_version(table, txn_app)
        if seen is not None and seen >= txn_version:
            return latest_version(table)
    schema = _nullable(df.schema.jsonValue())
    os.makedirs(_log_path(table), exist_ok=True)
    staging = os.path.join(table, f"_staging_{uuid.uuid4().hex[:12]}")
    # only the part files are read back; no _SUCCESS marker
    df.write.option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false").parquet(
        staging
    )
    adds = []
    for fname in sorted(os.listdir(staging)):
        if not fname.endswith(".parquet"):
            continue
        unique = f"part-{uuid.uuid4().hex}.parquet"
        src = os.path.join(staging, fname)
        adds.append(
            {"add": {"path": unique, "size": os.path.getsize(src)}}
        )
        shutil.move(src, os.path.join(table, unique))
    shutil.rmtree(staging)

    for _ in range(max_retries):
        head = latest_version(table)
        if txn_app is not None:
            seen = latest_txn_version(table, txn_app)
            if seen is not None and seen >= txn_version:
                # a racer committed this batch between our pre-check
                # and now — drop out; our moved files become orphans
                # (vacuum's problem), the TABLE stays exactly-once
                return head
        version = 0 if head is None else head + 1
        actions = list(adds)
        recorded = schema
        if head is None:
            if mode == "replace":
                raise ValueError(f"mode='replace' on an empty log: {table}")
        elif mode == "overwrite":
            for p in snapshot_files(table, head):
                actions.append(
                    {"remove": {"path": os.path.relpath(p, table)}}
                )
        else:
            live, _, head_schema = _replay_state(table, head)
            if head_schema != schema:
                recorded = None  # mixed schemas: readers infer from footers
            for p in replace_paths or ():
                rel = os.path.relpath(p, table) if os.path.isabs(p) else p
                if rel not in live:
                    raise ValueError(
                        f"replace_paths entry not in current snapshot: {p}"
                    )
                actions.append({"remove": {"path": rel}})
        commit = {
            "version": version,
            "ts": time.time(),
            "operation": operation
            or ("OVERWRITE" if mode == "overwrite" else "WRITE"),
            "num_added": len(adds),
        }
        if txn_app is not None:
            commit["txn"] = {"app": txn_app, "version": int(txn_version)}
        actions.append({"metaData": {"schema": recorded}})
        actions.append({"commit": commit})
        tmp = os.path.join(
            _log_path(table), f"_tmp_{uuid.uuid4().hex[:12]}.json"
        )
        with open(tmp, "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")
        target = _version_file(table, version)
        try:
            # os.rename onto an existing path would clobber on POSIX —
            # os.link + unlink is the atomic create-if-absent commit
            os.link(tmp, target)
            os.unlink(tmp)
            if version > 0 and version % CHECKPOINT_INTERVAL == 0:
                # consolidate the snapshot so reads replay O(interval)
                # commits, not O(version); best-effort — a failed or
                # raced checkpoint only means replay starts earlier
                try:
                    write_checkpoint(table, version)
                except OSError:
                    pass
            return version
        except FileExistsError:
            os.unlink(tmp)  # lost the race — re-read head and retry
    raise CommitConflict(f"could not commit to {table} after {max_retries} tries")


def history(table: str, limit: int | None = None) -> list[dict]:
    """Commit metadata, newest first — the reference's history table
    (``cdc.py:224-247``) derived from the log itself.

    ``limit`` short-circuits the newest-first scan after that many
    commits — ``history(t, limit=1)`` reads ONE log file regardless of
    table age, which is what the per-merge metrics hook needs (Delta's
    ``history(1)`` makes the same promise); unbounded ``history()`` on
    a 10⁶-commit stream table would otherwise parse the whole log on
    every merge."""
    head = latest_version(table)
    if head is None:
        return []
    out: list[dict] = []
    for v in range(head, -1, -1):
        for a in _read_actions(table, v):
            if "commit" in a:
                out.append(a["commit"])
        if limit is not None and len(out) >= limit:
            return out[:limit]
    return out


def vacuum_versioned(
    table: str, keep_versions: int = 5, min_file_age_s: float = 3600.0
) -> int:
    """Delete data files referenced ONLY by versions older than the
    ``keep_versions`` most recent (and staging orphans); returns the
    number of files deleted.  Time travel keeps working within the
    retained window — a retained snapshot's files are never touched.

    ``min_file_age_s`` is the concurrent-writer guard (the role Delta's
    retention hours play): an in-flight ``write_versioned`` moves its
    uniquely-named data files into the table root BEFORE committing the
    log entry, so an unreferenced-but-YOUNG file may belong to a commit
    about to happen — only files older than the age floor are
    reclaimed.  Set 0 only when no writer can be active."""
    head = latest_version(table)
    if head is None:
        return 0
    now = time.time()

    def old_enough(path: str) -> bool:
        try:
            return now - os.path.getmtime(path) >= min_file_age_s
        except OSError:
            return False

    cutoff = max(0, head - keep_versions + 1)
    keep: set[str] = set()
    for v in range(cutoff, head + 1):
        keep.update(os.path.relpath(p, table) for p in snapshot_files(table, v))
    deleted = 0
    # Prune superseded checkpoints (ADVICE r8): a checkpoint at v
    # serves reads of versions >= v, so within the retained window
    # [cutoff, head] only checkpoints >= cutoff plus the single newest
    # one BELOW cutoff (it covers reads in [cutoff, next-checkpoint))
    # are ever consulted — everything older is dead weight that makes
    # the log listing O(total history).  Commit files are kept (tiny,
    # and they are the history/audit record); only the consolidated
    # snapshots are pruned.
    below = [v for v in _checkpoint_versions(table) if v <= cutoff]
    if len(below) > 1:
        for v in below[:-1]:
            full = _checkpoint_file(table, v)
            if old_enough(full):
                os.unlink(full)
    # reclaim tmp files a crashed commit/checkpoint/pointer write left
    # in the log dir (never counted as versions, but no reason to keep)
    for fname in os.listdir(_log_path(table)):
        if fname.startswith("_tmp_") and (
            fname.endswith(".json") or fname.startswith("_tmp_ptr_")
        ):
            full = os.path.join(_log_path(table), fname)
            if old_enough(full):
                os.unlink(full)
    for fname in os.listdir(table):
        full = os.path.join(table, fname)
        if fname == LOG_DIR:
            continue
        if fname.startswith("_staging_") and os.path.isdir(full):
            if old_enough(full):
                shutil.rmtree(full)
                deleted += 1
            continue
        if fname.endswith(".parquet") and fname not in keep and old_enough(full):
            os.unlink(full)
            deleted += 1
    # Log entries are retained (metadata is tiny): out-of-retention
    # time travel resolves file paths but fails at scan time on the
    # deleted files — the same contract as Delta's vacuum horizon.
    return deleted


def compact_versioned(
    spark: SparkSession,
    table: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    zorder_cols: list[str] | None = None,
    zorder_bits: int = 16,
) -> int:
    """OPTIMIZE (optionally ZORDER) as a versioned commit: rewrite the
    current snapshot into ``ceil(size/target)`` files — Z-ordered by
    ``zorder_cols`` when given — and commit it as an overwrite version
    (reference K11 compaction, ``delta_handler.py:9-35``, with Delta's
    rewrite-as-commit semantics: same rows, fewer/better files, prior
    versions still time-travelable until vacuum), checkpointed at once
    and with any ``_bloom`` sidecar updated.  The body is the one
    :func:`jibaro_spark.maintenance.compact` and ``optimize_zorder``
    run (``maintenance._optimize``).  Returns the new version."""
    from jibaro_spark.maintenance import _optimize, _snapshot

    snap = _snapshot(spark, table)
    if snap.format != "txlog":
        raise FileNotFoundError(f"no {LOG_DIR} at {table}")
    return _optimize(snap, target_file_bytes, zorder_cols, zorder_bits)[1]
