#!/usr/bin/env python
"""Count the file-tool processes one benchmark run spawns.

    python scripts/spawn_count.py [--checkout DIR] [--workload cdc_steady] \\
        [--seed 1] [--log spawns.log]

Runs ``perfbench/run.py`` once, for ``SECONDS`` seconds with its
default ``--trace 0``, in ``--checkout`` (default: the checkout this
script lives in) with a temporary directory of wrappers first on
``PATH``.  Each wrapper logs its command and arguments, then runs the
real ``readlink``, ``chmod``, ``stat`` or ``ls``.  Without libhadoop,
Hadoop's local filesystem shells out to these for every permission
read, permission set and link resolution, so the counts show what the
JVM's file operations cost in process spawns.  The launcher scripts
that start the JVM are counted too.

Prints one JSON line: the run's ``correct``/``attempted``/``failed``,
and the spawn counts by command, by lake area, and by both.  An area
is ``_checkpoint`` (a path under the control bucket's streaming
checkpoints), ``tables`` (any other path under the run's lake root) or
``other`` (no lake path: launcher, Spark local dirs, temp files).
``--log`` keeps the raw log, one ``command<TAB>args`` line per spawn.
Nothing under ``perfbench/`` is modified.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import re
import shlex
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COMMANDS = ("readlink", "chmod", "stat", "ls")
#: The run length passed to ``perfbench/run.py``.
SECONDS = 20
#: perfbench's lake: ``.perfbench_work/run-<pid>/lake/<bucket>/...``
LAKE = re.compile(r"/\.perfbench_work/run-\d+/lake/")


def write_wrappers(bin_dir: str, log: str) -> None:
    """One logging wrapper per command in ``bin_dir``; each appends a
    ``command<TAB>args`` line to ``log`` and execs the real binary."""
    for cmd in COMMANDS:
        real = shutil.which(cmd)
        if real is None:
            raise SystemExit(f"spawn_count: {cmd} is not on PATH")
        path = os.path.join(bin_dir, cmd)
        with open(path, "w") as f:
            f.write(
                "#!/bin/bash\n"
                f"printf '%s\\t%s\\n' {cmd} \"$*\" >> {shlex.quote(log)}\n"
                f"exec {shlex.quote(real)} \"$@\"\n"
            )
        os.chmod(path, 0o755)


def area(args: str) -> str:
    """The lake area a logged command touched."""
    if not LAKE.search(args):
        return "other"
    return "_checkpoint" if "/_checkpoint/" in args else "tables"


def count(log: str) -> dict:
    by_cmd, by_area = collections.Counter(), collections.Counter()
    both: dict[str, collections.Counter] = {c: collections.Counter() for c in COMMANDS}
    with open(log) as f:
        for line in f:
            cmd, _, args = line.rstrip("\n").partition("\t")
            where = area(args)
            by_cmd[cmd] += 1
            by_area[where] += 1
            both[cmd][where] += 1
    return {
        "total": sum(by_cmd.values()),
        "by_command": {c: by_cmd[c] for c in COMMANDS},
        "by_area": dict(sorted(by_area.items())),
        "by_command_area": {c: dict(sorted(n.items())) for c, n in both.items() if n},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--checkout", default=REPO)
    ap.add_argument("--workload", default="cdc_steady")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--log", help="keep the raw spawn log here")
    a = ap.parse_args()

    with tempfile.TemporaryDirectory(prefix="spawn_count_") as tmp:
        bin_dir = os.path.join(tmp, "bin")
        os.mkdir(bin_dir)
        log = os.path.join(tmp, "spawns.log")
        open(log, "w").close()
        write_wrappers(bin_dir, log)
        env = dict(os.environ, PATH=os.pathsep.join((bin_dir, os.environ.get("PATH", ""))))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload,
             "--seed", str(a.seed), "--seconds", str(SECONDS)],
            cwd=os.path.abspath(a.checkout), env=env,
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stderr)
            print(f"spawn_count: run failed (exit {p.returncode})", file=sys.stderr)
            return 1
        if a.log:
            shutil.copyfile(log, a.log)
        res = json.loads(lines[-1])
        out = {k: res[k] for k in ("correct", "attempted", "failed")}
        out.update(count(log))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
