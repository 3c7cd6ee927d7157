"""Regenerate ``oracle_hashes.json``: the DuckDB ``oracle_sql`` result
hash of every query in the ``query_mix`` workload over the bundled
fixture.

    python3 perfbench/make_oracle_hashes.py      # from the repository root

Needs ``duckdb``; no Spark.  Rerun after changing the mix, the fixture
or a query's oracle.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

from oracle import hash_rows  # noqa: E402
from query_mix import FIXTURE, MIX  # noqa: E402


def main() -> int:
    import duckdb

    from jibaro_spark.queries import REGISTRY

    con = duckdb.connect()
    for f in sorted(os.listdir(FIXTURE)):
        table = f.removesuffix(".parquet")
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(FIXTURE, f)}'"
        )
    out = {}
    for name in MIX:
        t0 = time.time()
        rel = con.sql(REGISTRY[name].oracle)
        cols, rows = list(rel.columns), rel.fetchall()
        out[name] = {"rows": len(rows), "columns": sorted(cols),
                     "sha256": hash_rows(cols, rows)}
        print(f"{name}: {len(rows)} rows [{time.time() - t0:.1f}s]", file=sys.stderr)
    with open(os.path.join(HERE, "oracle_hashes.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
