"""Round-11 guards for the fuzz harness's STAGED oracle twins
(VERDICT r10 #5).

``q_kcore_peel``'s registered single-statement oracle chains each peel
round's edge set through ``NOT IN`` subqueries; DuckDB re-inlines the
multiply-referenced CTEs, so the r10 sf0.1 skew probe re-ran every
earlier round's lineitem self-join exponentially and exhausted local
disk on the densified graph.  The harness now carries a staged twin
(one temp table per stage, each computed exactly once).  These tests
pin the staged twin to the registered oracle bit-for-bit — on the
pristine fixture AND on a skewed-lineitem fixture shaped like the
probe's hot-part mutation — so a future edit to either form cannot
drift silently.

Pure DuckDB (no SparkSession): the contract under test is SQL-vs-SQL.
"""

from __future__ import annotations

import os

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = os.path.abspath(os.path.join(REPO, os.pardir, "testdata", "sf0.001"))


def _staged_stmts():
    """The staged twin lives in an importable side-effect-free module
    (no SparkSession on import) — ADVICE r11 #3 replaced the old
    exec-of-a-source-slice loader."""
    from jibaro_spark.queries.graph import STAGED_ORACLES

    return STAGED_ORACLES["q_kcore_peel"]()


def _registered_oracle():
    from jibaro_spark.queries.graph import QKC_ORACLE

    return QKC_ORACLE


def _run_both(con):
    ref = con.sql(_registered_oracle())
    rc, rr = list(ref.columns), ref.fetchall()
    stmts = _staged_stmts()
    for s in stmts[:-1]:
        con.execute(s)
    st = con.sql(stmts[-1])
    sc, sr = list(st.columns), st.fetchall()
    return (rc, rr), (sc, sr)


def test_staged_kcore_equals_registered_pristine():
    if not os.path.isdir(SF):
        pytest.skip(f"fixture dir absent: {SF}")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{SF}/lineitem.parquet'"
    )
    (rc, rr), (sc, sr) = _run_both(con)
    assert rc == sc
    assert rr == sr
    assert len(rr) > 0


def test_staged_kcore_equals_registered_skewed():
    """Probe-shaped mutation: the duplicate half moves every lineitem to
    a shifted orderkey with one hot part (the skew class's lineitem
    rule) — the densified graph the r10 probe could not oracle-check."""
    if not os.path.isdir(SF):
        pytest.skip(f"fixture dir absent: {SF}")
    pa = pytest.importorskip("pyarrow")
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tab = pq.read_table(f"{SF}/lineitem.parquet")
    n = tab.num_rows
    dup = tab.set_column(
        tab.schema.get_field_index("l_orderkey"),
        tab.schema.field("l_orderkey"),
        pc.add(tab["l_orderkey"], 95_000_000),
    )
    dup = dup.set_column(
        dup.schema.get_field_index("l_partkey"),
        dup.schema.field("l_partkey"),
        pa.array([7] * n, type=tab.schema.field("l_partkey").type),
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "lineitem.parquet")
        pq.write_table(pa.concat_tables([tab, dup]), path)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{path}'")
        (rc, rr), (sc, sr) = _run_both(con)
        assert rc == sc
        assert rr == sr
        assert len(rr) > 0
