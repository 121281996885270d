import os
import sys
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gate  # noqa: E402
import workloads as wl  # noqa: E402


def test_hash_gate_flags_one_perturbed_value():
    duckdb = __import__("duckdb")
    from tools import hashcheck

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES (1, 'a', 2.5), "
        "(2, 'b', 3.25), (3, 'c', 4.0)) v(k, s, x)"
    )
    good = hashcheck.duck_hash(con, "SELECT k, s, x FROM t")
    same = hashcheck.duck_hash(con, "SELECT x, s, k FROM t ORDER BY k DESC")
    bad = hashcheck.duck_hash(
        con, "SELECT k, s, CASE WHEN k = 2 THEN x + 0.01 ELSE x END AS x FROM t"
    )
    short = hashcheck.duck_hash(con, "SELECT k, s, x FROM t WHERE k < 3")
    assert gate.hash_mismatch("q", same, good) is None
    assert "value hash" in gate.hash_mismatch("q", bad, good)
    assert "2 rows" in gate.hash_mismatch("q", short, good)


def test_rows_gate_flags_perturbed_select():
    ops = [o for o in wl.warehouse_pass(11, 0) if o.kind == "select"]
    op = ops[0]
    rows = [tuple(Decimal(v) if isinstance(v, int) else v for v in r)
            for r in reversed(op.expect)]
    assert gate.rows_mismatch(op.sql, rows, op.expect) is None
    perturbed = list(op.expect)
    r0 = perturbed[0]
    perturbed[0] = (*r0[:-1], r0[-1] + 1)
    assert gate.rows_mismatch(op.sql, perturbed, op.expect) is not None
    assert gate.rows_mismatch(op.sql, op.expect[1:], op.expect) is not None


def test_catalog_gate_flags_extra_grant():
    m = wl.CatalogModel()
    state = m.state()
    assert gate.catalog_mismatch(state, m.state()) is None
    state = dict(state, grants=state["grants"] + [("x", "SELECT", "db", "t")])
    assert "grants" in gate.catalog_mismatch(state, m.state())
