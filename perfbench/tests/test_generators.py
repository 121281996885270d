import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import workloads as wl  # noqa: E402


def _sig(ops):
    return [(o.kind, o.sql, o.call, repr(o.spec), o.repeat, o.expect) for o in ops]


def test_warehouse_script_is_deterministic_per_seed():
    assert _sig(wl.warehouse_pass(7, 0)) == _sig(wl.warehouse_pass(7, 0))
    assert _sig(wl.warehouse_pass(7, 0)) != _sig(wl.warehouse_pass(8, 0))
    assert _sig(wl.warehouse_pass(7, 0)) != _sig(wl.warehouse_pass(7, 1))


def test_warehouse_pass_shape_is_seed_independent():
    def shape(ops):
        return [(o.kind, o.call, o.repeat) for o in ops]

    assert shape(wl.warehouse_pass(1, 0)) == shape(wl.warehouse_pass(99, 3))
    ops = wl.warehouse_pass(1, 0)
    kinds = {o.kind for o in ops}
    assert kinds == {"ddl", "insert", "mutation", "select", "reconcile"}
    sqls = " ".join(o.sql for o in ops)
    for token in ("countIf(", "uniqExact(", "toString(", " BY user", "UPDATE",
                  "DELETE"):
        assert token in sqls


def test_query_order_is_a_seeded_permutation():
    for name, ops in wl.QUERY_WORKLOADS.items():
        a = wl.query_order(5, name, 0)
        assert sorted(a) == sorted(ops)
        assert a == wl.query_order(5, name, 0)
    orders = {tuple(wl.query_order(s, "olap_llm", 0)) for s in range(10)}
    assert len(orders) > 1


def test_catalog_model_repeat_rules():
    m = wl.CatalogModel()
    for call, spec in wl.reconcile_specs(wl.pass_rng(3, "x", 0), 0):
        m.apply(call, spec)
    before = m.state()
    for call, spec in wl.reconcile_specs(wl.pass_rng(3, "x", 0), 0):
        m.apply(call, spec)
    assert m.state() == before  # converged: a repeat changes nothing
    assert m.expected_empty_repeat("reconcile_user")
    assert not m.expected_empty_repeat("reconcile_grants")


def test_timed_pass_count_depends_on_seconds_only():
    for w in wl.WORKLOADS:
        assert wl.timed_passes(w, 0.1) == wl.MIN_PASSES
        assert wl.timed_passes(w, 100) == round(100 / wl.PASS_S[w])
