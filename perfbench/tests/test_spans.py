"""Span bookkeeping: self time, nesting, wrapping and rebinding."""

import sys
import types

import pytest

from spans import Span, Tracer, self_times, union_length


def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", "x", start, end, parent=parent, op=0)


def test_union_length_merges_overlaps_and_gaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 5), (1, 2), (3, 4)]) == 5
    assert union_length([(3, 4), (0, 1), (0.5, 3.5)]) == 4


def test_self_time_of_nested_spans():
    # root [0,10] > a [1,4] > a1 [2,3];  root > b [5,9]
    spans = [_span(0, 0, 10), _span(1, 1, 4, 0), _span(2, 2, 3, 1), _span(3, 5, 9, 0)]
    st = self_times(spans)
    assert st == {0: 3, 1: 2, 2: 1, 3: 4}
    assert sum(st.values()) == pytest.approx(spans[0].duration)


def test_self_time_with_overlapping_and_protruding_children():
    # children from concurrent work overlap each other; one sticks out
    spans = [_span(0, 0, 10), _span(1, 1, 6, 0), _span(2, 4, 8, 0), _span(3, 9, 12, 0)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (7 + 1))   # covered: [1,8] and [9,10]
    assert st[1] == 5 and st[2] == 4 and st[3] == 3


def test_tracer_records_parents_and_ops_only_while_active():
    tr = Tracer()
    f = tr.wrap(lambda x: x + 1, "m.f", "m")
    assert f(1) == 2 and tr.spans == []
    tr.active = True
    tr.op = 7
    with tr.span("op", "op") as root:
        with tr.span("inner", "m"):
            f(1)
    names = {s.name: s for s in tr.spans}
    assert names["inner"].parent == root.sid
    assert names["m.f"].parent == names["inner"].sid
    assert all(s.op == 7 for s in tr.spans)
    assert tr.calls["m.f"] == 1


def test_install_wraps_functions_methods_and_import_time_bindings(monkeypatch):
    mod = types.ModuleType("db_spark._fake_layer")
    exec(
        "def public(x):\n    return helper(x) * 2\n"
        "def helper(x):\n    return x + 1\n"
        "def _private(x):\n    return x\n"
        "class Thing:\n"
        "    def method(self):\n        return public(1)\n"
        "    @staticmethod\n    def make():\n        return Thing()\n"
        "    @property\n    def value(self):\n        return 3\n",
        mod.__dict__)
    user = types.ModuleType("db_spark._fake_user")
    user.public = mod.public  # bound at import time, like `from m import f`
    monkeypatch.setitem(sys.modules, mod.__name__, mod)
    monkeypatch.setitem(sys.modules, user.__name__, user)

    tr = Tracer()
    tr.install({"fake": mod})
    tr.active = True
    assert user.public(1) == 4
    assert mod.Thing.make().method() == 4
    assert mod.Thing().value == 3
    assert mod._private(5) == 5
    called = {s.name for s in tr.spans}
    assert {"fake.public", "fake.helper", "fake.Thing.make", "fake.Thing.method",
            "fake.Thing.value"} <= called
    assert "fake._private" not in tr.wrapped
    hit, total = tr.coverage()["fake"]
    assert hit == total == 5
