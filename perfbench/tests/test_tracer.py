import pytest

from perfbench.tracer import Span, Tracer, layer_table, self_times, subtree


def _span(i, parent, start, end, name="x"):
    return Span(id=i, name=name, parent=parent, op=1, start=start, end=end)


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 2.0, 4.0),  # overlaps span 2: [1, 4] is covered once
        _span(4, 1, 5.0, 6.0),
        _span(5, 4, 5.2, 5.7),  # grandchild: counts against span 4 only
        _span(6, 1, 9.5, 12.0),  # runs past its parent: clipped at 10
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 3.0 - 1.0 - 0.5)
    assert st[4] == pytest.approx(0.5)
    assert st[5] == pytest.approx(0.5)
    assert st[2] == pytest.approx(2.0)


def test_subtree_collects_descendants():
    spans = [_span(1, None, 0, 4), _span(2, 1, 1, 2), _span(3, 2, 1, 1.5), _span(4, None, 5, 6)]
    assert {s.id for s in subtree(spans, {1})} == {1, 2, 3}


def test_nested_spans_record_parents_and_self_time():
    tr = Tracer()
    with tr.span("outer", new_op=True):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    with tr.span("other", new_op=True):
        pass
    by_name = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    outer = by_name["outer"][0]
    assert all(s.parent == outer.id and s.op == outer.op for s in by_name["inner"])
    assert by_name["other"][0].op != outer.op
    table = layer_table(tr.spans)
    assert table["inner"]["calls"] == 2
    inner_total = sum(s.duration for s in by_name["inner"])
    assert table["outer"]["self_s"] == pytest.approx(outer.duration - inner_total)


class _Target:
    def work(self, x):
        return x * 2


def test_wrap_records_a_span_and_uninstall_restores():
    tr = Tracer()
    orig = _Target.work
    tr.wrap(_Target, "work", lambda a: f"work.{a[1]}")
    assert _Target().work(3) == 6
    assert [s.name for s in tr.spans] == ["work.3"]
    tr.uninstall()
    assert _Target.work is orig
