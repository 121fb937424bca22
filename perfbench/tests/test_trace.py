import json

import pytest

from perfbench.trace import Span, Tracer, self_times


def _span(i, start, end, parent=None, name="ops.x"):
    return Span(i, name, start, end, parent, "r")


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, 0),
        _span(2, 2.0, 5.0, 0),  # overlaps child 1: covered [1, 5]
        _span(3, 8.0, 12.0, 0),  # spills past the parent: counts [8, 10]
        _span(4, 8.5, 9.0, 3),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 2)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(4.0 - 0.5)
    assert st[4] == pytest.approx(0.5)


def test_children_outside_the_parent_do_not_count():
    st = self_times([_span(0, 0.0, 1.0), _span(1, 2.0, 3.0, 0)])
    assert st[0] == pytest.approx(1.0)


def test_tracer_nests_spans_and_sums_layers(tmp_path):
    tr = Tracer(True, run_id="run1")
    with tr.span("ops.query") as q:
        with tr.span("sinks.write") as w:
            pass
    tr.add("sources.latest_offset", tr.spans[q].start, tr.spans[q].start, q)
    assert tr.spans[w].parent == q and tr.spans[q].parent is None
    assert {s.run_id for s in tr.spans} == {"run1"}
    layers = tr.layer_self_s()
    assert set(layers) == {"ops", "sinks", "sources"}
    total = tr.spans[q].end - tr.spans[q].start
    assert layers["ops"] + layers["sinks"] + layers["sources"] == pytest.approx(total)
    path = tmp_path / "t.json"
    tr.write(str(path))
    assert len(json.loads(path.read_text())["spans"]) == 3


def test_disabled_tracer_records_nothing(tmp_path):
    tr = Tracer(False)
    with tr.span("ops.query") as sid:
        assert sid is None
    assert tr.add("ops.batch", 0.0, 1.0) is None
    assert tr.spans == [] and tr.layer_self_s() == {}
    tr.write(str(tmp_path / "t.json"))
    assert not (tmp_path / "t.json").exists()
