"""Event-log roll-up and span wrapping.

``data/eventlog_small.jsonl`` was recorded from a local[2] session with the
event log on, then cut down to the event types the roll-up reads (stack
traces and unrelated properties dropped). Under a Tracer it ran:

- an ungrouped ``count()``;
- ``layer.udf_then_shuffle`` (group perfbench-0): a pandas UDF and a sum,
  then the nested ``layer.shuffle`` (group perfbench-1): a groupBy count;
- ``layer.fail`` (group perfbench-2): a UDF that raises, failing its job.
"""

import os
import types

import pytest

from perfbench import eventlog
from perfbench.spans import Span, Tracer

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def _rollup():
    with open(LOG) as f:
        return eventlog.rollup(f)


def test_rollup_attributes_work_to_the_innermost_group():
    by_group = _rollup()
    assert set(by_group) == {"perfbench-0", "perfbench-1", "perfbench-2"}
    outer, inner, failing = (by_group[f"perfbench-{i}"] for i in range(3))
    assert (outer["jobs"], outer["stages"], outer["tasks"]) == (2, 2, 3)
    assert (inner["jobs"], inner["stages"], inner["tasks"]) == (2, 2, 3)
    assert inner["shuffle_write_bytes"] == 266
    assert outer["python_s"] > 0 and inner["python_s"] == 0
    assert failing["tasks_failed"] == 2 and outer["tasks_failed"] == 0
    assert all(m["spill_bytes"] == 0 for m in by_group.values())
    assert all(m["executor_run_s"] > 0 for m in by_group.values())


def test_inclusive_adds_nested_spans_to_their_parents():
    by_group = _rollup()
    spans = [
        Span("layer.shuffle", "perfbench-1", "perfbench-0", 1.0, 2.0),
        Span("layer.udf_then_shuffle", "perfbench-0", None, 0.0, 3.0),
        Span("layer.fail", "perfbench-2", None, 3.0, 4.0),
    ]
    total = eventlog.inclusive(spans, by_group)
    assert total["perfbench-0"]["jobs"] == 4
    assert total["perfbench-0"]["shuffle_write_bytes"] == 118 + 266
    assert total["perfbench-1"] == by_group["perfbench-1"]
    assert total["perfbench-2"]["tasks_failed"] == 2


def test_read_lines_orders_rolling_files_by_index(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_10_local-1").write_text("c\n")
    (app / "events_2_local-1").write_text("b\n")
    (app / "events_1_local-1").write_text("a\n")
    (app / "appstatus_local-1").write_text("")
    assert [line.strip() for line in eventlog.read_lines(str(tmp_path))] == ["a", "b", "c"]


class _FakeContext:
    """Records job-group changes the way SparkContext applies them."""

    def __init__(self):
        self.group = None
        self.history = []
        self._jsc = types.SimpleNamespace(clearJobGroup=self._clear)

    def getLocalProperty(self, key):
        assert key == "spark.jobGroup.id"
        return self.group

    def setJobGroup(self, group, description):
        self.group = group
        self.history.append(group)

    def _clear(self):
        self.group = None
        self.history.append(None)


class _Model:
    @classmethod
    def fit(cls, x):
        return (cls.__name__, x)


def test_tracer_nests_groups_restores_them_and_unwraps():
    sc = _FakeContext()
    layer = types.SimpleNamespace()
    layer.inner = lambda x: (sc.group, x)
    layer.outer = lambda x: (sc.group, layer.inner(x))
    original_fit = vars(_Model)["fit"]
    tracer = Tracer(sc)
    tracer.wrap(layer, "inner", "layer.inner", capture=True)
    tracer.wrap(layer, "outer", "layer.outer")
    tracer.wrap(_Model, "fit", "model.fit")

    assert layer.outer(1) == (None, (None, 1))  # tracing off: no groups
    assert tracer.spans == [] and tracer.captured["layer.inner"] == [(None, 1)]

    tracer.enabled = True
    assert layer.outer(2) == ("perfbench-0", ("perfbench-1", 2))
    assert _Model.fit(3) == ("_Model", 3)
    assert sc.history == ["perfbench-0", "perfbench-1", "perfbench-0", None, "perfbench-2", None]
    assert [(s.name, s.group, s.parent) for s in tracer.spans] == [
        ("layer.inner", "perfbench-1", "perfbench-0"),
        ("layer.outer", "perfbench-0", None),
        ("model.fit", "perfbench-2", None),
    ]

    tracer.unwrap_all()
    assert vars(_Model)["fit"] is original_fit
    assert layer.inner(4) == (None, 4) and len(tracer.spans) == 3


def test_tracer_restores_the_callers_group_when_the_call_raises():
    sc = _FakeContext()
    sc.setJobGroup("perfbench-op-7", "op")
    layer = types.SimpleNamespace(boom=lambda: 1 / 0)
    tracer = Tracer(sc)
    tracer.wrap(layer, "boom", "layer.boom")
    tracer.enabled = True
    with pytest.raises(ZeroDivisionError):
        layer.boom()
    assert sc.group == "perfbench-op-7"
    assert [(s.name, s.parent) for s in tracer.spans] == [("layer.boom", None)]
