"""Span arithmetic of the traced run, and the frames it reads Catalyst
phases from."""

from types import SimpleNamespace

import run
from tracing import Tracer


def _tracer_with(spans):
    t = Tracer(SimpleNamespace(sparkContext=None))
    for i, (layer, start, end, parent) in enumerate(spans):
        t.spans.append({"id": i, "op": "op0", "layer": layer, "start": start,
                        "end": end, "parent": parent, "group": None})
    return t


def test_self_time_is_span_minus_children():
    t = _tracer_with([
        ("query", 0.0, 10.0, None),
        ("compiler", 1.0, 4.0, 0),
        ("compiler", 2.0, 3.0, 1),  # nested in the same layer
        ("parser", 5.0, 6.0, 0),
    ])
    self_s = t.self_times()
    assert self_s["query"] == 6.0
    assert self_s["compiler"] == 3.0  # 2 (outer minus inner) + 1 (inner)
    assert self_s["parser"] == 1.0
    assert t.busy("compiler") == 3.0  # the outermost compiler span only


def test_union_of_job_intervals():
    assert run._union_s([]) == 0.0
    assert run._union_s([(0, 1000), (500, 1500), (3000, 4000)]) == 2.5
    assert run._union_s([(0, 4000), (1000, 2000)]) == 4.0


def test_checkpointed_frames_are_recorded_with_their_phase(spark):
    """The Catalyst metrics read the frame whose plan a checkpoint ran,
    tagged by whether execute_update or the benchmark's action ran it."""
    t = Tracer(spark)
    t.install()
    try:
        t.begin_op("op0")
        inner, outer = spark.range(10), spark.range(20)
        with t.span("update"):
            inner.localCheckpoint()
        outer.localCheckpoint(eager=True)
        t.end_op()
        spark.range(30).localCheckpoint()  # outside an op: not recorded
    finally:
        t.uninstall()
    assert [tag for tag, _ in t.frames] == ["update", "action"]
    assert t.frames[0][1] is inner and t.frames[1][1] is outer
    assert t.catalyst_phases("update")["planning"] >= 0.0
