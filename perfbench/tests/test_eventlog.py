"""Event-log parser and span bookkeeping, against a recorded fragment of a
Spark 4.1 event log (one extract-write task under job group ``rep0`` with
the ArrowEvalPython SQL metrics, and one task of an ungrouped job).

    python3 -m pytest perfbench/tests/test_eventlog.py -q
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import layers  # noqa: E402
import spans  # noqa: E402

FRAGMENT = os.path.join(HERE, "eventlog_fragment.jsonl")


def test_task_metrics_by_group():
    ev = eventlog.read(FRAGMENT)
    assert set(ev.groups) == {"rep0", None}
    g = ev.groups["rep0"]
    assert (g.jobs, g.tasks, g.run_ms) == (1, 1, 3794)
    assert (g.gc_ms, g.input_records) == (312, 250)
    assert (g.output_bytes, g.output_records, g.shuffle_write_bytes) == (22487, 137, 0)
    assert len(g.task_intervals) == 1
    a, b = g.task_intervals[0]
    assert b > a
    other = ev.groups[None]
    assert (other.jobs, other.tasks, other.run_ms) == (1, 1, 366)
    assert other.python == {}


def test_python_sql_metrics():
    ev = eventlog.read(FRAGMENT)
    py = ev.groups["rep0"].python
    assert py["rows"] == 27
    assert py["bytes_sent"] == 15680
    assert py["bytes_returned"] == 8896
    assert py["boot"] == 19
    assert py["init"] == 1330
    assert py["python"] == 1359
    assert ev.python_units["python"] == "timing"
    assert eventlog.to_seconds(py["python"], ev.python_units["python"]) == 1.359


def test_interval_union():
    assert layers._union([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert layers._union([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert layers._union([], 0, 1) == 0


class FakeContext:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        if v is None:
            self.props.pop(k, None)
        else:
            self.props[k] = v

    def setJobGroup(self, gid, desc):
        self.props["spark.jobGroup.id"] = gid
        self.props["spark.job.description"] = desc


def test_span_sets_and_restores_job_group():
    sc = FakeContext()
    sc.setJobGroup("outer", "caller")
    tr = spans.Tracer(sc, "t")
    seen = []

    def inner():
        seen.append(sc.getLocalProperty("spark.jobGroup.id"))

    def outer():
        seen.append(sc.getLocalProperty("spark.jobGroup.id"))
        tr.span("child", inner)
        seen.append(sc.getLocalProperty("spark.jobGroup.id"))

    tr.span("parent", outer)
    parent, child = tr.spans
    assert seen == [parent.group, child.group, parent.group]
    assert child.parent == parent.sid and parent.parent is None
    assert sc.getLocalProperty("spark.jobGroup.id") == "outer"
    assert parent.start <= child.start <= child.end <= parent.end


def test_span_restores_group_on_error():
    sc = FakeContext()
    tr = spans.Tracer(sc, "t")

    def boom():
        raise ValueError("x")

    try:
        tr.span("s", boom)
    except ValueError:
        pass
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert tr.spans[0].end >= tr.spans[0].start


def test_wrap_and_uninstall():
    sc = FakeContext()
    tr = spans.Tracer(sc, "t")

    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    orig = Owner.f
    tr.wrap(Owner, "f", lambda a, k: "even" if a[0] % 2 == 0 else None)
    assert Owner.f(2) == 3 and Owner.f(3) == 4
    assert [s.name for s in tr.spans] == ["even"]
    tr.uninstall()
    assert Owner.f is orig
