"""The event-log reducer on a small canned log (events.jsonl) and the
driver-side span helpers on a stand-in SparkContext.
Run: python3 -m pytest kgbench/tests -q"""

import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import kgtrace  # noqa: E402


@pytest.fixture(scope="module")
def reduced():
    with open(os.path.join(HERE, "events.jsonl")) as f:
        return kgtrace.reduce_event_log(f)


def test_groups_sum_task_metrics(reduced):
    groups, _ = reduced
    g = groups["stage1"]
    assert g["jobs"] == 1 and g["tasks"] == 1
    assert g["executor_cpu_s"] == pytest.approx(2.0)
    assert g["run_s"] == pytest.approx(3.0)
    assert g["shuffle_bytes"] == 100
    assert g["spill_bytes"] == 5            # disk bytes, not memory bytes
    assert g["python_s"] == pytest.approx(1.5)
    assert g["python_bytes"] == 30
    assert g["job_s"] == pytest.approx(3.0)


def test_stage4_call_site_split_out_of_write_span(reduced):
    groups, split = reduced
    s4 = groups["stage4"]
    assert s4["jobs"] == 1 and s4["tasks"] == 2
    assert s4["shuffle_bytes"] == 50
    assert s4["executor_cpu_s"] == pytest.approx(0.2)
    assert s4["job_s"] == pytest.approx(0.5)
    assert split == {"stage1": pytest.approx(0.5)}


def test_split_only_applies_to_named_groups(reduced):
    groups, _ = reduced
    assert groups["session"]["jobs"] == 1
    assert groups["session"]["tasks"] == 1
    # a job without a group lands under ""
    assert groups[""]["jobs"] == 1


def test_span_metrics_idle_fraction(reduced):
    groups, _ = reduced
    m = kgtrace.span_metrics(groups["stage1"], wall_s=2.0, cores=4)
    assert m["idle_frac"] == pytest.approx(1 - 3.0 / 8.0)
    assert set(m) == set(kgtrace.SPAN_FIELDS)
    empty = kgtrace.span_metrics(None, wall_s=0.0, cores=4)
    assert all(v == 0 for v in empty.values())


class _FakeSc:
    def __init__(self):
        self.props = {}
        self.history = []

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group
        self.props["spark.job.description"] = description
        self.history.append(group)


def test_tracer_nests_and_restores_job_group():
    sc = _FakeSc()
    tracer = kgtrace.Tracer(sc)
    with tracer.span("runner"):
        with tracer.span("stage1"):
            assert sc.props["spark.jobGroup.id"] == "stage1"
        assert sc.props["spark.jobGroup.id"] == "runner"
    assert "spark.jobGroup.id" not in sc.props
    assert set(tracer.walls) == {"runner", "stage1"}
    assert tracer.walls["runner"] >= tracer.walls["stage1"] >= 0


def test_patched_wraps_and_restores():
    sc = _FakeSc()
    tracer = kgtrace.Tracer(sc)
    owner = types.SimpleNamespace(write=lambda table: sc.props["spark.jobGroup.id"])
    original = owner.write
    with tracer.patched(owner, "write", lambda table: f"span.{table}"):
        assert owner.write("t") == "span.t"
        assert owner.write("u") == "span.u"
    assert owner.write is original
    assert sc.history == ["span.t", "span.u"]
