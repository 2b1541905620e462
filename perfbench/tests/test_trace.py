"""Percentiles, span self time, the traced operation's counters and
Spark metric parsing."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import threading
import time

import pytest

from perfbench import workloads as W
from perfbench.trace import (
    CallCounter,
    Span,
    Tracer,
    interval_union,
    layer_self_time,
    op_analysis_ms,
    parse_metric,
    percentile,
    self_times,
    summarize,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_percentiles_and_sample_counts():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 0.5) == statistics.median(xs)
    assert percentile(xs, 0.9) == pytest.approx(4.6)
    assert percentile([2.0], 0.9) == 2.0
    assert summarize(xs) == {
        "geomean": pytest.approx(120 ** (1 / 5)), "p50": 3.0,
        "p90": pytest.approx(4.6), "samples": 5}
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(1, "op", 0.0, 10.0, None, "r"),
        Span(2, "build", 1.0, 4.0, 1, "r"),
        Span(3, "catalog.load", 2.0, 3.0, 2, "r"),
        Span(4, "catalog.load", 2.5, 3.5, 2, "r"),  # overlaps its sibling
        Span(5, "exec", 5.0, 12.0, 1, "r"),  # runs past its parent
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 3.0 - 5.0)
    assert st[2] == pytest.approx(3.0 - 1.5)
    assert st[3] == pytest.approx(1.0) and st[5] == pytest.approx(7.0)
    assert layer_self_time(spans)["catalog.load"] == pytest.approx(2.0)


def test_tracer_nests_spans_per_thread():
    tr = Tracer()
    tr.begin_request("q#1")
    with tr.span("op") as op:
        with tr.span("build"):
            pass
        fn = tr.wrap("catalog.load", lambda x: x + 1)
        assert fn(1) == 2
    by_name = {s.name: s for s in tr.spans}
    assert by_name["build"].parent == op.id and by_name["catalog.load"].parent == op.id
    assert {s.req for s in tr.spans} == {"q#1"}


@pytest.mark.parametrize("text,kind,value", [
    ("1,234", "sum", 1234.0),
    ("950.0 B", "size", 950.0),
    ("total (min, med, max (stageId: taskId))\n1.5 KiB (1.0 B, 2.0 B, 3.0 B (stage 0.0: task 2))", "size", 1536.0),
    ("total (min, med, max (stageId: taskId))\n1.2 s (1 ms, 2 ms, 3 ms (stage 1.0: task 4))", "timing", 1200.0),
    ("12 ms", "timing", 12.0),
])
def test_parse_metric(text, kind, value):
    assert parse_metric(text, kind) == pytest.approx(value)


def test_interval_union():
    assert interval_union([]) == 0.0
    assert interval_union([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4.0


def test_call_counter_counts_only_its_own_thread():
    class Client:
        def send_command(self, cmd):
            return cmd

    client = Client()
    counter = CallCounter(client)
    counter.attach()
    assert client.send_command("a") == "a"
    t = threading.Thread(target=client.send_command, args=("callback",))
    t.start()
    t.join()
    assert counter.count == 1
    counter.detach()
    client.send_command("b")
    assert counter.count == 1


class _FakeProbe:
    """The SparkProbe surface a traced operation uses; ``qe_events`` is
    what the phase listener would have recorded."""

    py4j_calls = 0

    def __init__(self) -> None:
        self.qe_events = []

    def set_group(self, gid):
        pass

    def drain(self):
        pass

    def jobs(self, gid):
        return []

    def stage_stats(self, job_ids):
        return {}

    def sql_stats(self, job_ids):
        return {}

    def phases_since(self, n0, func):
        return dict(next((p for f, p in reversed(self.qe_events[n0:]) if f == func), {}))


class _FakeDF:
    def __init__(self, analysis):
        self.analysis = analysis  # (start, end) epoch ms on its own tracker


def _traced(monkeypatch, probe, action, func):
    monkeypatch.setattr(W, "analysis_window", lambda df: df.analysis)
    run = W.Run("unused", 0, 1.0, trace=True)
    return W._traced_op(run, probe, "q#0", lambda: _FakeDF((1000, 1040)), action, func)


def test_collect_analysis_is_counted_once(monkeypatch):
    probe = _FakeProbe()

    def collect(df):  # the listener reports the DataFrame's own QueryExecution
        probe.qe_events.append(("collectToPython", {
            "analysis": df.analysis, "optimization": (2000, 2010), "planning": (2010, 2013)}))

    rec = _traced(monkeypatch, probe, collect, "collectToPython")
    assert rec["analysis_ms"] == 40.0
    assert (rec["optimization_ms"], rec["planning_ms"]) == (10.0, 3.0)


def test_write_adds_only_its_command_analysis(monkeypatch):
    probe = _FakeProbe()

    def write(df):
        # the write command is analysed on the DataFrame's tracker, which
        # stretches the phase from the DataFrame's analysis to now + 8 ms;
        # the executed command reports its own 2 ms analysis
        now = time.time() * 1e3
        df.analysis = (df.analysis[0], now + 8)
        probe.qe_events.append(("overwrite", {
            "analysis": (now + 9, now + 11), "optimization": (now + 11, now + 20)}))

    rec = _traced(monkeypatch, probe, write, "overwrite")
    assert rec["analysis_ms"] == pytest.approx(40.0 + 8 + 2, abs=1.0)
    assert rec["optimization_ms"] == pytest.approx(9.0)
    assert rec["planning_ms"] == 0.0


def test_op_analysis_ms():
    own = (100, 140)
    assert op_analysis_ms(own, own, 500, own) == 40.0  # collect
    assert op_analysis_ms(own, (100, 520), 500, (521, 523)) == 40.0 + 20 + 2  # write
    assert op_analysis_ms(None, None, 500, None) == 0.0


def test_wrappers_switch_off_to_the_originals():
    # a fresh interpreter: the wrappers go in before daisy_spark.queries
    # is imported, and must not leak into this process
    code = """
from perfbench.trace import Tracer, install_wrappers
import daisy_spark.catalog as catalog
orig = catalog.load_table
w = install_wrappers(Tracer())
from daisy_spark import queries, queries_ext, queries_llm
wrapped = catalog.load_table
names = lambda: {catalog.load_table, queries._t, queries_ext._t, queries_llm._t}
assert wrapped is not orig and names() == {wrapped}
w.disable()
assert names() == {orig}
w.enable()
assert names() == {wrapped}
print("ok")
"""
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=120)
    assert out.stdout.strip().endswith("ok"), out.stderr[-2000:]
