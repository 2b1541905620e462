"""Spans, percentiles and Spark-side counters for the traced run.

Spans are recorded from the benchmark's own files, around the calls into
each engine module's public functions; nothing inside the engine changes.
A span is (id, name, start, end, parent, request id).  Spans stay in
memory and are written out once, when the run ends.  A layer's self time
is its spans' duration minus the part of that interval covered by their
child spans.
"""

from __future__ import annotations

import functools
import itertools
import json
import math
import re
import sys
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values: list[float]) -> dict:
    """Geometric mean, p50 and p90, with the sample count behind them."""
    return {
        "geomean": math.exp(sum(math.log(v) for v in values) / len(values)),
        "p50": percentile(values, 0.5),
        "p90": percentile(values, 0.9),
        "samples": len(values),
    }


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    req: str | None


class Tracer:
    """In-memory span recorder.  The open-span stack and the current
    request id are per thread, so the stream and the search client can
    both record."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin_request(self, req: str | None) -> None:
        self._local.req = req

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, req: str | None = None) -> int:
        sid = next(self._ids)
        self.spans.append(Span(sid, name, start, end, parent, req))
        return sid

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self):
        stack = self.tracer._stack()
        self.parent = stack[-1] if stack else None
        self.id = next(self.tracer._ids)
        stack.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.tracer._stack().pop()
        self.tracer.spans.append(Span(
            self.id, self.name, self.start, end, self.parent,
            getattr(self.tracer._local, "req", None),
        ))
        self.duration = end - self.start
        return False


def interval_union(intervals) -> float:
    """Total length covered by (start, end) intervals; empty ones count 0."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is not None and lo <= cur_hi:
            cur_hi = max(cur_hi, hi)
            continue
        if cur_hi is not None:
            total += cur_hi - cur_lo
        cur_lo, cur_hi = lo, hi
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the parent's own interval)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    return {
        s.id: (s.end - s.start) - interval_union(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, ()))
        for s in spans
    }


def layer_self_time(spans: list[Span]) -> dict[str, float]:
    """Layer name -> summed self time (s) over all its spans."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += st[s.id]
    return dict(out)


# ---------------------------------------------------------------------------
# wrappers around the engine's public functions
# ---------------------------------------------------------------------------

#: (module, attribute, span name); installed before ``daisy_spark.queries``
#: is imported, because the query modules bind ``_t = load_table`` then
WRAPPED = (
    ("daisy_spark.catalog", "load_table", "catalog.load"),
    ("daisy_spark.api", "load_time_bounded", "api.load"),
    ("daisy_spark.api", "search", "api.search"),
    ("daisy_spark.plans.dialect", "translate", "plans.dialect.translate"),
)


class Wrappers:
    """The installed span wrappers.  ``disable`` puts every original back
    in place, so an untraced operation in a traced run calls the engine's
    own functions; ``enable`` puts the wrappers back."""

    def __init__(self) -> None:
        self.sites: list[tuple[object, str, object, object]] = []  # owner, attr, original, wrapped

    def _set(self, wrapped: bool) -> None:
        for owner, attr, orig, wrapper in self.sites:
            setattr(owner, attr, wrapper if wrapped else orig)

    def enable(self) -> None:
        self._set(True)

    def disable(self) -> None:
        self._set(False)


def install_wrappers(tracer: Tracer) -> Wrappers:
    """Wrap the engine entry points, then rebind every other module-level
    reference to them inside ``daisy_spark``; the wrappers are on when
    this returns."""
    import importlib

    if "daisy_spark.queries" in sys.modules:
        raise RuntimeError("wrappers must be installed before daisy_spark.queries is imported")
    w = Wrappers()
    swap = {}
    for mod_name, attr, span in WRAPPED:
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, attr)
        swap[id(orig)] = (orig, tracer.wrap(span, orig))
        w.sites.append((mod, attr, *swap[id(orig)]))
    from daisy_spark.plans import script

    orig = script.ScriptRunner.execute
    w.sites.append((script.ScriptRunner, "execute", orig, tracer.wrap("plans.script.execute", orig)))
    w.enable()
    importlib.import_module("daisy_spark.queries")
    # every module-level name bound to an original or, for the modules
    # imported just now, to its wrapper
    for orig, wrapper in list(swap.values()):
        swap[id(wrapper)] = (orig, wrapper)
    for name, mod in list(sys.modules.items()):
        if not name.startswith("daisy_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            site = (mod, attr, *swap[id(val)]) if id(val) in swap else None
            if site and site not in w.sites:
                w.sites.append(site)
    w.enable()
    return w


# ---------------------------------------------------------------------------
# Spark-side counters: jobs, stages, SQL metrics, Catalyst phases, py4j
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow|ArrowEval|BatchEval")


def parse_metric(text: str, kind: str) -> float:
    """Value of a formatted Spark SQL metric ("1,234", "3.2 MiB",
    "total (min, med, max ...)\\n12 ms (...)") in bytes, ms or units."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    text = text.split(" (", 1)[0].strip()
    if kind == "size":
        num, unit = text.split()
        return float(num) * _SIZE[unit]
    if kind in ("timing", "nsTiming"):
        num, unit = text.split()
        return float(num) * _TIME[unit]
    return float(text.replace(",", ""))


class CallCounter:
    """Counts the py4j calls made through a gateway client by the thread
    that created the counter.  The operations are built and run on that
    thread; the phase listener's callbacks and the stream's foreachBatch
    calls come in on py4j's callback threads and are not counted."""

    def __init__(self, client) -> None:
        self.count = 0
        self._client = client
        self._send = send = client.send_command
        owner = threading.get_ident()

        def counting_send(*args, **kwargs):
            if threading.get_ident() == owner:
                self.count += 1
            return send(*args, **kwargs)

        self._counting_send = counting_send

    def attach(self) -> None:
        self._client.send_command = self._counting_send

    def detach(self) -> None:
        self._client.send_command = self._send


class SparkProbe:
    """Reads what Spark recorded about one operation: the jobs of its job
    groups, their stages from the status store, the SQL metrics of its
    executions, Catalyst phase times from a QueryExecutionListener, and
    the number of py4j calls made."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.app_store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.tracker = self.sc.statusTracker()
        self.qe_events: list[tuple[str, dict]] = []
        self._last_exec_id = -1
        self.calls = CallCounter(self.sc._gateway._gateway_client)
        ensure_callback_server_started(self.sc._gateway)
        # one Java proxy for the listener, so the same object can be
        # registered and unregistered again
        self._listener = self.sc._gateway.jvm.java.util.Collections.singletonList(
            _PhaseListener(self.qe_events)).get(0)
        self._listeners = spark._jsparkSession.listenerManager()
        self.attach()

    @property
    def py4j_calls(self) -> int:
        return self.calls.count

    def attach(self) -> None:
        """Count py4j calls and record Catalyst phases from now on."""
        self.calls.attach()
        self._listeners.register(self._listener)

    def detach(self) -> None:
        """Stop counting and recording; the engine runs uninstrumented."""
        self.drain()
        self._listeners.unregister(self._listener)
        self.calls.detach()

    def set_group(self, gid: str) -> None:
        self.sc.setJobGroup(gid, gid)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far,
        so the status stores and the phase listener are up to date."""
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, gid: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(gid))

    def stage_stats(self, job_ids: list[int]) -> dict:
        out = defaultdict(float)
        stages = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for s in stages:
            try:
                d = self.app_store.lastStageAttempt(s)
            except Py4JJavaError:  # evicted from the status store
                continue
            if not d.submissionTime().isDefined():
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += d.numTasks()
            out["single_task_stages"] += d.numTasks() == 1
            out["task_run_ms"] += d.executorRunTime()
            out["input_bytes"] += d.inputBytes()
            out["shuffle_read_bytes"] += d.shuffleReadBytes()
            out["shuffle_write_bytes"] += d.shuffleWriteBytes()
            out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return out

    def sql_stats(self, job_ids: list[int]) -> dict:
        """UDF and scan SQL metrics of the executions, started since the
        last call, that ran any of ``job_ids``."""
        out = defaultdict(float)
        want = set(job_ids)
        n = self.sql_store.executionsCount()
        execs = self.sql_store.executionsList(max(0, n - 64), 64)
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._last_exec_id:
                continue
            self._last_exec_id = max(self._last_exec_id, eid)
            jobs = e.jobs().keySet()
            it = jobs.iterator()
            ran = set()
            while it.hasNext():
                ran.add(it.next())
            if not ran & want:
                continue
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                is_udf = bool(_PYTHON_NODE.search(name))
                is_scan = name.startswith("Scan")
                if not (is_udf or is_scan):
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    pm = ms.apply(m)
                    v = values.get(pm.accumulatorId())
                    if not v.isDefined():
                        continue
                    key = _SQL_METRICS.get((is_udf, pm.name()))
                    if key:
                        out[key] += parse_metric(v.get(), pm.metricType())
        return out

    def phases_since(self, n0: int, func: str) -> dict:
        """Catalyst phase intervals (epoch ms) of the last ``func`` action
        recorded after event ``n0``."""
        for name, phases in reversed(self.qe_events[n0:]):
            if name == func:
                return phases
        return {}


_SQL_METRICS = {
    (True, "number of output rows"): "udf_rows",
    (True, "data sent to Python workers"): "udf_bytes_sent",
    (True, "data returned from Python workers"): "udf_bytes_received",
    (True, "time to run Python workers"): "udf_worker_run_ms",
    (False, "number of files read"): "scan_files_read",
}


class _PhaseListener:
    """py4j implementation of Spark's QueryExecutionListener; records the
    Catalyst phase intervals (epoch ms) of every action's QueryExecution."""

    def __init__(self, sink: list) -> None:
        self.sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java API
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = (kv._2().startTimeMs(), kv._2().endTimeMs())
        self.sink.append((func_name, phases))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java API
        self.sink.append((func_name, {}))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def analysis_window(df) -> tuple[int, int] | None:
    """Interval (epoch ms) of the analysis phase on a DataFrame's own
    planning tracker."""
    got = df._jdf.queryExecution().tracker().phases().get("analysis")
    return (got.get().startTimeMs(), got.get().endTimeMs()) if got.isDefined() else None


def op_analysis_ms(own, after, action_ms: float, reported) -> float:
    """Analysis time of one operation, each phase counted once.

    ``own`` is the DataFrame's analysis interval read once it was built,
    ``after`` the same tracker read after the action.  A write analyses its
    command on the DataFrame's tracker, which moves the phase's end past
    the action's start (``action_ms``); only the part after the start is
    the command's.  ``reported`` is the analysis interval of the
    QueryExecution the action ran, from the phase listener: for a write
    that is the executed command's own, for a collect it is the
    DataFrame's, already in ``own``."""
    parts = [own, reported]
    if own and after and after[1] > own[1]:
        parts.append((max(own[1], action_ms), after[1]))
    return float(interval_union(p for p in parts if p))
