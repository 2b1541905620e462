"""The two workloads, driven from one process on ``local[nproc]`` with
the engine's own session defaults.

- ``query_mix``: closed loop, one client.  Registry queries timed hot
  through the noop sink, in a seeded order per pass: OLAP shapes (TPC-H
  Q1 and a region join over the bucketed mirror, FINAL over the
  MergeTree engines, reference-dialect SQL, the script engine) and LLM-pipeline
  operators (cosine top-k over a pandas UDF, the language fingerprint
  fold).  Driver-side construction, Catalyst, execution and the
  Python/Arrow UDF boundary all carry time, so a change to any of those
  layers shows, and the per-layer ``udf.*`` counters separate the
  operators that cross the UDF boundary from those that do not.
- ``ingest_search``: open loop for writes, closed loop for reads.  One
  generator thread drops seeded JSONEachRow event files into a landing
  directory on a fixed schedule; one continuous ``ingest_stream`` consumes
  them; one client runs time-bounded reference-dialect searches through
  ``api.search`` over the growing sink.  Per-micro-batch fixed cost and
  per-search table resolution dominate, and writes run beside reads, so a
  change that trades one for the other shows.

Every workload reports the same end-to-end metrics.  An operation is one
timed query execution (query_mix) or one search (ingest_search).
"""

from __future__ import annotations

import ast
import datetime as dt
import glob
import json
import math
import os
import random
import resource
import statistics
import threading
import time
from collections import defaultdict

from perfbench import gen
from perfbench.trace import (
    SparkProbe,
    Tracer,
    analysis_window,
    install_wrappers,
    layer_self_time,
    op_analysis_ms,
    percentile,
    summarize,
)

WORKLOADS = ("query_mix", "ingest_search")

#: end-to-end metric -> unit; every workload reports all of them
#: The typical latency is the geometric mean over all timed operations, not
#: their median: a mix of a few query shapes puts the median in the gap
#: between two shapes, and which side it lands on moved it by 24% (quartile
#: spread over ten seeds) where the geometric mean uses every sample.
END_TO_END = {
    "setup_s": "s",
    "op_geomean_s": "s",
    "op_p90_s": "s",
    "ops_per_s": "1/s",
}

QUERY_MIX = (
    "pricing_summary", "region_revenue", "final_replacing", "dialect_sql",
    "script_engine", "ann_topk", "lang_fingerprint",
)

#: input sizes: every table in the shape of sf0.01, the tier at which the
#: registry's oracle contract is graded
STAR_SF = 0.01
EVENTS_ROWS = 10_000
DOCUMENTS_ROWS = 500
EMBEDDINGS_ROWS = 500
#: untimed passes after the cold one: the JIT is still compiling during the
#: first hot passes, which read 30-60% slower than later ones
WARM_PASSES = 2
#: ingest_search: one file every STREAM_INTERVAL_S seconds
STREAM_INTERVAL_S = 0.5
STREAM_ROWS_PER_FILE = 600

SEARCHES = (
    "SELECT count() AS c FROM events",
    "SELECT event_type, count() AS c FROM events GROUP BY event_type ORDER BY event_type",
    "SELECT countIf(event_type = 'purchase') AS p, round(sum(value), 2) AS v FROM events",
    "SELECT uniqExact(user_id) AS u FROM events",
    "SELECT toStartOfHour(ts) AS h, count() AS c FROM events GROUP BY h ORDER BY h",
    "SELECT sum(JSONExtractInt(props, 'k')) AS k FROM events WHERE event_type = 'view'",
)
#: the quiescent search checked against DuckDB over the sink
CHECK_SEARCH = (
    "SELECT toString(toStartOfHour(ts)) AS h, count() AS c, "
    "countIf(event_type = 'purchase') AS p, uniqExact(user_id) AS u, "
    "sum(JSONExtractInt(props, 'k')) AS k FROM events GROUP BY h ORDER BY h"
)
CHECK_ORACLE = (
    "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h, "
    "count(*) AS c, count(*) FILTER (event_type = 'purchase') AS p, "
    "count(DISTINCT user_id) AS u, "
    "sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k "
    "FROM read_parquet('{glob}') WHERE ts >= TIMESTAMP '{start}' "
    "AND ts < TIMESTAMP '{end}' GROUP BY 1 ORDER BY 1"
)

ORACLE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


class Run:
    """State of one benchmark run: its scratch directories, counters and
    the metrics it reports."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool) -> None:
        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.tracer = Tracer() if trace else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.detail: dict = {}

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def fail(self, what: str, exc: object) -> None:
        self.failed += 1
        lines = str(exc).strip().splitlines()
        self.errors.append(f"{what}: {lines[0][:300] if lines else type(exc).__name__}")


# ---------------------------------------------------------------------------
# session lifetime
# ---------------------------------------------------------------------------

def start_session(run: Run):
    from daisy_spark.session import get_spark

    tmp = run.path("tmp")
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": run.path("warehouse"),
            "spark.local.dir": tmp,
            # no hsperfdata file in the system /tmp: a run writes only
            # inside its checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            kids[int(fields[1])].append(int(stat.split("/")[2]))
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and its Python workers, and wait for all
    of them to be gone."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    procs = _descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        for pid in procs:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                try:
                    with open(f"/proc/{pid}/stat") as f:
                        if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                            break  # exited; its parent reaps it
                except OSError:
                    break
                time.sleep(0.05)


def peak_rss_mb() -> float:
    """High-water RSS of the driver JVM plus this process."""
    from pyspark import SparkContext

    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024.0


# ---------------------------------------------------------------------------
# correctness: DuckDB oracle, same normalization as the query tests
# ---------------------------------------------------------------------------

def _normalize(rows, colnames):
    """Order-insensitive, column-name-sorted canonical form (the
    normalization of tests/test_queries_vs_oracle.py)."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 9)
            vals.append((colnames[i], v))
        out.append(tuple(vals))
    return sorted(out, key=repr)


#: float results that differ by at most one cent are the same result.
#: The registry rounds sums to cents; with cent prices and discounts an
#: exact sum can sit on a half-cent tie, and the last bit of a double sum
#: (set by summation order) then picks the rounding direction: seen as
#: 266619962.44 vs .43 for an exact 266619962.4350, and 4012047.47 vs .46.
#: The relative term only absorbs the binary representation of such a
#: cent step (a double near 3e8 has a 6e-8 resolution).
TIE_CENT = 0.01
TIE_REL = 1e-12


def _same(x, y) -> bool:
    if isinstance(x, float) and isinstance(y, float):
        return abs(x - y) <= TIE_CENT + TIE_REL * max(abs(x), abs(y))
    return x == y


def compare(spark_cols, spark_rows, duck_cols, duck_rows) -> str | None:
    """None when equal, else a one-line description of the difference."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {spark_cols} vs {duck_cols}"
    if len(spark_rows) != len(duck_rows):
        return f"row count {len(spark_rows)} vs {len(duck_rows)}"
    a, b = _normalize(spark_rows, spark_cols), _normalize(duck_rows, duck_cols)
    for x, y in zip(a, b):
        bad = [(cx, vx, vy) for (cx, vx), (_, vy) in zip(x, y) if not _same(vx, vy)]
        if bad:
            return f"first mismatch (column, engine, oracle): {bad[:3]}"[:300]
    return None


def duck_connect(data_dir: str | None = None):
    import duckdb

    con = duckdb.connect()
    for t in ORACLE_TABLES if data_dir else ():
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

def query_tables(seed: int) -> dict:
    tables = gen.star_tables(seed, STAR_SF)
    tables["events"] = gen.events_table(seed, EVENTS_ROWS)
    tables["documents"] = gen.documents_table(seed, DOCUMENTS_ROWS)
    tables["embeddings"] = gen.embeddings_table(seed, EMBEDDINGS_ROWS)
    return tables


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_queries(run: Run) -> None:
    names = QUERY_MIX
    data = run.path("data")
    gen.write_tables(data, query_tables(run.seed))

    t0 = time.perf_counter()
    spark = start_session(run)
    session_s = time.perf_counter() - t0
    try:
        wrappers = install_wrappers(run.tracer) if run.trace else None
        from daisy_spark.catalog import build_bucketed_mirror
        from daisy_spark.queries import ORACLE_SQL, QUERIES

        t_m = time.perf_counter()
        build_bucketed_mirror(spark, data)
        mirror_s = time.perf_counter() - t_m
        # warm-up pass: the Spark side of the oracle check, and the cold run
        # of every query (JIT, codegen) before any timed execution
        t1 = time.perf_counter()
        results, cold = {}, {}
        for name in names:
            spark.catalog.clearCache()
            run.attempted += 1
            try:
                t_q = time.perf_counter()
                df = QUERIES[name](spark, data)
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
                cold[name] = time.perf_counter() - t_q
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                run.fail(f"{name} warm-up", exc)
        for _ in range(WARM_PASSES):
            for name in names:
                spark.catalog.clearCache()
                run.attempted += 1
                try:
                    _noop(QUERIES[name](spark, data))
                except Exception as exc:  # noqa: BLE001 - counted, run goes on
                    run.fail(f"{name} warm-up", exc)
        warm_s = time.perf_counter() - t1
        run.e2e["setup_s"] = (session_s + mirror_s + warm_s, "s")
        run.detail["setup_parts_s"] = {
            "session": session_s, "mirror": mirror_s, "warm_up": warm_s}

        probe = SparkProbe(spark) if run.trace else None
        rng = random.Random(run.seed)
        lat: list[float] = []
        hot: dict[str, list[float]] = {}
        per_op: list[dict] = []
        walls = {False: 0.0, True: 0.0}
        passes = 0
        # whole passes only, so every query weighs the same in every run;
        # another pass starts while it is expected to end near the budget
        while passes == 0 or sum(walls.values()) * (1 + 0.5 / passes) < run.seconds:
            order = list(names)
            rng.shuffle(order)
            for traced in (False, True) if run.trace else (False,):
                if run.trace:
                    _instrument(wrappers, probe, traced)
                t = time.perf_counter()
                for name in order:
                    run.attempted += 1
                    try:
                        spark.catalog.clearCache()
                        if traced:
                            per_op.append(_traced_op(
                                run, probe, f"{name}#{len(per_op)}",
                                lambda: QUERIES[name](spark, data), _noop, "overwrite"))
                        else:
                            t_op = time.perf_counter()
                            _noop(QUERIES[name](spark, data))
                            lat.append(time.perf_counter() - t_op)
                            hot.setdefault(name, []).append(lat[-1])
                    except Exception as exc:  # noqa: BLE001 - counted, run goes on
                        run.fail(name, exc)
                walls[traced] += time.perf_counter() - t
            passes += 1
        _report_ops(run, lat, walls[False])
        run.layers["peak_rss_mb"] = (peak_rss_mb(), "MB")
        run.detail["passes"] = passes
        run.detail["query_s"] = {n: {"cold": cold.get(n), "hot": hot.get(n)} for n in names}

        # oracle comparison: untimed, outside every metric
        con = duck_connect(data)
        for name, (cols, rows) in results.items():
            run.attempted += 1
            try:
                res = con.execute(ORACLE_SQL[name])
                diff = compare(cols, rows, [d[0] for d in res.description], res.fetchall())
            except Exception as exc:  # noqa: BLE001 - counted as a mismatch
                diff = f"oracle error {exc}"
            if diff:
                run.fail(f"{name} oracle", diff)
        con.close()

        if run.trace:
            _query_layers(run, per_op, walls, session_s, mirror_s)
    finally:
        stop_session(spark)


def _report_ops(run: Run, lat: list[float], wall: float) -> None:
    if not lat:
        raise RuntimeError("no operation completed")
    s = summarize(lat)
    run.e2e["op_geomean_s"] = (s["geomean"], "s")
    run.e2e["op_p90_s"] = (s["p90"], "s")
    run.e2e["ops_per_s"] = (len(lat) / wall, "1/s")
    run.detail["op_p50_s"] = s["p50"]
    run.detail["samples"] = {"op_geomean_s": s["samples"], "op_p50_s": s["samples"], "op_p90_s": s["samples"]}


def _instrument(wrappers, probe, on: bool) -> None:
    """Switch the span wrappers and the probe's hooks on or off: the
    untraced operations of a traced run run uninstrumented, so
    ``trace.overhead_ratio`` compares traced with plain wall time."""
    if on:
        wrappers.enable()
        probe.attach()
    else:
        wrappers.disable()
        probe.detach()


def _traced_op(run, probe, req, build, action, func) -> dict:
    """One operation under spans: ``build()`` makes the DataFrame (the
    driver-side construction), ``action(df)`` runs it; ``func`` is the
    name Spark reports the action's QueryExecution under."""
    tr = run.tracer
    tr.begin_request(req)
    with tr.span("op") as op:
        probe.set_group(f"b/{req}")
        c0 = probe.py4j_calls
        with tr.span("build"):
            df = build()
        calls = probe.py4j_calls - c0
        own = analysis_window(df)
        probe.set_group(f"x/{req}")
        n0 = len(probe.qe_events)
        action_ms = time.time() * 1e3
        with tr.span("exec") as ex:
            action(df)
    probe.drain()
    bjobs, xjobs = probe.jobs(f"b/{req}"), probe.jobs(f"x/{req}")
    rec = dict(probe.stage_stats(xjobs))
    rec.update(probe.sql_stats(bjobs + xjobs))
    phases = probe.phases_since(n0, func)
    rec.update(
        op_id=op.id,
        build_py4j_calls=calls,
        build_jobs=len(bjobs),
        exec_jobs=len(xjobs),
        exec_ms=ex.duration * 1e3,
        analysis_ms=op_analysis_ms(own, analysis_window(df), action_ms, phases.get("analysis")),
        optimization_ms=_length(phases.get("optimization")),
        planning_ms=_length(phases.get("planning")),
    )
    return rec


def _length(interval) -> float:
    return float(interval[1] - interval[0]) if interval else 0.0


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


#: per-layer metric name -> (per-operation record key, unit)
OP_LAYERS = {
    "build.py4j_calls": ("build_py4j_calls", "count"),
    "build.jobs": ("build_jobs", "count"),
    "catalyst.analysis_ms": ("analysis_ms", "ms"),
    "catalyst.optimization_ms": ("optimization_ms", "ms"),
    "catalyst.planning_ms": ("planning_ms", "ms"),
    "exec.ms": ("exec_ms", "ms"),
    "exec.jobs": ("exec_jobs", "count"),
    "exec.stages": ("stages", "count"),
    "exec.tasks": ("tasks", "count"),
    "exec.task_run_ms": ("task_run_ms", "ms"),
    "exec.single_task_stages": ("single_task_stages", "count"),
    "shuffle.write_bytes": ("shuffle_write_bytes", "B"),
    "shuffle.read_bytes": ("shuffle_read_bytes", "B"),
    "spill.bytes": ("spill_bytes", "B"),
    "scan.input_bytes": ("input_bytes", "B"),
    "scan.files_read": ("scan_files_read", "count"),
    "udf.rows": ("udf_rows", "count"),
    "udf.bytes_sent": ("udf_bytes_sent", "B"),
    "udf.bytes_received": ("udf_bytes_received", "B"),
    "udf.worker_run_ms": ("udf_worker_run_ms", "ms"),
}

#: span name -> (self-time metric, call-count metric or None)
SPAN_LAYERS = {
    "build": ("build.ms", None),
    "catalog.load": ("catalog.load_ms", "catalog.load_calls"),
    "plans.dialect.translate": ("plans.dialect.translate_ms", "plans.dialect.translate_calls"),
    "plans.script.execute": ("plans.script.execute_ms", None),
    "api.search": ("api.search_build_ms", None),
    "api.load": ("api.load_ms", "api.load_calls"),
}


def _op_layers(run: Run, recs: list[dict]) -> None:
    """Per-operation means of the probe counters and span self times."""
    n = max(len(recs), 1)
    for metric, (key, unit) in OP_LAYERS.items():
        run.layers[metric] = (_mean(r.get(key, 0.0) for r in recs), unit)
    cores = len(os.sched_getaffinity(0))
    busy = sum(r.get("task_run_ms", 0.0) for r in recs)
    wall = sum(r["exec_ms"] for r in recs) * cores
    run.layers["exec.slot_busy_ratio"] = (busy / wall if wall else 0.0, "ratio")
    ops = {r["op_id"] for r in recs}
    spans = _op_spans(run.tracer.spans, ops)
    self_s = layer_self_time(spans)
    for name, (ms_metric, calls_metric) in SPAN_LAYERS.items():
        run.layers[ms_metric] = (self_s.get(name, 0.0) * 1e3 / n, "ms")
        if calls_metric:
            calls = sum(1 for s in spans if s.name == name)
            run.layers[calls_metric] = (calls / n, "count")


def _op_spans(spans, roots: set[int]):
    """The spans under the given root spans."""
    by_id = {s.id: s for s in spans}
    keep = []
    for s in spans:
        p = s
        while p is not None and p.id not in roots:
            p = by_id.get(p.parent)
        if p is not None:
            keep.append(s)
    return keep


#: per-layer metrics only ingest_search has; zero on the query workloads
STREAM_LAYERS = {
    "streaming.freshness_p50_s": "s",
    "streaming.freshness_p90_s": "s",
    "streaming.rows_per_s": "rows/s",
    "streaming.batch_ms_p50": "ms",
    "streaming.batch_ms_p90": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.offset_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "count",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "streaming.dup_rows_dropped": "count",
    "streaming.late_rows_dropped": "count",
    "streaming.backlog_files": "count",
    "sink.files": "count",
    "sink.partitions": "count",
    "sink.bytes": "B",
    "sink.bytes_per_row": "B",
    "gen.late_ms_p99": "ms",
}


#: per-layer metrics set per run rather than per operation
RUN_LAYERS = {
    "peak_rss_mb": "MB",  # driver JVM plus this process; too variable to gate
    "session.start_s": "s",
    "catalog.mirror_build_s": "s",
    "api.search_exec_ms": "ms",
    "api.search_jobs_in_build": "count",
    # traced wall time over uninstrumented wall time, from alternating
    # passes (query_mix) or searches (ingest_search) of the same run
    "trace.overhead_ratio": "ratio",
    "error_ratio": "ratio",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    units = {k: u for k, (_, u) in OP_LAYERS.items()}
    units["exec.slot_busy_ratio"] = "ratio"
    for ms, calls in SPAN_LAYERS.values():
        units[ms] = "ms"
        if calls:
            units[calls] = "count"
    return {**units, **STREAM_LAYERS, **RUN_LAYERS}


def _query_layers(run, per_op, walls, session_s, mirror_s) -> None:
    _op_layers(run, per_op)
    run.layers["session.start_s"] = (session_s, "s")
    run.layers["catalog.mirror_build_s"] = (mirror_s, "s")
    run.layers["trace.overhead_ratio"] = (walls[True] / walls[False], "ratio")
    run.layers["api.search_exec_ms"] = (0.0, "ms")
    run.layers["api.search_jobs_in_build"] = (0.0, "count")
    for name, unit in STREAM_LAYERS.items():
        run.layers[name] = (0.0, unit)


# ---------------------------------------------------------------------------
# ingest_search
# ---------------------------------------------------------------------------

def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _event_time(minutes: float) -> str:
    return (gen.EVENTS_EPOCH + dt.timedelta(minutes=minutes)).strftime("%Y-%m-%d %H:%M:%S")


class Generator(threading.Thread):
    """Open-loop writer: file ``i`` is due at ``t0 + i * interval`` (wall
    clock), whatever the stream is doing."""

    def __init__(self, landing, staging, files, first, t0, interval) -> None:
        super().__init__(daemon=True)
        self.landing, self.staging, self.files = landing, staging, files
        self.first, self.t0, self.interval = first, t0, interval
        self.due: dict[str, float] = {}
        self.late_s: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i in range(self.first, len(self.files)):
                due = self.t0 + (i - self.first) * self.interval
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                name = gen.write_landing_file(self.landing, self.staging, i, self.files[i])
                self.due[name] = due
                self.late_s.append(max(0.0, time.time() - due))
        except BaseException as exc:  # noqa: BLE001 - re-raised by the caller
            self.error = exc


def _log_offset(offset) -> int:
    """File-source offset of a progress report; PySpark hands it over as
    a dict, its repr, or JSON depending on the version."""
    if offset in (None, "", "None", "null"):
        return -1  # the first batch starts before any offset
    if isinstance(offset, str):
        offset = ast.literal_eval(offset) if offset.startswith("{'") else json.loads(offset)
    return int(offset["logOffset"])


def _source_log(ckpt: str) -> dict[str, int]:
    """File name -> source log batch, from the stream's checkpoint."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def run_ingest_search(run: Run) -> None:
    files_n = 1 + max(1, int(run.seconds / STREAM_INTERVAL_S))
    files = gen.event_files(run.seed, files_n, STREAM_ROWS_PER_FILE)
    landing, staging = run.path("landing"), run.path("staging")
    sink_root, ckpt = run.path("sink"), os.path.join(run.work, "checkpoint")
    sink = os.path.join(sink_root, "events.parquet")

    t0 = time.perf_counter()
    spark = start_session(run)
    session_s = time.perf_counter() - t0
    query = None
    try:
        wrappers = install_wrappers(run.tracer) if run.trace else None
        from daisy_spark import api, streaming

        gen.write_landing_file(landing, staging, 0, files[0])
        t1 = time.perf_counter()
        query = streaming.ingest_stream(
            streaming.json_lines_source(spark, landing, gen.EVENT_SCHEMA),
            sink, ckpt, time_col="ts", idem_col="event_id",
        )
        # searches start only once the sink exists: before the first
        # commit api.search finds no events table
        while not any(p.numInputRows > 0 for p in query.recentProgress):
            if query.exception() is not None:
                raise RuntimeError(f"stream failed: {query.exception()}")
            time.sleep(0.02)
        stream_start_s = time.perf_counter() - t1
        # warm-up: every search shape, before any timed search
        t2 = time.perf_counter()
        for sql in SEARCHES * WARM_PASSES:
            run.attempted += 1
            try:
                api.search(spark, sql, sink_root).collect()
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                run.fail(f"search warm-up {sql!r}", exc)
        warm_s = time.perf_counter() - t2
        run.e2e["setup_s"] = (session_s + stream_start_s + warm_s, "s")
        run.detail["setup_parts_s"] = {
            "session": session_s, "stream_start": stream_start_s, "warm_up": warm_s}

        probe = SparkProbe(spark) if run.trace else None
        rng = random.Random(run.seed)
        t_gen = time.time() + STREAM_INTERVAL_S
        writer = Generator(landing, staging, files, 1, t_gen, STREAM_INTERVAL_S)
        writer.start()
        lat = {False: [], True: []}
        per_op: list[dict] = []
        t_start = time.perf_counter()
        i = 0
        while time.perf_counter() - t_start < run.seconds:
            minutes_now = (1 + (time.time() - t_gen) / STREAM_INTERVAL_S) * gen.MINUTES_PER_FILE
            span = rng.choice((30, 60, 120))
            sql = rng.choice(SEARCHES)
            bounds = (_event_time(minutes_now - span), _event_time(minutes_now + gen.MINUTES_PER_FILE))
            traced = run.trace and i % 2 == 1
            if run.trace:
                _instrument(wrappers, probe, traced)
            run.attempted += 1
            try:
                t_op = time.perf_counter()
                if traced:
                    per_op.append(_traced_op(
                        run, probe, f"search#{i}",
                        lambda: api.search(spark, sql, sink_root, *bounds),
                        lambda df: df.collect(), "collectToPython"))
                else:
                    api.search(spark, sql, sink_root, *bounds).collect()
                lat[traced].append(time.perf_counter() - t_op)
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                run.fail(f"search {sql!r}", exc)
            i += 1
        wall = time.perf_counter() - t_start
        writer.join()
        if writer.error is not None:
            raise writer.error
        t_gen_end = time.time()
        query.processAllAvailable()
        progress = query.recentProgress
        query.stop()
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        _report_ops(run, lat[False], wall)
        run.layers["peak_rss_mb"] = (peak_rss_mb(), "MB")

        _check_ingest(run, spark, api, files, sink, sink_root)
        if run.trace:
            _op_layers(run, per_op)
            _stream_layers(run, progress, ckpt, writer, t_gen_end, sink, files)
            run.layers["session.start_s"] = (session_s, "s")
            run.layers["catalog.mirror_build_s"] = (0.0, "s")
            run.layers["trace.overhead_ratio"] = (
                statistics.mean(lat[True]) / statistics.mean(lat[False]), "ratio")
            run.layers["api.search_exec_ms"] = (run.layers["exec.ms"][0], "ms")
            run.layers["api.search_jobs_in_build"] = (run.layers["build.jobs"][0], "count")
    finally:
        if query is not None and query.isActive:
            query.stop()
        stop_session(spark)


def _check_ingest(run, spark, api, files, sink, sink_root) -> None:
    """Exactly-once: the sink's ``_idem`` set is the generated distinct
    ``event_id`` set, with no row stored twice.  Then one quiescent search
    must equal DuckDB over the sink."""
    con = duck_connect()
    pq_glob = os.path.join(sink, "**", "*.parquet")
    want = {str(r["event_id"]) for f in files for r in f}
    run.attempted += 1
    rows, distinct = con.execute(
        f"SELECT count(*), count(DISTINCT _idem) FROM read_parquet('{pq_glob}')"
    ).fetchone()
    got = {r[0] for r in con.execute(f"SELECT DISTINCT _idem FROM read_parquet('{pq_glob}')").fetchall()}
    if rows != distinct or got != want:
        run.fail("exactly-once", f"{rows} rows, {distinct} distinct keys, "
                 f"{len(want - got)} missing, {len(got - want)} unexpected")
    run.detail["sink_rows"] = rows

    run.attempted += 1
    bounds = (_event_time(0), _event_time(len(files) * gen.MINUTES_PER_FILE * 0.75))
    try:
        df = api.search(spark, CHECK_SEARCH, sink_root, *bounds)
        res = con.execute(CHECK_ORACLE.format(glob=pq_glob, start=bounds[0], end=bounds[1]))
        diff = compare(df.columns, [tuple(r) for r in df.collect()],
                       [d[0] for d in res.description], res.fetchall())
    except Exception as exc:  # noqa: BLE001 - counted as a mismatch
        diff = f"error {exc}"
    if diff:
        run.fail("quiescent search", diff)
    con.close()


def _stream_layers(run, progress, ckpt, writer, t_gen_end, sink, files) -> None:
    batches = [p for p in progress if p.numInputRows > 0]
    log = _source_log(ckpt)
    commit = {}  # source log batch -> commit time (epoch s)
    tr = run.tracer
    to_perf = time.perf_counter() - time.time()  # spans use the perf clock
    for p in batches:
        d = p.durationMs
        start = _epoch(p.timestamp)
        end = start + d.get("triggerExecution", 0) / 1e3
        for b in range(_log_offset(p.sources[0].startOffset) + 1,
                       _log_offset(p.sources[0].endOffset) + 1):
            commit[b] = end
        # per-batch spans rebuilt from progress, phases laid end to end
        bid = tr.add("streaming.batch", start + to_perf, end + to_perf, req=f"batch#{p.batchId}")
        t = start + to_perf
        for name, keys in (("streaming.offset", ("latestOffset", "getBatch")),
                           ("streaming.wal", ("walCommit",)),
                           ("streaming.planning", ("queryPlanning",)),
                           ("streaming.add_batch", ("addBatch",)),
                           ("streaming.commit", ("commitOffsets",))):
            dur = sum(d.get(k, 0) for k in keys) / 1e3
            tr.add(name, t, t + dur, parent=bid, req=f"batch#{p.batchId}")
            t += dur
    fresh = [commit[log[n]] - due for n, due in writer.due.items() if log.get(n) in commit]
    backlog = sum(1 for n in writer.due if log.get(n) not in commit or commit[log[n]] > t_gen_end)
    batch_ms = [p.durationMs.get("triggerExecution", 0) for p in batches]
    state = batches[-1].stateOperators[0] if batches and batches[-1].stateOperators else None
    parts = glob.glob(os.path.join(sink, "_part=*"))
    data_files = glob.glob(os.path.join(sink, "_part=*", "*.parquet"))
    sink_bytes = sum(os.path.getsize(f) for f in data_files)
    rows = run.detail.get("sink_rows", 0)
    committed = [commit[log[n]] for n in writer.due if log.get(n) in commit]
    span_s = max(committed) - min(writer.due.values()) if committed else 0.0
    L = run.layers
    L["streaming.freshness_p50_s"] = (percentile(fresh, 0.5) if fresh else 0.0, "s")
    L["streaming.freshness_p90_s"] = (percentile(fresh, 0.9) if fresh else 0.0, "s")
    L["streaming.rows_per_s"] = (
        sum(len(files[i]) for i in range(1, len(files))) / span_s if span_s else 0.0, "rows/s")
    L["streaming.batch_ms_p50"] = (percentile(batch_ms, 0.5) if batch_ms else 0.0, "ms")
    L["streaming.batch_ms_p90"] = (percentile(batch_ms, 0.9) if batch_ms else 0.0, "ms")
    for metric, keys in (("streaming.add_batch_ms", ("addBatch",)),
                         ("streaming.planning_ms", ("queryPlanning",)),
                         ("streaming.offset_ms", ("latestOffset", "getBatch")),
                         ("streaming.commit_ms", ("walCommit", "commitOffsets"))):
        L[metric] = (_mean(sum(p.durationMs.get(k, 0) for k in keys) for p in batches), "ms")
    L["streaming.batches"] = (float(len(batches)), "count")
    L["streaming.rows_per_batch"] = (_mean(p.numInputRows for p in batches), "count")
    L["streaming.state_rows"] = (float(state.numRowsTotal) if state else 0.0, "count")
    L["streaming.state_bytes"] = (float(state.memoryUsedBytes) if state else 0.0, "B")
    L["streaming.dup_rows_dropped"] = (float(sum(
        (p.stateOperators[0].customMetrics or {}).get("numDroppedDuplicateRows", 0)
        for p in batches if p.stateOperators)), "count")
    L["streaming.late_rows_dropped"] = (float(sum(
        p.stateOperators[0].numRowsDroppedByWatermark for p in batches if p.stateOperators)), "count")
    L["streaming.backlog_files"] = (float(backlog), "count")
    L["sink.files"] = (float(len(data_files)), "count")
    L["sink.partitions"] = (float(len(parts)), "count")
    L["sink.bytes"] = (float(sink_bytes), "B")
    L["sink.bytes_per_row"] = (sink_bytes / rows if rows else 0.0, "B")
    L["gen.late_ms_p99"] = (percentile(writer.late_s, 0.99) * 1e3 if writer.late_s else 0.0, "ms")
