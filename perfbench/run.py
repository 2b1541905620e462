#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0

Run from the repository root.  The run generates its inputs from
``--seed``, starts the engine on ``local[nproc]`` with its own session
defaults, measures for about ``--seconds`` seconds, checks the outputs
(DuckDB oracle, exactly-once ingest, a quiescent search) and prints two
JSON lines on stdout: a detail line with sample counts and errors, then
the result line ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics with no instrumentation.
``--trace 1`` records spans around the engine's public functions and
reports the per-layer metrics instead; its spans are written to
``.perfbench_work/spans-<workload>-<seed>.jsonl``.

All scratch state lives under ``.perfbench_work/`` in the current
directory and is emptied at the start of every run.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import shutil
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402
#: a run that is still going after this long stops itself
DEADLINE_S = 170.0


def _die(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def _watchdog() -> None:
    time.sleep(DEADLINE_S)
    print(f"perfbench: run exceeded {DEADLINE_S:.0f}s, aborting", file=sys.stderr, flush=True)
    faulthandler.dump_traceback(all_threads=True)
    try:
        from pyspark import SparkContext

        if SparkContext._gateway is not None:
            SparkContext._gateway.proc.kill()
    finally:
        os._exit(3)


def _environment(work: str) -> None:
    """Pin everything a run writes inside ``work`` and the engine's
    Python workers to this interpreter and this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    time.tzset()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "daisy_spark", "session.py")):
        _die(f"no engine sources (daisy_spark/) under {ROOT}; run from the repository root", 2)
    threading.Thread(target=_watchdog, daemon=True).start()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    _environment(run_dir)

    run = W.Run(run_dir, args.seed, args.seconds, bool(args.trace))
    if args.workload == "ingest_search":
        W.run_ingest_search(run)
    else:
        W.run_queries(run)

    if args.trace:
        run.layers["error_ratio"] = (run.failed / max(run.attempted, 1), "ratio")
        metrics = run.layers
        spans_path = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl")
        run.tracer.write(spans_path)
        run.detail["spans"] = os.path.relpath(spans_path, ROOT)
    else:
        metrics = run.e2e
    expected = W.layer_units() if args.trace else W.END_TO_END
    if {k: u for k, (_, u) in metrics.items()} != expected:
        raise RuntimeError(f"metrics differ from the declared set: {sorted(set(metrics) ^ set(expected))}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": {
        "workload": args.workload,
        "seed": args.seed,
        "errors": run.errors[:20],
        **run.detail,
    }}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result
        traceback.print_exc()
        sys.exit(1)
