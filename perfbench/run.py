#!/usr/bin/env python3
"""End-to-end benchmark of the engine, one seeded workload per run.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 \\
        --seconds 12 --trace 0

Run from the root of a checkout. One run, in one fresh process:

1. starts the engine's session (``session.get_session``) on
   ``local[nproc]``;
2. stages the workload's inputs from the seed (``inputs.py``) into a
   work directory under ``.perfbench/``; the engine reads only that;
3. runs the cold pass, which is checked (``workloads.py``);
4. runs ``--seconds / pass_s`` timed passes (rounded up, at least the
   workload's ``min_passes``), closed loop, one operation at a time,
   sampling ``bench._canary`` and loadavg before each pass.

End-to-end metrics (``--trace 0``):

- ``setup_s``: session start plus the cold pass, what a fresh CLI
  process pays before its first result. Staging runs between the two
  in the same JVM, so class loading it shares with the cold pass
  (parquet IO, the codegen compiler) is not in ``setup_s``;
- ``wall_s``: median over passes of a pass's summed operation time
  (checks and persist releases run outside the timers);
- ``op_p50_s``, ``op_tail_s``: over all timed operations; the tail is
  the highest whole percentile with at least ten samples above it,
  and the detail record states that percentile and the sample count:
  the 62nd of 27 on ``corpus_dedup``. Below 21 samples that percentile
  is not above the median, and the maximum stands in: two passes give
  8 samples on ``ingest_publish``;
- ``rows_per_s``: output rows materialized or written per second of
  pass wall, median over passes;
- ``peak_rss_mb``: VmHWM of the Spark JVM plus this Python process.
  The heap is not committed up front, so the JVM's part follows how
  far the run grows its heap, up to the 2 GB driver memory.

``--trace 1`` interleaves untraced and traced passes. Traced passes
record spans and Spark counters (``spans.py``) and give the per-layer
metrics (``layers.py``); the difference of the two kinds' median pass
walls is the tracing overhead. Spans are written to
``.perfbench/trace-<workload>-seed<seed>.json`` at the end.

Stdout: a detail record (passes, canary, operation samples, errors,
``failed_frac``), then, as the last line, the result: ``correct``,
``attempted``, ``failed`` and the metrics. The exit code is 0 only
when every operation and check passed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "stockanalyses_downloader_spark"
JVM_HEAP = "2g"


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("corpus_dedup", "ingest_publish"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def _environment(work: str) -> dict[str, str]:
    """Session settings that keep every file the run writes inside the
    checkout, and let Python workers import the package."""
    dirs = {k: os.path.join(work, k) for k in ("local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": dirs["tmp"],
    })
    tempfile.tempdir = dirs["tmp"]
    return {
        # counters are looked up by job and stage id; raised retention
        # keeps every id of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
    }


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, which exits when its
    stdin closes; wait for it. ``spark.stop()`` has already stopped the
    Python worker daemon, which takes its workers down with it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def tail(samples: list[float]) -> tuple[int, float]:
    """Highest whole percentile with at least ten samples above it
    (nearest rank). Below 21 samples that percentile is not above the
    median; the maximum stands in, so the tail still follows the
    slowest operation."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 20:
        return 100, xs[-1]
    pct = (100 * (n - 10)) // n
    rank = max(1, math.ceil(pct * n / 100))
    return pct, xs[rank - 1]


def end_to_end(setup_s: float, passes: list[dict],
               peak_rss_mb: float) -> tuple[dict[str, dict], dict]:
    """The end-to-end metrics, and the tail's percentile and sample
    count for the detail record."""
    walls = [p["wall_s"] for p in passes]
    ops = [s for p in passes for s in p["op_s"]]
    pct, tail_s = tail(ops)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(walls), "s"),
        "op_p50_s": (statistics.median(ops), "s"),
        "op_tail_s": (tail_s, "s"),
        "rows_per_s": (statistics.median(
            p["rows"] / p["wall_s"] for p in passes), "rows/s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    return ({k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            {"op_tail_pct": pct, "op_samples": len(ops)})


def run(args: argparse.Namespace, work: str) -> tuple[dict, dict]:
    extra_conf = _environment(work)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

    from bench import _canary
    from inputs import copy_of
    from layers import per_layer
    from spans import SparkCounters, Tracer
    from stockanalyses_downloader_spark.session import get_session
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = get_session("perfbench", extra_conf=extra_conf)
    session_s = time.perf_counter() - t0
    try:
        workload = WORKLOADS[args.workload](spark, work)
        t0 = time.perf_counter()
        workload.stage(copy_of(args.seed))
        stage_s = time.perf_counter() - t0
        cold = workload.cold_pass()
        cold_s = sum(op.seconds for op in cold.ops)

        n = max(workload.min_passes,
                math.ceil(args.seconds / workload.pass_s))
        # traced and untraced passes in ABBA order, so a drift over
        # the run (JIT still warming) cancels out of the overhead when
        # n is a multiple of four; a traced run takes no more passes
        kinds = ([kind for i in range((n + 1) // 2) for kind in
                  ((True, False) if i % 2 == 0 else (False, True))][:n]
                 if args.trace else [False] * n)
        tracer = Tracer(SparkCounters(spark)) if args.trace else None
        off = Tracer()
        _canary(spark)                  # untimed codegen warm-up
        passes = []
        for k, traced in enumerate(kinds, start=1):
            canary = _canary(spark)
            t0 = time.perf_counter()
            if traced:
                with tracer.trace():
                    p = workload.timed_pass(tracer, k)
            else:
                p = workload.timed_pass(off, k)
            # a pass's wall is its operations' time: the checks and
            # releases between them run outside the timers
            passes.append({"traced": traced,
                           "wall_s": sum(op.seconds for op in p.ops),
                           "elapsed_s": time.perf_counter() - t0,
                           "rows": p.rows, "persists": p.persists,
                           "op_s": [op.seconds for op in p.ops],
                           "errors": {op.name: op.error for op in p.ops
                                      if op.error},
                           "canary_s": canary["t"],
                           "loadavg": canary["loadavg"]})
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle \
            .current().pid()
        rss = {"jvm": _vm_hwm_mb(jvm_pid), "python": _vm_hwm_mb("self")}
        peak_rss_mb = sum(rss.values())
    finally:
        stop_spark(spark)

    attempted = len(cold.ops) + sum(len(p["op_s"]) for p in passes)
    failed = (sum(1 for op in cold.ops if op.error)
              + sum(len(p["errors"]) for p in passes))
    detail = {
        "workload": args.workload, "seed": args.seed,
        "copy": copy_of(args.seed), "session_s": session_s,
        "stage_s": stage_s, "cold_s": cold_s, "peak_rss_mb": rss,
        "ops": [op.name for op in cold.ops],
        "cold_errors": {op.name: op.error for op in cold.ops if op.error},
        "failed_frac": failed / attempted,
        "passes": passes,
    }
    if args.trace:
        spans = tracer.spans
        metrics = per_layer(spans, session_s, passes)
        path = os.path.join(ROOT, ".perfbench",
                            f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([sp.record() for sp in spans], fh)
        detail["trace_file"] = os.path.relpath(path, ROOT)
    else:
        metrics, extra = end_to_end(session_s + cold_s, passes,
                                    peak_rss_mb)
        detail.update(extra)
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return detail, result


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/: run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(work)
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
