"""Per-layer metrics of a traced run, from its spans.

Each metric is computed per traced pass and reported as the median
over those passes. A layer a workload does not call reads 0. The
layer names follow the package's modules; each metric names the
end-to-end metric it should move:

- ``session``: start time (``setup_s``, both workloads);
- ``queries``: build-side time and eager jobs, Catalyst ms, codegen
  compiles, and the materialization's jobs, stages, tasks, executor
  run/CPU/GC ms, shuffle and spill bytes, plus a per-query split
  (``wall_s``, ``op_p50_s``, ``op_tail_s`` on ``corpus_dedup``);
- ``caching``: tracked persists, peak cached MB, release time
  (``peak_rss_mb``, ``wall_s``);
- ``streaming``: micro-batches, their trigger ms, planning, addBatch
  and commit ms, sink bytes and files (``wall_s``, ``rows_per_s`` on
  ``ingest_publish``);
- ``pipelines``: wall, jobs and task CPU of each pipeline call
  (``wall_s``, ``op_tail_s`` on ``ingest_publish``);
- ``compaction``: compaction time and files removed (``wall_s`` on
  ``ingest_publish``);
- ``self``: per-layer self time (span minus its children); ``bench``
  is the benchmark's own share (checks, counter reads);
- ``trace.overhead_s``: median traced minus median untraced pass wall.
"""

from __future__ import annotations

import statistics

from spans import COUNTERS, Span, self_seconds
from workloads import CorpusDedup

# the materialization counters; Catalyst ms and compiles are reported
# over build and materialization together
EXEC_COUNTERS = [c for c in COUNTERS
                 if c not in ("plan_ms", "codegen_compiles")]
PIPELINES = {"run_rest_batch": "rest_batch",
             "run_wss_stream": "wss_stream",
             "run_corpus_ingest_stream": "corpus_ingest"}
LAYERS = ("bench", "queries", "caching", "pipelines", "streaming",
          "compaction")


def unit(name: str) -> str:
    for suffix, u in (("_s", "s"), ("_ms", "ms"), ("_bytes", "bytes"),
                      ("_mb_peak", "MB"), ("cpu_share", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def _sum(spans: list[Span], key: str) -> float:
    return sum(s.counters.get(key, 0) for s in spans)


def _attr(spans: list[Span], key: str) -> float:
    return sum(s.attrs.get(key, 0) for s in spans)


def _pass_metrics(spans: list[Span]) -> dict[str, float]:
    m: dict[str, float] = {}
    queries = [s for s in spans if s.layer == "queries"]
    build = [s for s in queries if s.name.endswith(".build")]
    execs = [s for s in queries if s.name.endswith(".exec")]
    m["queries.build_s"] = sum(s.seconds for s in build)
    m["queries.build_jobs"] = _sum(build, "jobs")
    m["queries.plan_ms"] = _sum(queries, "plan_ms")
    m["queries.codegen_compiles"] = _sum(queries, "codegen_compiles")
    m["queries.exec_s"] = sum(s.seconds for s in execs)
    for c in EXEC_COUNTERS:
        m[f"queries.{c}"] = _sum(execs, c)
    run_ms = m["queries.task_run_ms"]
    m["queries.cpu_share"] = (m["queries.task_cpu_ms"] / run_ms
                              if run_ms else 0)
    for q in CorpusDedup.queries:
        b = [s for s in build if s.name == f"{q}.build"]
        e = [s for s in execs if s.name == f"{q}.exec"]
        m[f"queries.{q}.build_s"] = sum(s.seconds for s in b)
        m[f"queries.{q}.exec_s"] = sum(s.seconds for s in e)
        m[f"queries.{q}.cpu_ms"] = _sum(b + e, "task_cpu_ms")

    caching = [s for s in spans if s.layer == "caching"]
    m["caching.persists"] = _attr(caching, "persists")
    m["caching.cached_mb_peak"] = max(
        (s.attrs.get("cached_mb", 0) for s in caching), default=0)
    m["caching.release_s"] = sum(s.seconds for s in caching)

    batches = [s for s in spans if s.layer == "streaming"]
    m["streaming.batches"] = len(batches)
    m["streaming.batch_p50_ms"] = (statistics.median(
        s.seconds * 1e3 for s in batches) if batches else 0)
    for key in ("planning_ms", "add_batch_ms", "commit_ms"):
        m[f"streaming.{key}"] = _attr(batches, key)
    m["streaming.sink_bytes"] = _attr(spans, "sink_bytes")
    m["streaming.sink_files"] = _attr(spans, "sink_files")

    for fn, key in PIPELINES.items():
        calls = [s for s in spans if s.name == fn]
        m[f"pipelines.{key}_s"] = sum(s.seconds for s in calls)
        m[f"pipelines.{key}_jobs"] = _sum(calls, "jobs")
        m[f"pipelines.{key}_cpu_ms"] = _sum(calls, "task_cpu_ms")

    compaction = [s for s in spans if s.layer == "compaction"]
    m["compaction.compact_s"] = sum(s.seconds for s in compaction)
    m["compaction.files_removed"] = _attr(compaction, "files_removed")

    own = self_seconds(spans)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = sum(own[s.span_id] for s in spans
                                   if s.layer == layer)
    return m


def per_layer(spans: list[Span], session_s: float,
              passes: list[dict]) -> dict[str, dict]:
    by_pass: dict[int, list[Span]] = {}
    for s in spans:
        by_pass.setdefault(s.trace_id, []).append(s)
    rows = [_pass_metrics(group) for group in by_pass.values()]
    metrics = {"session.start_s": session_s}
    metrics.update({k: statistics.median(r[k] for r in rows)
                    for k in rows[0]})
    walls = {kind: statistics.median(p["wall_s"] for p in passes
                                     if p["traced"] is kind)
             for kind in (False, True)}
    metrics["trace.overhead_s"] = walls[True] - walls[False]
    return {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}
