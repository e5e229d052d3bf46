"""Per-layer metrics of a traced run, from the benchmark's spans and the
Spark event log. METRICS.md says which end-to-end metric each one should
move, and on which workload.

A "request" is the workload's unit of work: one query
(search-interactive), one ``search_many`` call (search-batch) or one
NRT probe query (ingest-nrt). Per-request values are means over the
traced requests; every other request runs untraced, and the difference
between the two medians is reported as the tracing overhead.
"""

from __future__ import annotations

import ast
import os
import re
import statistics
from functools import lru_cache
from typing import Dict, Optional

from workloads import dir_bytes, median

# the engine's top-level index directories; the rest is catalog state
INDEX_TABLES = ("seg", "merged", "docs", "docs_gen", "stats", "tombstones")

# IndexWriter.build phases, by the engine function at a job's Python call
# site. Writer jobs carry no Python call site; the ones between the last
# plan job and the first finalize job are the segment pass (a
# single-batch build runs its phases in this order).
BUILD_PHASES = {
    "compute_key_bounds": "plan", "count_keys_per_bucket": "plan",
    "_plan_snapshot": "plan",
    "_batch_lineage": "finalize", "_finalize": "finalize",
    "write_docs_table": "finalize",
}
_CALL_SITE = re.compile(r" at (\S+\.py):(\d+)$")


@lru_cache(maxsize=None)
def _functions(path: str):
    """(first line, last line, name) of every function in a file."""
    with open(path) as f:
        tree = ast.parse(f.read())
    return [(n.lineno, n.end_lineno, n.name) for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]


def function_at(call_site: str) -> Optional[str]:
    """Innermost function containing a Spark call site 'op at file:line'."""
    m = _CALL_SITE.search(call_site or "")
    if not m or not os.path.exists(m.group(1)):
        return None
    line = int(m.group(2))
    best = None
    for lo, hi, name in _functions(m.group(1)):
        if lo <= line <= hi and (best is None or lo > best[0]):
            best = (lo, name)
    return best[1] if best else None


def mean(xs):
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def per_layer(run, codegen: int, events) -> Dict[str, dict]:
    groups, jobs = events
    tr = run.tracer
    out: Dict[str, dict] = {}

    def m(name, value, unit):
        out[name] = {"value": float(value), "unit": unit}

    def tree(sp, key):
        return sum(groups.get(s.group, {}).get(key, 0.0)
                   for s in tr.subtree(sp))

    reqs = tr.by_name("request")

    def per_req(key, scale=1.0):
        return mean(tree(r, key) for r in reqs) * scale

    dur = {name: [s.duration for s in tr.by_name(name)]
           for name in ("open", "plan", "collect", "append", "delete",
                        "compact")}

    m("session.start_s", run.session_s, "s")
    m("open.s", median(dur["open"]), "s")
    m("open.jobs", mean(len(s.jobs) for s in tr.by_name("open")), "count")
    m("plan.s", median(dur["plan"]), "s")
    m("plan.jobs_per_request",
      mean(len(s.jobs) for s in tr.by_name("plan")), "count")
    m("collect.s", median(dur["collect"]), "s")
    m("spark.jobs_per_request",
      mean(sum(len(s.jobs) for s in tr.subtree(r)) for r in reqs), "count")
    m("spark.stages_per_request", per_req("stages"), "count")
    m("spark.tasks_per_request", per_req("tasks"), "count")
    m("scan.input_bytes_per_request", per_req("scan_input_bytes"), "bytes")
    m("shuffle.read_bytes_per_request", per_req("shuffle_read_bytes"),
      "bytes")
    m("shuffle.write_bytes_per_request", per_req("shuffle_write_bytes"),
      "bytes")
    m("arrow.bytes_to_python_per_request", per_req("arrow_bytes_to_python"),
      "bytes")
    m("arrow.bytes_from_python_per_request",
      per_req("arrow_bytes_from_python"), "bytes")
    m("python.worker_start_s_per_request",
      per_req("python_worker_start_ms", 1e-3), "s")
    m("python.worker_run_s_per_request",
      per_req("python_worker_run_ms", 1e-3), "s")
    m("executor.run_s_per_request", per_req("executor_run_ms", 1e-3), "s")
    m("executor.cpu_s_per_request", per_req("executor_cpu_ns", 1e-9), "s")

    build = tr.by_name("build")
    phase_s = {"plan": 0.0, "segment_pass": 0.0, "finalize": 0.0}
    build_tasks = 0
    phase, planned = "plan", False
    for _, job in sorted(jobs.items()):
        if not build or job["group"] != build[0].group:
            continue
        build_tasks += job["tasks"]
        known = BUILD_PHASES.get(function_at(job["call_site"]))
        if known:
            phase = known
            planned = planned or known == "plan"
        elif phase == "plan" and planned:
            phase = "segment_pass"
        phase_s[phase] += (job.get("end_ms", job["start_ms"])
                           - job["start_ms"]) / 1e3
    m("build.s", build[0].duration if build else 0.0, "s")
    for phase, s in phase_s.items():
        m(f"build.{phase}_s", s, "s")
    m("build.tasks", build_tasks, "count")
    m("build.codegen_fallbacks",
      len(build[0].log_lines) if build else 0, "count")

    fired = [s for s in tr.by_name("compact") if s.id in run.compactions]
    m("merge.s", median([s.duration for s in fired]), "s")
    m("merge.shuffle_bytes", mean(tree(s, "shuffle_write_bytes")
                                  for s in fired), "bytes")
    m("append.s", median(dur["append"]), "s")
    m("delete.s", median(dur["delete"]), "s")
    m("compact.s", median(dur["compact"]), "s")
    m("compact.count", len(run.compactions), "count")

    total = dir_bytes(run.index_dir)
    for t in INDEX_TABLES:
        m(f"index.bytes.{t}", dir_bytes(os.path.join(run.index_dir, t)),
          "bytes")
        total -= out[f"index.bytes.{t}"]["value"]
    m("index.bytes.catalog", total, "bytes")

    m("rss.peak_mib", run.rss.peak / 2 ** 20, "MiB")
    m("rss.jvm_peak_mib", run.rss.peak_by["java"] / 2 ** 20, "MiB")
    m("rss.python_peak_mib", run.rss.peak_by["python"] / 2 ** 20, "MiB")
    m("codegen.fallbacks", codegen, "count")
    m("trace.overhead_s",
      median(run.traced_lat) - median(run.untraced_lat), "s")
    m("trace.spans", len(tr.spans), "count")
    return out
