#!/usr/bin/env python3
"""Repository benchmark: one seeded workload per run, outputs checked
against the pure-Python oracle.

    python3 perfbench/run.py --workload search-interactive --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it is the full run report: every
workload-specific metric with its unit and sample count, the measured
query-kind shares, codegen fallbacks and the machine state. Reports,
spans and Spark event logs are kept under ``perfbench/.work/``.
METRICS.md maps each per-layer metric to the end-to-end metric and
workload it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = 4
DRIVER_MEM = "2g"


def _descendants(pid: int):
    kids = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssSampler:
    """Peak resident memory of this process tree (driver JVM and Python
    workers included), sampled every 0.2 s; also the peaks of the JVM and
    of the Python processes alone."""

    def __init__(self):
        self.peak = 0
        self.peak_by = {"java": 0, "python": 0}
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def sample(self) -> int:
        total, by = 0, {"java": 0, "python": 0}
        for p in _descendants(os.getpid()):
            try:
                with open(f"/proc/{p}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
                with open(f"/proc/{p}/comm") as f:
                    kind = "java" if f.read().startswith("java") else "python"
            except (OSError, IndexError, ValueError):
                continue
            total += rss
            by[kind] += rss
        self.peak = max(self.peak, total)
        for k, v in by.items():
            self.peak_by[k] = max(self.peak_by[k], v)
        return total

    def reset(self) -> None:
        self.peak = 0
        self.peak_by = {"java": 0, "python": 0}

    def _loop(self):
        while not self._stop.wait(0.2):
            self.sample()

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=5)
        self.sample()
        return self.peak / 2 ** 20


def calibration_s() -> float:
    """Fixed CPU probe (median of 5): recorded beside the metrics to
    show machine drift, never used to adjust them."""
    import hashlib

    buf = bytes(range(256)) * 16384
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(8):
            hashlib.sha256(buf).digest()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def machine_state() -> dict:
    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg": list(os.getloadavg()),
            "calibration_s": calibration_s()}


def start_session(trace: bool, run_id: str):
    """get_spark with benchmark-owned deployment settings. Spark conf
    that must exist before the JVM starts (event log, temp dirs, no
    console progress bar) goes through PYSPARK_SUBMIT_ARGS."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["LSS_DRIVER_MEM"] = DRIVER_MEM
    os.environ["LSS_LOCAL_DIR"] = local
    os.environ["TMPDIR"] = tmp
    conf = {"spark.ui.showConsoleProgress": "false"}
    evdir = None
    if trace:
        evdir = os.path.join(WORK, "eventlog", run_id)
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options",
             f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)
    from lucene_solr_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=CPUS)
    return spark, time.perf_counter() - t0, evdir


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and every process under it, and wait
    for each to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    procs = [p for p in _descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    for p in procs:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.1)
        if os.path.exists(f"/proc/{p}") and time.time() >= deadline:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true",
                    help="only build the search workloads' cached index")
    args = ap.parse_args(argv)
    if not args.prepare and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    sys.path.insert(0, ROOT)
    try:
        import lucene_solr_spark  # noqa: F401  the engine under test
    except ImportError as e:
        print(f"perfbench: engine package not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.prepare:
        from workloads import build_search_index

        spark, _, _ = start_session(False, "prepare")
        try:
            build_search_index(spark, WORK)
        finally:
            stop_session(spark)
        return 0

    from spans import DriverLog, Tracer, parse_event_log
    from workloads import Run

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    for d in ("logs", "reports", "traces"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    before = machine_state()
    rss = RssSampler()
    log = DriverLog(os.path.join(WORK, "logs", run_id + ".log"))
    spark = None
    try:
        spark, session_s, evdir = start_session(bool(args.trace), run_id)
        tracer = Tracer(spark.sparkContext, bool(args.trace), log)
        run = Run(spark, tracer, args.seed, args.seconds, WORK, session_s,
                  T0)
        run.rss = rss
        run.mark("session")
        WORKLOADS[args.workload](run)
        run.mark("workload")
    finally:
        if spark is not None:
            stop_session(spark)
        log.restore()
    run.mark("stopped")
    peak_mib = rss.stop()
    codegen = log.codegen_lines()
    events = None
    if args.trace:
        tracer.dump(os.path.join(WORK, "traces", run_id + ".spans.jsonl"))
        files = os.listdir(evdir)
        events = parse_event_log(os.path.join(evdir, files[0]))

    report = run.report(peak_mib, len(codegen), events)
    report.update(workload=args.workload, seed=args.seed,
                  seconds=args.seconds, trace=args.trace,
                  machine={"before": before,
                           "after": {"loadavg": list(os.getloadavg())}})
    with open(os.path.join(WORK, "reports", run_id + ".json"), "w") as f:
        json.dump(report, f, indent=1)
    for d in run.scratch_dirs:
        shutil.rmtree(d, ignore_errors=True)
    metrics = report["per_layer"] if args.trace else report["end_to_end"]
    print(json.dumps(report))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
