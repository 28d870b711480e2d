"""Crawl benchmark: one workload, measured end to end or traced per layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload bulk_crawl --seed 1 --seconds 10 --trace 0

Protocol, in one process on ``local[4]``:

1. set-up: start the SparkSession, build the workload's corpus from the
   seed (three times, each into a fresh directory; the last is kept),
   pretouch it into the page cache, build the engine-side state (a
   catalog), then crawl until the per-crawl Spark job count repeats
   exactly (the engine's process-global caches change the job plan across
   the first crawls). ``setup_s`` is the wall time of all of it, counting
   the median corpus build once.
2. measure: crawl back to back (one client, closed loop) until
   ``--seconds`` have passed. The first of the two crawls with the same
   job count is the first measured one, unless it is the process's first
   crawl, which pays the cold start and is never measured. Every crawl,
   warm-up included, goes through the output oracle; a crawl that raises
   or fails it counts as failed.
3. ``--trace 1`` alternates untraced and traced crawls while measuring,
   reports the per-layer metrics of the traced ones and the tracing
   overhead, then runs the single-core extraction kernel microbench.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). The line before it is a compact headline. Spans
and the per-crawl detail go to ``.perfbench_out/`` in the repository root.
All scratch state lives in ``.perfbench_work/`` there and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
INPUT_BUILDS = 3
MAX_WARMUP = 6  # crawls allowed before the job count must have repeated
MAX_FAILURES = 3  # stop measuring after this many failed crawls
HEAP = "2g"  # JVM heap, minimum and maximum


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark():
    """The engine's standard session, with every scratch path in WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    from upton_spark.plans.session import get_spark

    return get_spark(
        "perfbench", cores=4, shuffle_partitions=4,
        extra_conf={
            # no hsperfdata file in the system temp directory; a heap fixed
            # at its maximum keeps heap resizing out of the timings and makes
            # peak RSS repeatable
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


@dataclass
class Attempt:
    crawl_id: int
    start: float
    traced: bool
    jobs: int
    crawl: object | None  # workloads.Crawl, None when the crawl failed


class Runner:
    """Runs, checks and records the crawls of one workload."""

    def __init__(self, workload, expected, tracer):
        self.workload = workload
        self.expected = expected
        self.tracer = tracer
        self.attempts: list[Attempt] = []
        self.failed = 0
        self.problems: list[str] = []

    def record(self, c, problems) -> None:
        if problems:
            self.failed += 1
            self.problems += problems[:3]

    def one(self, traced: bool) -> Attempt:
        """One checked crawl."""
        self.tracer.crawl_id += 1
        start = time.perf_counter()
        try:
            with self.tracer.bloom_builds() if traced else contextlib.nullcontext():
                c = self.workload.crawl(self.tracer, traced)
            problems = self.workload.check(self.expected, c)
        except Exception as e:  # a crawl that raises is a failed crawl
            c, problems = None, [f"{type(e).__name__}: {e}"]
        self.record(c, problems)
        self.tracer.count(self.tracer.crawl_id)
        jobs = sum(s.jobs for s in self.tracer.spans if s.crawl_id == self.tracer.crawl_id)
        a = Attempt(self.tracer.crawl_id, start, traced, jobs, None if problems else c)
        self.attempts.append(a)
        return a

    def run(self, seconds: float, trace: bool) -> int:
        """Crawl until warm, then for ``seconds``; returns the index of the
        first measured attempt. Warm means two successive crawls ran the
        same number of Spark jobs; the first of the two is measured unless
        it is the process's first (cold) crawl."""
        first = None
        while self.failed < MAX_FAILURES:
            a = self.attempts
            if first is None and len(a) >= 2 and a[-1].crawl and a[-2].crawl \
                    and a[-1].jobs == a[-2].jobs:
                first = max(len(a) - 2, 1)
            if first is None and len(a) > MAX_WARMUP:
                raise RuntimeError("Spark job count never repeated during warm-up")
            n_traced = sum(x.traced for x in a[first:]) if first is not None else 0
            n_plain = len(a) - first - n_traced if first is not None else 0
            if first is not None and time.perf_counter() - a[first].start >= seconds \
                    and (n_traced or not trace):
                break
            self.one(traced=trace and first is not None and n_plain > n_traced)
        return first if first is not None else len(self.attempts)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import kernels, oracle, report
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    shutil.rmtree(WORK, ignore_errors=True)
    t0 = time.perf_counter()
    spark = start_spark()
    try:
        session_s = time.perf_counter() - t0
        workload = WORKLOADS[args.workload](spark, args.seed)
        builds = []
        for k in range(INPUT_BUILDS):
            root = os.path.join(WORK, f"inputs_{k}")
            t = time.perf_counter()
            workload.build_inputs(root)
            builds.append(time.perf_counter() - t)
            if k + 1 < INPUT_BUILDS:
                shutil.rmtree(root)
        workload.open()
        expected = oracle.expected_rows(workload.spec, workload.corpus_path)
        oracle.self_check(expected)

        tracer = Tracer(spark.sparkContext)
        runner = Runner(workload, expected, tracer)
        first = runner.run(args.seconds, bool(args.trace))
        measured = [a for a in runner.attempts[first:] if a.crawl]
        if not measured:
            raise RuntimeError(f"no crawl passed the oracle: {runner.problems}")
        # set-up is everything before the first measured crawl, counting
        # one input build (the median) instead of all of them
        setup_s = measured[0].start - t0 - (sum(builds) - statistics.median(builds))
        untraced = [(a.crawl_id, a.crawl) for a in measured if not a.traced]
        traced = [(a.crawl_id, a.crawl) for a in measured if a.traced]
        jobs_seen = [a.jobs for a in measured]
        peak_rss = jvm_peak_rss_mb(spark)
        micro = kernels.microbench(spark, workload) if args.trace else {}
        summary = report.summarize(tracer, untraced, traced, setup_s, peak_rss, micro)
        attempted = len(runner.attempts)
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "session_s": session_s, "input_builds_s": builds,
            "warmup_crawl_s": [a.crawl.wall_s for a in runner.attempts[:first] if a.crawl],
            "crawl_s": [c.wall_s for _, c in untraced],
            "crawl_cpu_s": [c.cpu_s for _, c in untraced],
            "traced_crawl_s": [c.wall_s for _, c in traced],
            "jobs_per_crawl": [a.jobs for a in runner.attempts],
            "jobs_repeat": len(set(jobs_seen)) == 1,
            "problems": runner.problems, "metrics": summary,
            "spans": tracer.dump() if args.trace else [],
        }
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    os.makedirs(OUT, exist_ok=True)
    out_path = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(detail, f, indent=1)
    metrics = report.select(summary, trace=bool(args.trace))
    print(report.headline(args.workload, summary, attempted, runner.failed,
                          os.path.relpath(out_path, ROOT)))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
