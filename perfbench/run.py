"""Benchmark of the transcript extraction job, one workload per invocation.

    python3 perfbench/run.py --workload pipeline_default --seed 1 --seconds 10 --trace 0

Closed loop: one client runs one job at a time on ``local[<nproc>]`` in
this single driver process, for ``--seconds`` after two untimed warm-up
jobs, and checks every job's output. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; ``attempted``
and ``failed`` count jobs. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones (see perfbench/README.md), measured
from outside the program. Everything the run writes stays under
``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

import bench  # noqa: E402
from ocr_spark.session import get_spark  # noqa: E402
from perfbench.probes import (  # noqa: E402
    PlanCapture,
    RssSampler,
    Tracer,
    descendants,
    digest_equal,
    warm_body,
)
from perfbench.workloads import LAYER_REPS, PER_LAYER, WORKLOADS, Ctx, Outcome  # noqa: E402

# Session starts per run, setup_s is their median: the first launches the
# JVM, the others restart the session in it (the run's time budget has no
# room for several JVM launches; the cold start is reported in the trace).
SESSIONS = 3
WARMUP_JOBS = 2  # untimed; the JIT still speeds jobs up well after the first
MIN_REPS = 3
HEAP = "2g"

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "turns_per_s": "turns/s",
    "failed_share": "ratio",
    "peak_rss_mb": "MB",
}


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def confine(work: str) -> dict:
    """Point every scratch location of Python, the JVM and Spark into
    ``work``; return the Spark conf that does the JVM side."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM that spark-submit runs first to build the driver's command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import ocr_spark whatever their working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # The heap is fixed and touched at launch: a lazily grown heap made
    # the peak RSS of one run differ from the next by up to 1.5 GB.
    return {
        "spark.driver.memory": HEAP,
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch"
        ),
    }


def start_session(nproc: int, conf: dict, tracer: Tracer):
    """Start the session (and the JVM, if none runs), then the warm-up job
    that spawns every Python worker with pandas/numpy imported.
    Returns ``(spark, start_s, warmup_s)``."""
    with tracer.span("session.start"):
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{nproc}]", extra_conf=conf)
        t1 = time.perf_counter()
    with tracer.span("session.warmup"):
        warm = F.pandas_udf(warm_body, T.LongType())
        bench.materialize(spark.range(0, 100_000, 1, nproc).select(warm(F.col("id"))))
        t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def stop_session(spark) -> None:
    """Stop the session and its gateway JVM; wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits at EOF on stdin
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def _ended(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"


def reap(pids: list[int]) -> None:
    """Wait until every process in ``pids`` and every remaining descendant
    has ended (the Python workers are the JVM's children, so they are
    listed before the JVM stops); kill what still runs after 30 s."""
    deadline = time.monotonic() + 30
    while alive := [p for p in set(pids) | set(descendants(os.getpid())[1:]) if not _ended(p)]:
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.1)


class Runner:
    """Runs jobs of one workload and keeps the correctness record."""

    def __init__(self, ctx: Ctx, workload):
        self.ctx, self.w = ctx, workload
        self.reference = None
        self.attempted = self.failed = self.failed_turns = 0
        self.problems: list[str] = []

    def job(self) -> Outcome:
        t0 = time.perf_counter()
        try:
            o = self.w.run(self.ctx)
        except Exception as e:  # a failing job is counted, the run goes on
            o = Outcome(time.perf_counter() - t0, {}, 0, [f"job raised {e!r}"[:500]])
        if not o.problems:
            if self.reference is None:
                self.reference = o.digests
            elif any(not digest_equal(o.digests[k], v) for k, v in self.reference.items()):
                o.problems.append("output digest differs from the first job's")
        self.attempted += 1
        if o.problems:
            self.failed += 1
            self.problems += o.problems
            o.failed_turns = self.w.extract_turns
        self.failed_turns += o.failed_turns
        return o

    def final_check(self, last: Outcome) -> None:
        """Sample and output checks once per run; a failure fails every job."""
        try:
            bad = self.w.final_check(self.ctx, last)
        except Exception as e:
            bad = [f"final check raised {e!r}"[:500]]
        if bad:
            self.problems += bad
            self.failed = self.attempted
            self.failed_turns = self.attempted * self.w.extract_turns

    def summary(self, metrics: dict) -> dict:
        for p in self.problems[:20]:
            print(f"perfbench: {p}", file=sys.stderr)
        return {
            "correct": not self.problems,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


def measure(runner: Runner, seconds: float) -> tuple[list[Outcome], float]:
    """``WARMUP_JOBS`` untimed jobs, then jobs until ``seconds`` have passed
    (at least ``MIN_REPS``). Returns the timed jobs and peak tree RSS."""
    with RssSampler() as rss:
        for _ in range(WARMUP_JOBS):
            log(f"warm-up job {runner.job().seconds:.2f}s")
        reps: list[Outcome] = []
        deadline = time.perf_counter() + seconds
        while len(reps) < MIN_REPS or time.perf_counter() < deadline:
            reps.append(runner.job())
    return reps, rss.peak


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    nproc = len(os.sched_getaffinity(0))
    conf = confine(WORK)
    run_id = f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    layers: dict = {}
    if args.trace:
        # before any JVM thread exists: the probe forks its workers
        layers["host.cores"] = nproc
        layers["host.memcpy_gbs"] = bench.host_memcpy_probe(n_proc=nproc)

    spark, samples = None, []
    try:
        for _ in range(SESSIONS):
            if spark is not None:
                spark.stop()
            spark, start_s, warmup_s = start_session(nproc, conf, tracer)
            samples.append((start_s, warmup_s))
            log(f"session start {start_s:.2f}s, warm-up {warmup_s:.2f}s")
        ctx = Ctx(spark, args.seed, nproc, WORK, tracer)
        workload = WORKLOADS[args.workload]()
        with tracer.span("prepare"):
            workload.prepare(ctx)
        log(f"inputs ready: {workload.turns} turns")
        runner = Runner(ctx, workload)

        if not args.trace:
            reps, peak_rss = measure(runner, args.seconds)
            log(f"{len(reps)} timed jobs: " + " ".join(f"{o.seconds:.2f}" for o in reps))
            runner.final_check(reps[-1])
            log("final check done")
            job_s = statistics.median(o.seconds for o in reps)
            values = {
                "setup_s": statistics.median(s + w for s, w in samples),
                "job_s": job_s,
                "turns_per_s": workload.turns / job_s,
                "failed_share": runner.failed_turns / (runner.attempted * workload.extract_turns),
                "peak_rss_mb": peak_rss / 1e6,
            }
            units = END_TO_END
        else:
            tracer.enabled = False
            for _ in range(WARMUP_JOBS):
                runner.job()
            untraced = statistics.median(runner.job().seconds for _ in range(LAYER_REPS))
            capture = PlanCapture(spark)
            tracer.enabled = True
            traced = []
            for i in range(LAYER_REPS):
                with tracer.span("job", rep=i):
                    last = runner.job()
                traced.append(last.seconds)
                plans = capture.drain()
            layers["trace.overhead_s"] = statistics.median(traced) - untraced
            layers["session.cold_s"] = sum(samples[0])
            layers["session.start_s"] = statistics.median(s for s, _ in samples)
            layers["session.warmup_s"] = statistics.median(w for _, w in samples)
            layers.update(workload.layers(ctx, plans, untraced, last, capture))
            runner.final_check(last)
            tracer.write(os.path.join(WORK, "traces", f"{run_id}.jsonl"))
            values, units = layers, PER_LAYER
        result = runner.summary(
            {k: {"value": float(values.get(k, 0)), "unit": u} for k, u in units.items()}
        )
    finally:
        started = descendants(os.getpid())[1:]
        if spark is not None:
            stop_session(spark)
        reap(started)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
