"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload {ingest_sql,catalog_ops} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root.  The run generates its inputs from the seed
(cached under ``perfbench/.work``), starts Spark on ``local[<cpus>]``, sets
the session up several times, primes it, runs the workload's operations in
a closed loop with one client for at least ``--seconds`` seconds, checks
every output against DuckDB, and prints one JSON object as its last line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The workload and metric names, and the metrics' units, are
read from ``BENCHMARK.json``; ``perfbench/README.md`` says what each metric
measures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")

SETUP_REPS = 3
JVM_MEMORY = "4g"
CPUS = len(os.sched_getaffinity(0))
# A pass during which the hypervisor ran other guests for more than this
# share of the VM's CPU time is timed but not reported: on a shared host
# such a pass takes up to half as long again, for no cause in the program.
MAX_STEAL = 0.02
MIN_CLEAN_PASSES = 2
MAX_WINDOW = 2  # times --seconds: the window's limit when the host is busy


def load_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """``{name: unit}`` of the end-to-end and the per-layer metrics, as
    ``BENCHMARK.json`` at the repository root declares them."""
    spec = load_spec()
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the result."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def hermetic_env(run_dir: str) -> None:
    """Pin the environment before pyspark or the package is imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": JVM_MEMORY,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "spark-local"),
        # Spark prefers this to spark.local.dir when it is set.
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_MASTER": f"local[{CPUS}]",
        # Python workers import the package from any working directory.
        "PYTHONPATH": os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    # Import the package and ``tests`` from the repository root, not from
    # the script's own directory.
    sys.path[:] = [REPO] + [p for p in sys.path if os.path.abspath(p or ".") != BENCH_DIR]


class Session:
    """The Spark session of the run, restarted for each set-up sample."""

    def __init__(self, run_dir: str) -> None:
        self.warehouse_dir = os.path.join(run_dir, "spark-warehouse")
        self.spark = None
        self.jvm_pid = 0

    def start(self) -> float:
        """Start a session and finish its warm-up jobs; returns the seconds
        from ``get_spark`` to the first finished job."""
        from national_caseload_data_ingest_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": self.warehouse_dir,
                "spark.ui.retainedJobs": "20000",
                "spark.ui.retainedStages": "20000",
            },
        )
        self.spark.range(1000).selectExpr("sum(id)").collect()
        first_job = time.perf_counter() - t0
        # Start the Python workers too.
        self.spark.sparkContext.parallelize(range(8), 4).map(lambda x: x * x).sum()
        jvm = self.spark.sparkContext._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        return first_job

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM and its Python workers; wait for all."""
        from pyspark import SparkContext

        from perfbench.trace import ProcSampler

        kids = ProcSampler(self.jvm_pid).descendants() if self.jvm_pid else []
        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        for pid in kids + ([self.jvm_pid] if self.jvm_pid else []):
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)


def run_window(workload, seconds: float, tracer=None, sampler=None):
    """Closed loop, one client: whole passes of the workload's ops until
    ``seconds`` have passed and ``MIN_CLEAN_PASSES`` of them ran with the
    host's steal share under ``MAX_STEAL``, or ``MAX_WINDOW`` times
    ``seconds`` have passed, or the workload has no more passes; one pass at
    least.  Returns the samples and each pass's steal share."""
    from perfbench.trace import host_steal_s
    from perfbench.workloads import Sample

    samples, steal = [], []
    start = time.perf_counter()
    for pass_no, ops in enumerate(workload.passes()):
        steal0, t_pass = host_steal_s(), time.perf_counter()
        for op in ops:
            if op.before is not None:
                op.before()
            group = f"{op.kind}:{len(samples)}"
            cpu0 = sampler.worker_cpu_s() if sampler else 0.0
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    output = op.run()
                else:
                    tracer.op = group
                    with tracer.job_group(group):
                        output = op.run()
                sample = Sample(op.kind, time.perf_counter() - t0, True, output, group)
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                sample = Sample(op.kind, time.perf_counter() - t0, False, None, group)
            sample.pass_no = pass_no
            if sampler:
                sample.worker_cpu_s = sampler.worker_cpu_s() - cpu0
            log(f"{op.kind}: {sample.seconds:.3f}s{'' if sample.ok else ' FAILED'}")
            samples.append(sample)
        cpu_s = CPUS * (time.perf_counter() - t_pass)
        steal.append((host_steal_s() - steal0) / cpu_s)
        log(f"pass {pass_no}: host steal {steal[-1]:.1%}")
        elapsed = time.perf_counter() - start
        clean = sum(f < MAX_STEAL for f in steal)
        if elapsed >= seconds and (clean >= MIN_CLEAN_PASSES or elapsed >= MAX_WINDOW * seconds):
            break
    return samples, steal


def timed_samples(samples, steal: list[float]):
    """The samples of the passes the host left alone, or all of them if it
    left none alone."""
    clean = {i for i, f in enumerate(steal) if f < MAX_STEAL}
    return [s for s in samples if s.pass_no in clean] or samples


def end_to_end(setup: list[float], samples) -> dict:
    """Failed ops count with the time they took; ``failed`` reports them."""
    passes: dict[int, float] = {}
    for s in samples:
        passes[s.pass_no] = passes.get(s.pass_no, 0.0) + s.seconds
    return {
        "setup_s": statistics.median(setup),
        "pass_s": statistics.median(passes.values()),
        "op_gmean_ms": statistics.geometric_mean(s.seconds for s in samples) * 1e3,
    }


def measure(args, run_dir: str) -> dict:
    """Set up, prime, time, trace and check one workload; the result object."""
    from perfbench.oracle import Oracle
    from perfbench.trace import ProcSampler, Tracer
    from perfbench.workloads import WORKLOADS

    end_to_end_units, per_layer_units = declared_metrics()
    workload = WORKLOADS[args.workload](run_dir, Oracle(REPO))
    workload.inputs(WORK, args.seed)
    log("inputs ready")
    session = Session(run_dir)
    pool = ThreadPoolExecutor(max_workers=1)
    try:
        # The DuckDB side of the check needs only the inputs: it runs while
        # the cold session starts, whose set-up sample is never the median,
        # and ends before the next sample starts.
        expected = pool.submit(workload.expected)
        setup, first_job = [], []
        for rep in range(SETUP_REPS):
            if rep == 1:
                expected = expected.result()
                log("expected outputs ready")
            session.stop()
            t0 = time.perf_counter()
            first_job.append(session.start())
            workload.attach(session.spark)
            setup.append(time.perf_counter() - t0)
            log(f"set-up {rep}: {setup[-1]:.2f}s")
        workload.prime(session.spark)
        log("primed")

        # One window per run.  A traced run traces the very window an
        # untraced run times, in the same state, so the per-layer numbers
        # break down the end-to-end ones.
        if not args.trace:
            samples, steal = run_window(workload, args.seconds)
            log(f"timed window: {len(samples)} ops")
            metrics = end_to_end(setup, timed_samples(samples, steal))
            units = end_to_end_units
        else:
            sampler = ProcSampler(session.jvm_pid)
            tracer = Tracer(session.spark)
            workload.install_spans(tracer)
            try:
                samples, steal = run_window(workload, args.seconds, tracer, sampler)
            finally:
                tracer.uninstall()
            log(f"traced window: {len(samples)} ops")
            ok = [s for s in samples if s.ok]
            layers = workload.layer_metrics(tracer, ok, session.spark)
            unknown = set(layers) - set(per_layer_units)
            if unknown:
                raise ValueError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
            metrics = {name: 0.0 for name in per_layer_units}
            metrics.update(layers)
            op_s = sum(s.seconds for s in ok)
            metrics["trace.overhead_frac"] = tracer.cost_s / max(op_s - tracer.cost_s, 1e-9)
            metrics["session.start_s"] = statistics.median(first_job)
            metrics["session.driver_rss_mb"] = sampler.peak_rss_mb()
            metrics["host.steal_frac"] = statistics.mean(steal)
            tracer.write(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
            units = per_layer_units

        problems = workload.check(session.spark, [s for s in samples if s.ok], expected)
        log("checked")
    finally:
        pool.shutdown(cancel_futures=True)
        session.shutdown()
        log("stopped")

    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    raised = sum(1 for s in samples if not s.ok)
    failed = min(len(samples), raised + len(problems))
    return {
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    workloads = [w["name"] for w in load_spec()["workloads"]]
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        hermetic_env(run_dir)
        result = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
