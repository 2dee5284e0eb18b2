"""Tick-store benchmark: one named workload, from a seed, end to end.

    python3 perfbench/run.py --workload tick_analytics --seed 1 --seconds 20 --trace 0

Run from the repository root.  The last line of standard output is one
JSON record: ``correct``, ``attempted``, ``failed`` and ``metrics``
(every end-to-end metric of BENCHMARK.json with ``--trace 0``, every
per-layer metric with ``--trace 1``).  Everything else the run prints,
Spark's own output included, goes to standard error.

A run lives in a fresh scratch directory under ``perfbench/.work`` that
it removes on exit; a traced run also writes its spans and per-op-kind
layer figures to ``perfbench/out/trace-<workload>-<seed>.json``.
See perfbench/README.md for the workloads, metrics and settings.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)

#: untimed warm-up rounds before the timed phase: every op kind runs
#: cold once, then once more after C1 has compiled what the first ran
WARM_UP_ROUNDS = 2

#: the timed phase runs whole rounds until ``--seconds`` have passed and
#: at least this many rounds were timed, so every op kind has at least
#: this many samples for its p50
MIN_ROUNDS = 4


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="length of the timed phase")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use a small one)")
    return p.parse_args(argv)


def prepare_environment(scratch: str) -> None:
    """Confine Spark, the JVM and Python temp files to the run's scratch
    directory and size the local session for this host."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(scratch, sub))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(scratch: str):
    from kerf_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # C1 only, with compiler threads that live as long as the JVM:
            # see CpuClock
            "spark.driver.defaultJavaOptions": "-XX:TieredStopAtLevel=1 -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure to exit: kill
            proc.kill()
            proc.wait()


def _ticks(stat_path: str) -> int:
    """utime + stime of a /proc stat file, in clock ticks."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


class CpuClock:
    """CPU seconds used so far by the program: this Python process (the
    client and the folio members' request handlers) plus the driver JVM,
    whose threads run planning, code generation, GC and every Spark task.

    CPU time leaves out the time the host gives to other tenants, which
    stretches wall-clock rates of this benchmark by 30% and more between
    runs on a shared host.  Two things keep it steady as well:

    * the JVM runs C1 only (``-XX:TieredStopAtLevel=1``).  With C2, a
      one-minute session over small inputs never works off its compile
      backlog: the C2 threads take half the JVM's CPU, the ops' code
      keeps changing tier through the run, and CPU per op drifts within a
      run and differs by 10-20% between runs.  C1 reaches its steady state
      within the warm-up, at about the same wall-clock speed here;
    * the JIT compiler threads are left out: they compile in the
      background, beside whatever op is current, at a pace set by how
      busy the host is.
    """

    COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, jvm_pid: int):
        self.jvm = f"/proc/{jvm_pid}/stat"
        tasks = f"/proc/{jvm_pid}/task"
        self.compilers = []
        for tid in os.listdir(tasks):
            with open(f"{tasks}/{tid}/comm") as f:
                if f.read().strip().startswith(self.COMPILER_THREADS):
                    self.compilers.append(f"{tasks}/{tid}/stat")
        if not self.compilers:
            raise RuntimeError(f"no JIT compiler threads in JVM {jvm_pid}")
        self.tick_s = 1.0 / os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        jvm = _ticks(self.jvm) - sum(_ticks(p) for p in self.compilers)
        return time.process_time() + jvm * self.tick_s


class Runner:
    def __init__(self, workload, tracer, cpu: CpuClock):
        self.wl = workload
        self.tracer = tracer
        self.cpu = cpu
        self.attempted = 0
        self.failed = 0
        self.unexpected: list[str] = []
        #: per op kind, (seconds, CPU seconds) of each passed timed op
        self.samples: dict[str, list[tuple[float, float]]] = defaultdict(list)
        #: (op seconds, op CPU seconds, ops passed) of every timed round
        self.rounds: list[tuple[float, float, int]] = []
        self._op_ids = 0

    def execute(self, op) -> tuple[float, float, bool]:
        self._op_ids += 1
        scope = self.tracer.op_scope(self._op_ids, op.kind) if self.tracer else nullcontext()
        c0 = self.cpu()
        t0 = time.perf_counter()
        try:
            with scope:
                out = op.run()
                dt = time.perf_counter() - t0
                dc = self.cpu() - c0
            ok = bool(op.check(out))
        except Exception:  # noqa: BLE001 - an op failure is recorded, the run goes on
            dt = time.perf_counter() - t0
            dc = self.cpu() - c0
            log(f"{op.kind} raised:\n{traceback.format_exc()}")
            ok = False
        if not ok and op.kind not in self.wl.known_faults:
            self.unexpected.append(op.kind)
            log(f"{op.kind} failed its check")
        return dt, dc, ok

    def warm_up(self) -> None:
        for r in range(WARM_UP_ROUNDS):
            for op in self.wl.round(r):
                self.execute(op)

    def timed(self, seconds: float) -> None:
        r = WARM_UP_ROUNDS
        while sum(t for t, _, _ in self.rounds) < seconds or len(self.rounds) < MIN_ROUNDS:
            ops = self.wl.round(r)
            if not ops:
                log(f"pre-generated rounds ran out after {r}")
                break
            spent = cpu = 0.0
            passed = 0
            for op in ops:
                dt, dc, ok = self.execute(op)
                spent += dt
                cpu += dc
                self.attempted += 1
                if ok:
                    passed += 1
                    self.samples[op.kind].append((dt, dc))
                else:
                    self.failed += 1
            self.rounds.append((spent, cpu, passed))
            r += 1


def _geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


#: the end-to-end metrics and their units
UNITS = {"setup_s": "s", "kind_cpu_p50_geomean_s": "s"}


def end_to_end(runner: Runner, setup_s: float) -> tuple[dict[str, float], dict[str, float]]:
    """The end-to-end metrics, and figures measured beside them but not
    listed in BENCHMARK.json.

    ``kind_cpu_p50_geomean_s`` is the geometric mean of the p50 kinds'
    median CPU seconds per op.  Unlisted: ``cpu_s_per_op``, the median
    round's CPU time over its passed ops (it counts the CPU of failed ops
    too, and spread twice as wide on ``tick_analytics``), and the
    wall-clock pair ``ops_per_s`` (the median round's passed ops over its
    op time) and ``kind_p50_geomean_s``.  Medians, so that one round slowed
    by a burst of host noise moves none of them."""
    # a p50 kind without a passing sample has already made the run incorrect
    kinds = [runner.samples[k] for k in runner.wl.p50_kinds if runner.samples[k]]
    e2e = {
        "setup_s": setup_s,
        "kind_cpu_p50_geomean_s": _geomean(statistics.median(c for _, c in v) for v in kinds),
    }
    unlisted = {
        "cpu_s_per_op": statistics.median(cpu / passed for _, cpu, passed in runner.rounds),
        "ops_per_s": statistics.median(passed / spent for spent, _, passed in runner.rounds),
        "kind_p50_geomean_s": _geomean(statistics.median(t for t, _ in v) for v in kinds),
    }
    return e2e, unlisted


def run(args, out) -> int:
    from trace import LAYER_METRICS, WRITE_METRICS, Tracer
    from workloads import WORKLOADS, Ctx, TickIngest

    scratch = os.path.join(BENCH_DIR, ".work", f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    spark = workload = tracer = None
    try:
        prepare_environment(scratch)
        t0 = time.perf_counter()
        spark = start_session(scratch)
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark=spark, seed=args.seed, scale=args.scale)
        cls = WORKLOADS[args.workload]
        workload = cls(ctx, rounds=WARM_UP_ROUNDS + MIN_ROUNDS + int(args.seconds)) if cls is TickIngest else cls(ctx)
        t0 = time.perf_counter()
        workload.build(os.path.join(scratch, "build"))
        build_s = time.perf_counter() - t0
        if args.trace:
            tracer = ctx.tracer = Tracer(spark)
            tracer.patch_layers()
        runner = Runner(workload, tracer, CpuClock(spark.sparkContext._gateway.proc.pid))
        t0 = time.perf_counter()
        runner.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + build_s + warm_s
        if tracer:
            tracer.ops.clear()
            tracer.spans.clear()
        runner.timed(args.seconds)
        final_ok, state = workload.finish()
        e2e, unlisted = end_to_end(runner, setup_s)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "round_s": [spent for spent, _, _ in runner.rounds],
            "round_cpu_s": [cpu for _, cpu, _ in runner.rounds],
            "session_s": session_s,
            "build_s": build_s,
            "warm_up_s": warm_s,
            "end_to_end": e2e,
            "unlisted": unlisted,
            "kinds": {
                k: {
                    "passed": len(v),
                    "p50_s": statistics.median(t for t, _ in v),
                    "cpu_p50_s": statistics.median(c for _, c in v),
                }
                for k, v in sorted(runner.samples.items())
            },
            "unexpected_failures": runner.unexpected,
            "final_check": final_ok,
            **state,
        }
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
        if tracer:
            layers = tracer.layer_metrics(state)
            metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_METRICS.items()}
            detail["write_path"] = {k: layers[k] for k in WRITE_METRICS}
            tracer.write(os.path.join(BENCH_DIR, "out", f"trace-{args.workload}-{args.seed}.json"), detail)
        log("detail " + json.dumps(detail))
        record = {
            "correct": final_ok and not runner.unexpected,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": metrics,
        }
        out.write(json.dumps(record) + "\n")
        out.flush()
        return 0
    finally:
        try:
            if tracer:
                tracer.unpatch()
            if workload:
                workload.close()
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)


def main(argv=None) -> int:
    sys.path.insert(0, BENCH_DIR)
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    # Spark, py4j and the JVM inherit fd 1 from here on: point it at
    # stderr so only the record reaches standard output
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.path.insert(0, REPO_ROOT)
    try:
        import kerf_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import kerf_spark from {REPO_ROOT}: {exc}")
        return 2
    return run(args, out)


if __name__ == "__main__":
    sys.exit(main())
