"""Traced-mode instrumentation: spans and per-layer counters.

Everything here is taken from the benchmark's side of each layer's
public functions: wrappers time the calls and count the Spark jobs they
start, Spark's stage figures come from its status store, and the server
figures from wrapping ``KerfClient.execute``.  Nothing in the program is
changed.  With tracing off the benchmark never builds a ``Tracer``, so
untraced runs pay for none of it.

Spans (name, start, end, parent, op id) stay in memory and are written
as one JSON file when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: per-layer metrics, in the order the record prints them
LAYER_METRICS = {
    "kerfsql.construct_s": "s",
    "kerfsql.eager_jobs": "count",
    "asof.construct_s": "s",
    "asof.eager_jobs": "count",
    "windows.construct_s": "s",
    "windows.eager_jobs": "count",
    "spark.plan_s": "s",
    "spark.execute_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.peak_rss_mb": "MB",
    "catalog.lookup_files_read": "count",
    "catalog.live_files": "count",
    "catalog.stored_bytes_per_row": "B",
    "server.member_requests": "count",
    "server.wire_bytes": "B",
    "server.member_rtt_s": "s",
    "server.coordinator_s": "s",
}

#: the catalog write path's figures: only ``tick_ingest`` writes, and it
#: is not a listed workload, so these go to the trace file and the
#: ``detail`` line, not the record
WRITE_METRICS = {
    "catalog.jobs_per_append": "count",
    "catalog.jobs_per_upsert": "count",
    "catalog.jobs_per_delete": "count",
    "catalog.files_rewritten": "count",
    "catalog.bytes_written_per_row": "B",
}


class SparkProbe:
    """Job ids and stage figures of one SparkContext, read over py4j."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def stage_totals(self, first_job: int, end_job: int) -> dict[str, float]:
        """Summed figures of the stages that jobs ``[first_job,
        end_job)`` ran; stages skipped by shuffle reuse count nothing."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        out = dict.fromkeys(
            ("jobs", "tasks", "shuffle_bytes", "spill_bytes", "gc_s", "executor_cpu_s"), 0.0
        )
        seen: set[int] = set()
        for jid in range(first_job, end_job):
            out["jobs"] += 1
            ids = store.job(jid).stageIds().mkString(",")
            for sid in (int(x) for x in ids.split(",") if x):
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        return out

    def peak_rss_mb(self) -> float:
        pid = int(self._jvm.java.lang.ProcessHandle.current().pid())
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM line for the driver JVM")


class Tracer:
    """Spans plus per-op layer counters for one traced run."""

    def __init__(self, spark):
        self.probe = SparkProbe(spark)
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op: dict | None = None  # the op in flight (closed loop: one)
        self.ops: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        parent = stack[-1] if stack else (self.op["span"] if self.op else None)
        start = time.perf_counter()
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            with self._lock:
                self.spans.append(
                    {
                        "id": sid,
                        "name": name,
                        "start": start,
                        "end": time.perf_counter(),
                        "parent": parent,
                        "op": self.op["id"] if self.op else None,
                    }
                )

    def add(self, metric: str, value: float) -> None:
        if self.op is not None:
            with self._lock:
                self.op["layers"][metric] += value

    # -- one op ------------------------------------------------------
    @contextmanager
    def op_scope(self, op_id: int, kind: str):
        rec = {"id": op_id, "kind": kind, "span": None, "layers": defaultdict(float)}
        j0 = self.probe.next_job_id()
        self.op = rec
        t0 = time.perf_counter()
        try:
            with self.span(f"op:{kind}"):
                rec["span"] = self._local.stack[-1]
                yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self.op = None
            rec["layers"].update(
                {f"spark.{k}": v for k, v in self.probe.stage_totals(j0, self.probe.next_job_id()).items()}
            )
            self.ops.append(rec)

    def timed_call(self, layer: str, fn, *args, **kwargs):
        """Run ``fn`` as a span of ``layer``; add its wall time and the
        Spark jobs it started to the op's ``<layer>.construct_s`` and
        ``<layer>.eager_jobs``."""
        j0 = self.probe.next_job_id()
        t0 = time.perf_counter()
        with self.span(f"{layer}.{getattr(fn, '__name__', 'call')}"):
            out = fn(*args, **kwargs)
        self.add(f"{layer}.construct_s", time.perf_counter() - t0)
        self.add(f"{layer}.eager_jobs", self.probe.next_job_id() - j0)
        self.add(f"{layer}.calls", 1)
        return out

    def plan_and_collect(self, df):
        """Split a read into Catalyst planning and execution."""
        t0 = time.perf_counter()
        with self.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        t1 = time.perf_counter()
        with self.span("spark.execute"):
            out = df.toPandas()
        self.add("spark.plan_s", t1 - t0)
        self.add("spark.execute_s", time.perf_counter() - t1)
        self.add("spark.reads", 1)
        return out

    # -- module patches (traced runs only) ----------------------------
    def patch(self, owner, attr: str, wrapper_factory) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper_factory(orig)))

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def patch_layers(self) -> None:
        """Wrap the entry points that the benchmark reaches only through
        another layer: ``asof_join`` (called by kerf-SQL and by folio
        members) and ``KerfClient.execute`` (called by the folio
        functions)."""
        from kerf_spark import server
        from kerf_spark.operators import asof

        tracer = self

        def asof_wrapper(orig):
            def wrapped(*a, **k):
                return tracer.timed_call("asof", orig, *a, **k)

            return wrapped

        def execute_wrapper(orig):
            def wrapped(client, *a, **k):
                t0 = time.perf_counter()
                with tracer.span("server.member_request"):
                    resp = orig(client, *a, **k)
                rtt = time.perf_counter() - t0
                tracer.add("server.member_requests", 1)
                tracer.add("server.member_rtt_s", rtt)
                tracer.add("server.wire_bytes", int(resp.get("nbytes", 0)) if resp.get("kind") == "arrow" else 0)
                with tracer._lock:
                    if tracer.op is not None:
                        tracer.op["layers"]["server.max_rtt_s"] = max(
                            tracer.op["layers"]["server.max_rtt_s"], rtt
                        )
                return resp

            return wrapped

        self.patch(asof, "asof_join", asof_wrapper)
        self.patch(server.KerfClient, "execute", execute_wrapper)

    # -- results -----------------------------------------------------
    def layer_metrics(self, end_state: dict[str, float]) -> dict[str, float]:
        """Per-op means of every layer metric over the ops that touched
        the layer (0 where no op did), plus run-end state figures."""
        tot: dict[str, float] = defaultdict(float)
        n: dict[str, int] = defaultdict(int)
        for rec in self.ops:
            L = rec["layers"]
            for metric, value in L.items():
                tot[metric] += value
            for layer in ("kerfsql", "asof", "windows"):
                if L.get(f"{layer}.calls"):
                    n[layer] += 1
            if L.get("spark.reads"):
                n["reads"] += 1
            if L.get("server.member_requests"):
                n["statements"] += 1
                tot["server.coordinator_s"] += rec["wall_s"] - L["server.max_rtt_s"]
            n[rec["kind"]] += 1
        ops = len(self.ops)

        def mean(metric: str, base: int) -> float:
            return tot[metric] / base if base else 0.0

        out: dict[str, float] = {}
        for layer in ("kerfsql", "asof", "windows"):
            out[f"{layer}.construct_s"] = mean(f"{layer}.construct_s", n[layer])
            out[f"{layer}.eager_jobs"] = mean(f"{layer}.eager_jobs", n[layer])
        out["spark.plan_s"] = mean("spark.plan_s", n["reads"])
        out["spark.execute_s"] = mean("spark.execute_s", n["reads"])
        for k in ("jobs", "tasks", "shuffle_bytes", "spill_bytes", "gc_s", "executor_cpu_s"):
            out[f"spark.{k}"] = mean(f"spark.{k}", ops)
        out["spark.peak_rss_mb"] = self.probe.peak_rss_mb()
        for kind in ("append", "upsert", "delete"):
            out[f"catalog.jobs_per_{kind}"] = mean(f"catalog.jobs_{kind}", n[kind])
        writes = n["append"] + n["upsert"] + n["delete"]
        out["catalog.files_rewritten"] = mean("catalog.files_written", writes)
        out["catalog.bytes_written_per_row"] = mean("catalog.bytes_written", int(tot["catalog.rows_written"]))
        out["catalog.lookup_files_read"] = mean("catalog.lookup_files", int(tot["catalog.lookups"]))
        out["catalog.live_files"] = end_state.get("live_files", 0.0)
        out["catalog.stored_bytes_per_row"] = end_state.get("stored_bytes_per_row", 0.0)
        out["server.member_requests"] = mean("server.member_requests", n["statements"])
        out["server.wire_bytes"] = mean("server.wire_bytes", n["statements"])
        out["server.member_rtt_s"] = mean("server.member_rtt_s", int(tot["server.member_requests"]))
        out["server.coordinator_s"] = mean("server.coordinator_s", n["statements"])
        assert set(out) == set(LAYER_METRICS) | set(WRITE_METRICS)
        return out

    def per_kind(self) -> dict[str, dict[str, float]]:
        """Per-op-kind means of every raw counter (the trace file's
        breakdown behind the record's per-op means)."""
        acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        cnt: dict[str, int] = defaultdict(int)
        for rec in self.ops:
            cnt[rec["kind"]] += 1
            acc[rec["kind"]]["wall_s"] += rec["wall_s"]
            for metric, value in rec["layers"].items():
                acc[rec["kind"]][metric] += value
        return {k: {m: v / cnt[k] for m, v in sorted(d.items())} | {"ops": cnt[k]} for k, d in acc.items()}

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.spans]
        with open(path, "w") as f:
            json.dump({**extra, "per_kind": self.per_kind(), "spans": spans}, f, indent=1)
