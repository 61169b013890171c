"""Spans, Spark job accounting and host diagnostics for the benchmark.

Spans are recorded by the benchmark around its calls into the engine's
layers (spans inside ``grip_spark`` are out of scope).  Each op runs
under its own Spark job group per phase (``op<n>.<phase>``), so the
jobs, stages and task metrics Spark's status store keeps are
attributed to the op and phase that launched them.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError


class Tracer:
    """Per-op spans and Spark counters; a no-op when ``enabled`` is false."""

    def __init__(self, spark, cores: int, enabled: bool):
        self.spark = spark
        self.cores = cores
        self.enabled = enabled
        self.ops: list[dict] = []
        self._op: dict | None = None
        self._stack: list[str] = []
        self._phase: tuple[str, float] | None = None

    @contextlib.contextmanager
    def op(self, kind: str):
        """Wrap one op; its record lands in ``self.ops`` when tracing."""
        if not self.enabled:
            yield
            return
        rec = {"i": len(self.ops), "kind": kind, "spans": [], "groups": [],
               "counts": defaultdict(float)}
        self._op = rec
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._end_phase()
            rec["wall_ms"] = (time.perf_counter() - t0) * 1e3
            top = sum((e - s) * 1e3 for _, parent, s, e in rec["spans"] if parent is None)
            rec["unattributed_ms"] = rec["wall_ms"] - top
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self._op = None
            self._collect_jobs(rec)
            self.ops.append(rec)

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Time ``name``; with ``group``, jobs launched inside are tagged
        ``op<n>.<group>`` for Spark-side attribution."""
        if not self.enabled or self._op is None:
            yield
            return
        rec = self._op
        if group is not None:
            self._tag(group)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            rec["spans"].append((name, parent, t0, t1))

    def phase(self, name: str, group: str | None = None) -> None:
        """End the op's open phase, if any, and start ``name``: a
        top-level span lasting until the next phase or the op's end.
        For stages whose work runs after the call that starts them
        (a lazy DataFrame step and the action that materializes it)."""
        if not self.enabled or self._op is None:
            return
        self._end_phase()
        if group is not None:
            self._tag(group)
        self._phase = (name, time.perf_counter())

    def _end_phase(self) -> None:
        if self._phase is not None:
            name, t0 = self._phase
            self._op["spans"].append((name, None, t0, time.perf_counter()))
            self._phase = None

    def _tag(self, group: str) -> None:
        """Tag the jobs launched from here on ``op<n>.<group>``; jobs of
        the ``trace`` group are the tracer's own and are not counted."""
        rec = self._op
        tag = f"op{rec['i']}.{group}"
        self.spark.sparkContext.setJobGroup(tag, tag)
        if group not in rec["groups"]:
            rec["groups"].append(group)

    def count(self, name: str, value: float) -> None:
        if self.enabled and self._op is not None:
            self._op["counts"][name] += value

    def plan_shape(self, df) -> None:
        """Count nodes of the executed physical plan (the final AQE plan
        once the action has run)."""
        if self.enabled and self._op is not None:
            shape = plan_shape(df._jdf.queryExecution().executedPlan().toString())
            for k, v in shape.items():
                self.count(k, v)

    def _collect_jobs(self, rec: dict) -> None:
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.spark.sparkContext.statusTracker()
        for group in rec["groups"]:
            if group == "trace":
                continue
            jobs = tracker.getJobIdsForGroup(f"op{rec['i']}.{group}")
            c = rec["counts"]
            c[f"jobs.{group}"] += len(jobs)
            for jid in jobs:
                jd = store.job(jid)
                c["spark.jobs"] += 1
                c["spark.stages"] += jd.numCompletedStages() + jd.numFailedStages()
                c["spark.tasks"] += jd.numCompletedTasks() + jd.numFailedTasks()
                c["spark.failed_tasks"] += jd.numFailedTasks()
                sids = jd.stageIds()
                for k in range(sids.size()):
                    try:
                        sd = store.lastStageAttempt(sids.apply(k))
                    except Py4JJavaError:  # stage never submitted
                        continue
                    if sd.status().toString() == "SKIPPED":
                        continue
                    c["spark.task_busy_ms"] += sd.executorRunTime()
                    c[f"busy_ms.{group}"] += sd.executorRunTime()
                    c["spark.input_rows"] += sd.inputRecords()
                    c["spark.shuffle_bytes"] += sd.shuffleWriteBytes()
                    c["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    def cache_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() for i in infos))

    def summary(self) -> dict:
        """Per-op means of every span self time and counter, plus the
        unattributed remainder of op wall time."""
        n = max(1, len(self.ops))
        self_ms: dict[str, float] = defaultdict(float)
        total = defaultdict(float)
        for rec in self.ops:
            for name, ms in op_self_times(rec["spans"]).items():
                self_ms[name] += ms
            for k, v in rec["counts"].items():
                total[k] += v
        out = {f"{k}_ms": v / n for k, v in self_ms.items()}
        out.update({k: v / n for k, v in total.items()})
        out["trace.unattributed_ms"] = sum(r["unattributed_ms"] for r in self.ops) / n
        exec_ms = sum(_span_total(r["spans"], "spark.exec") for r in self.ops)
        out["spark.busy_frac"] = (
            total.get("busy_ms.exec", 0.0) / (exec_ms * self.cores) if exec_ms else 0.0
        )
        out["spark.rows_examined_per_result"] = (
            total.get("spark.input_rows", 0.0) / max(1.0, total.get("results.rows", 0.0))
        )
        return out


def _span_total(spans, name: str) -> float:
    return sum((t1 - t0) * 1e3 for n, _, t0, t1 in spans if n == name)


def op_self_times(spans) -> dict[str, float]:
    """Self time per span name: duration minus the time its direct
    children cover (children are recorded before their parent ends)."""
    child_ms: dict[int, float] = defaultdict(float)
    own: dict[str, float] = defaultdict(float)
    # a span's parent is the innermost open span with that name
    for idx, (name, parent, t0, t1) in enumerate(spans):
        if parent is None:
            continue
        for j in range(idx + 1, len(spans)):
            pname, _, p0, p1 = spans[j]
            if pname == parent and p0 <= t0 and t1 <= p1:
                child_ms[j] += (t1 - t0) * 1e3
                break
    for idx, (name, _, t0, t1) in enumerate(spans):
        own[name] += (t1 - t0) * 1e3 - child_ms[idx]
    return own


_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?([A-Za-z][A-Za-z0-9]*)")


def plan_shape(tree: str) -> dict[str, int]:
    """Node counts of a physical plan tree string; for an adaptive plan
    only its final plan is counted."""
    lines = tree.splitlines()
    if "== Final Plan ==" in tree:
        start = next(i for i, ln in enumerate(lines) if "== Final Plan ==" in ln)
        end = next((i for i, ln in enumerate(lines) if "== Initial Plan ==" in ln), len(lines))
        lines = lines[start + 1:end]
    counts = {"spark.plan_nodes": 0, "spark.exchanges": 0, "spark.broadcast_exchanges": 0,
              "spark.cartesian_products": 0}
    for ln in lines:
        m = _NODE.match(ln)
        if not m or "==" in ln:
            continue
        node = m.group(1)
        counts["spark.plan_nodes"] += 1
        if node in ("Exchange", "ShuffleExchange"):
            counts["spark.exchanges"] += 1
        elif node == "BroadcastExchange":
            counts["spark.broadcast_exchanges"] += 1
        elif node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            counts["spark.cartesian_products"] += 1
    return counts


class HostNoise:
    """Samples CPU steal from ``/proc/stat`` and the load average while a
    run measures; diagnostics only (another tenant's load shows here)."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.steal: list[float] = []
        self.load: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="hostnoise", daemon=True)

    @staticmethod
    def _cpu() -> tuple[int, int]:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return sum(vals), (vals[7] if len(vals) > 7 else 0)

    def _loop(self) -> None:
        total0, steal0 = self._cpu()
        while not self._stop.wait(self.interval):
            total1, steal1 = self._cpu()
            if total1 > total0:
                self.steal.append((steal1 - steal0) / (total1 - total0))
            total0, steal0 = total1, steal1
            with open("/proc/loadavg") as fh:
                self.load.append(float(fh.read().split()[0]))

    def __enter__(self) -> "HostNoise":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def report(self) -> dict:
        return {
            "steal_pct_mean": 100 * sum(self.steal) / len(self.steal) if self.steal else 0.0,
            "steal_pct_max": 100 * max(self.steal, default=0.0),
            "loadavg_1m_max": max(self.load, default=0.0),
            "samples": len(self.steal),
        }


def _stat_ticks(path: str) -> int:
    """utime + stime of a ``/proc/.../stat`` file, in clock ticks."""
    with open(path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


class CpuClock:
    """CPU seconds used so far by this process and the JVM, the JVM's
    JIT threads left out.  The kernel leaves time stolen by the
    hypervisor out of a process's CPU time, so this grows far less than
    wall time with another tenant's load.  JIT compilation runs in its
    own threads, took about half of a warm op's JVM CPU and varied most
    from run to run (how far it has got depends on the host's speed so
    far); :meth:`jit` reports it apart.  The JVM must run with
    ``-XX:-UseDynamicNumberOfCompilerThreads``, so that no compiler
    thread exits and takes its CPU time into the process total."""

    TICK = os.sysconf("SC_CLK_TCK")
    # the compilers and the code cache sweeper, named as /proc truncates them
    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")

    def __init__(self, jvm_pid: int):
        self.stat = f"/proc/{jvm_pid}/stat"
        tasks = f"/proc/{jvm_pid}/task"
        self.jit_stats = []
        for tid in os.listdir(tasks):
            try:
                with open(f"{tasks}/{tid}/comm") as fh:
                    name = fh.read().strip()
            except FileNotFoundError:  # a thread that ended since the listing
                continue
            if name in self.JIT_THREADS:
                self.jit_stats.append(f"{tasks}/{tid}/stat")
        if not self.jit_stats:
            raise RuntimeError("no JIT threads found in the JVM")

    def jit(self) -> float:
        """CPU seconds the JIT threads used so far."""
        return sum(_stat_ticks(p) for p in self.jit_stats) / self.TICK

    def __call__(self) -> float:
        return time.process_time() + (_stat_ticks(self.stat) / self.TICK - self.jit())


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of the driver Python process plus the JVM."""
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0
