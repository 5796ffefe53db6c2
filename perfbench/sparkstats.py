"""Probes the benchmark reads from outside the program.

- ``RssSampler``: peak resident memory of the driver JVM plus every
  process under it (the Python workers), sampled from ``/proc``.
- ``Tracer``: per-op spans and Spark engine counters for the traced run.
  Jobs are attributed to an op by the scheduler's job-id range around
  each phase (streaming micro-batches run on their own thread, so a job
  group alone would miss them); every phase also carries a job group
  named after its op. Job and stage figures come from the status store,
  Python worker figures from the SQL status store, and Catalyst phase
  times from a ``QueryExecutionListener`` registered through Py4J.

Spans stay in memory (``Tracer.spans``) and are written by the caller
when the run ends. Times are wall-clock epoch seconds so that the
status store's millisecond timestamps line up with the Python side.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time

PHASES = ("analysis", "optimization", "planning")

# SQL metric name -> record key, for the Python-evaluation nodes.
_PY_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}
_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,()]*),(\d+),(\w+)\)")

#: Keys summed over an op's jobs, stages and executions.
COUNTERS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "input_bytes", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", *_PY_METRICS.values(), *(f"{p}_s" for p in PHASES),
)


def parse_metric_value(text: str) -> float:
    """Parse a SQL metric as the status store formats it: ``"1,000"``,
    ``"13.0 KiB"``, ``"20 ms"``, or the multi-task form whose second
    line starts with the total (``"total (min, med, max ...)\\n1.7 s (...)"``)."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    parts = text.split()
    value = float(parts[0].replace(",", ""))
    if len(parts) > 1 and parts[1] in _UNITS:
        value *= _UNITS[parts[1]]
    return value


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def tree_rss_bytes(root: int, include_root: bool = True) -> int:
    """Resident bytes of ``root``'s descendants (and of ``root`` itself
    unless ``include_root`` is false), read from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root] if include_root else list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def _vm_hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the resident memory of ``root`` and its descendants on a
    background thread; ``stop()`` returns the peak in bytes (at least the
    kernel's own high-water mark for ``root``)."""

    def __init__(self, root: int, period_s: float = 0.5):
        self.root, self.period_s, self.peak = root, period_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.period_s):
                return

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return max(self.peak, _vm_hwm_bytes(self.root))


class _PhaseListener:
    """``QueryExecutionListener`` implemented in Python: records the
    Catalyst phase times of every executed query."""

    def __init__(self):
        self.lock = threading.Lock()
        self.rows: list[dict[str, float]] = []

    def _record(self, qe) -> None:
        try:
            phases = qe.tracker().phases()
            row = {
                f"{p}_s": phases.apply(p).durationMs() / 1e3 if phases.contains(p) else 0.0
                for p in PHASES
            }
        except Exception:  # noqa: BLE001 - a listener must never fail the query
            return
        with self.lock:
            self.rows.append(row)

    def take(self) -> list[dict[str, float]]:
        with self.lock:
            rows, self.rows = self.rows, []
        return rows

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java interface
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java interface
        self._record(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class StatusStore:
    """JSON views of the status stores. Jackson with the Scala module
    serializes one store object per Py4J call instead of one call per
    field."""

    def __init__(self, spark):
        self.jvm = jvm = spark.sparkContext._jvm
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(scala.__getattr__("MODULE$"))

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def job_count(self) -> int:
        return self.jsc.dagScheduler().numTotalJobs()

    def persistent_ids(self) -> set[int]:
        """Ids of the RDDs persisted now. The map is weak-valued, so an
        unreferenced RDD leaves it whenever the JVM collects it; count
        builds as new ids, never as a change in its size."""
        return set(self._json(self.jsc.getPersistentRDDs().keySet()))

    def storage_bytes(self) -> int:
        return sum(e["memoryUsed"] + e["diskUsed"] for e in self._json(self.store.executorList(True)))

    def retained_bytes(self, jvm_pid: int) -> dict[str, int]:
        """Memory the session still holds: JVM heap and non-heap in use
        after full collections, and the resident memory of the Python
        workers under the JVM. A collection lets the context cleaner see
        unreachable broadcasts and shuffles, whose blocks only a later
        one frees, so the heap is the least of three spaced readings."""
        mx = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        heap = []
        for _ in range(3):
            self.jvm.System.gc()
            heap.append(mx.getHeapMemoryUsage().getUsed())
            time.sleep(0.5)
        return {
            "heap": min(heap),
            "non_heap": mx.getNonHeapMemoryUsage().getUsed(),
            "python_workers": tree_rss_bytes(jvm_pid, include_root=False),
        }

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far,
        so the stores and the phase listener are complete."""
        self.jsc.listenerBus().waitUntilEmpty()

    def job(self, job_id: int) -> dict | None:
        try:
            return self._json(self.store.job(job_id))
        except Exception:  # noqa: BLE001 - evicted or never registered
            return None

    def stage(self, stage_id: int) -> dict | None:
        try:
            return self._json(self.store.lastStageAttempt(stage_id))
        except Exception:  # noqa: BLE001 - evicted or never run
            return None

    def execution_count(self) -> int:
        return self.sql.executionsCount()

    def python_metrics(self, first: int, count: int) -> dict[str, float]:
        """Sum the Python worker metrics of the SQL executions at list
        positions ``[first, first + count)``."""
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        if count <= 0:
            return out
        executions = self.sql.executionsList(first, count)
        for i in range(executions.size()):
            ex = executions.apply(i)
            wanted = {
                acc: _PY_METRICS[name]
                for name, acc, _kind in _PLAN_METRIC.findall(ex.metrics().toString())
                if name in _PY_METRICS
            }
            if not wanted:
                continue
            values = self._json(self.sql.executionMetrics(ex.executionId()))
            for acc, key in wanted.items():
                if acc in values:
                    out[key] += parse_metric_value(values[acc])
        return out


class Tracer:
    """Runs ops with spans and engine counters. ``op()`` returns the op
    record; ``spans`` holds every span of the run."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.status = StatusStore(spark)
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _PhaseListener()
        spark._jsparkSession.listenerManager().register(self.listener)
        self.spans: list[dict] = []
        self._seq = 0

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self.listener)

    def _span(self, span_id, parent, name, start, end, **extra) -> dict:
        span = {"id": span_id, "parent": parent, "name": name, "start": start, "end": end, **extra}
        self.spans.append(span)
        return span

    def op(self, name: str, module: str, build, sink) -> tuple[float, dict]:
        """Time ``sink(build())`` as one op and read what it cost."""
        st = self.status
        self._seq += 1
        op_id = f"op{self._seq}"
        st.drain()
        self.listener.take()
        x0, p0 = st.execution_count(), st.persistent_ids()
        j0 = st.job_count()
        self.sc.setJobGroup(op_id, f"{name} build")
        t0 = time.time()
        df = build()
        t1 = time.time()
        j1 = st.job_count()
        self.sc.setJobGroup(op_id, f"{name} sink")
        sink(df)
        t2 = time.time()
        j2 = st.job_count()
        self.sc._jsc.clearJobGroup()
        st.drain()

        rec = dict.fromkeys(COUNTERS, 0.0)
        rec.update(name=name, module=module, op_id=op_id, start=t0, end=t2,
                   build_s=t1 - t0, sink_s=t2 - t1, build_jobs=j1 - j0)
        root = self._span(f"{op_id}", None, name, t0, t2, op_id=op_id)
        phases = {
            "build": self._span(f"{op_id}.build", root["id"], "build", t0, t1, op_id=op_id),
            "sink": self._span(f"{op_id}.sink", root["id"], "sink", t1, t2, op_id=op_id),
        }
        job_iv: dict[str, list[tuple[float, float]]] = {"build": [], "sink": []}
        stage_ids: set[int] = set()
        for job_id in range(j0, j2):
            job = st.job(job_id)
            if job is None or job.get("submissionTime") is None:
                continue
            phase = "build" if job_id < j1 else "sink"
            start = job["submissionTime"] / 1e3
            end = (job.get("completionTime") or t2 * 1e3) / 1e3
            job_iv[phase].append((start, end))
            self._span(f"{op_id}.job{job_id}", phases[phase]["id"], f"job {job_id}",
                       start, end, op_id=op_id, stages=job.get("stageIds", []))
            stage_ids.update(job.get("stageIds", []))
            rec["jobs"] += 1
        for stage_id in stage_ids:
            stage = st.stage(stage_id)
            if stage is None or not stage.get("numCompleteTasks"):
                continue  # skipped: its shuffle output was reused
            rec["stages"] += 1
            rec["tasks"] += stage["numCompleteTasks"]
            rec["task_run_s"] += stage["executorRunTime"] / 1e3
            rec["task_cpu_s"] += stage["executorCpuTime"] / 1e9
            rec["gc_s"] += stage["jvmGcTime"] / 1e3
            rec["input_bytes"] += stage["inputBytes"]
            rec["output_bytes"] += stage["outputBytes"]
            rec["shuffle_read_bytes"] += stage["shuffleReadBytes"]
            rec["shuffle_write_bytes"] += stage["shuffleWriteBytes"]
            rec["spill_bytes"] += stage["memoryBytesSpilled"] + stage["diskBytesSpilled"]
        rec.update(st.python_metrics(x0, st.execution_count() - x0))
        for row in self.listener.take():
            for key, value in row.items():
                rec[key] += value
        try:  # the returned plan's own analysis, done while building
            phases_map = df._jdf.queryExecution().tracker().phases()
            if phases_map.contains("analysis"):
                rec["analysis_s"] += phases_map.apply("analysis").durationMs() / 1e3
        except Exception:  # noqa: BLE001 - a foreign DataFrame-like result
            pass
        rec["persist_builds"] = len(st.persistent_ids() - p0)

        every = job_iv["build"] + job_iv["sink"]
        rec["job_wall_s"] = covered(every, t0, t2)
        for phase, (lo, hi) in (("build", (t0, t1)), ("sink", (t1, t2))):
            cover = covered(job_iv[phase], lo, hi)
            phases[phase]["self_s"] = (hi - lo) - cover
        rec["build_self_s"] = phases["build"]["self_s"]
        return t2 - t0, rec
