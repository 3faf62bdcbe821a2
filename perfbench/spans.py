"""Spans and Spark status-store readers for the traced run.

Spans are recorded from the benchmark's own files, around its calls
into each layer of the package. Runtime counters come from Spark's
own status stores through py4j (``AppStatusStore`` for jobs, stages
and tasks; ``SQLAppStatusStore`` for Python-worker bytes), which are
populated with the UI disabled.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory spans ``(name, start, end, parent, run id)``, written
    out once at exit. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def self_times(self, since: int = 0) -> dict[str, float]:
        """Seconds per layer (the span name's first dotted part) not
        covered by child spans, over spans recorded from ``since``."""
        child: dict[int, float] = {}
        for s in self.spans[since:]:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans[since:]:
            layer = s["name"].split(".")[0]
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def patch_module_functions(package: str, module, names: tuple[str, ...],
                           tracer: Tracer, layer: str) -> None:
    """Route every reference to ``module.<name>`` held by any loaded
    module of ``package`` through a span named ``<layer>.<name>``.
    Query modules bind ``from ... import load_table`` at import time,
    so patching the defining module alone would miss them."""
    import sys

    for name in names:
        orig = getattr(module, name)
        traced = tracer.wrap(f"{layer}.{name}", orig)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name == package or mod_name.startswith(package + "."):
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, traced)


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
# SQL metrics every Python-evaluating plan node carries
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric value: a bare number, or
    ``"total (min, med, max ...)\\n<total> ..."`` for size metrics."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    return val * _SIZE_UNITS.get(m.group(2) or "B", 1)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(scala_seq) -> list:
    out, it = [], scala_seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


class SparkCounters:
    """Reads what Spark ran between two marks. Jobs and SQL executions
    are numbered in submission order, so everything with an id above
    the mark belongs to the work done since, including jobs a
    streaming query's own thread submitted. The stores are filled from
    Spark's listener bus, which is drained before every read."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.gateway = spark.sparkContext._gateway

    def jobs_submitted(self) -> int:
        return self.sc.dagScheduler().numTotalJobs()

    def mark(self) -> tuple[int, int]:
        """(last job id, last SQL execution id) submitted so far."""
        self.sc.listenerBus().waitUntilEmpty()
        execs = self.sql.executionsList()   # ascending by id
        n = execs.size()
        return (self.jobs_submitted() - 1,
                execs.apply(n - 1).executionId() if n else -1)

    def since(self, mark: tuple[int, int]) -> dict:
        """Counters for jobs and SQL executions after ``mark``, plus the
        job intervals (epoch seconds) for the driver-time union."""
        job_mark, exec_mark = mark
        self.sc.listenerBus().waitUntilEmpty()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0,
               "gc_ms": 0.0, "input_bytes": 0.0, "input_records": 0.0,
               "scan_stages": 0, "shuffle_write_bytes": 0.0,
               "shuffle_read_bytes": 0.0, "fetch_wait_ms": 0.0, "spill_bytes": 0.0,
               "python_bytes": 0.0, "python_out_rows": 0.0,
               "intervals": [], "longest_stage": (0.0, 1.0)}
        stage_ids = set()
        for j in _seq(self.store.jobsList(None)):   # newest first
            if j.jobId() <= job_mark:
                break
            out["jobs"] += 1
            start, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if start is not None and end is not None:
                out["intervals"].append((start, end))
            stage_ids.update(_seq(j.stageIds()))
        quantiles = self.gateway.new_array(self.gateway.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for sid in stage_ids:
            try:
                s = self.store.lastStageAttempt(sid)
            except Py4JJavaError:   # a skipped stage never ran: no attempt
                continue
            if str(s.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["run_ms"] += s.executorRunTime()
            out["cpu_ms"] += s.executorCpuTime() / 1e6
            out["gc_ms"] += s.jvmGcTime()
            out["input_bytes"] += s.inputBytes()
            out["input_records"] += s.inputRecords()
            out["scan_stages"] += s.inputBytes() > 0
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["fetch_wait_ms"] += s.shuffleFetchWaitTime()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if s.executorRunTime() > out["longest_stage"][0]:
                dist = self.store.taskSummary(sid, s.attemptId(), quantiles)
                skew = 1.0
                if dist.isDefined():
                    med, mx = _seq(dist.get().executorRunTime())
                    skew = mx / med if med > 0 else 1.0
                out["longest_stage"] = (float(s.executorRunTime()), skew)
        execs = self.sql.executionsList()   # ascending by id
        for i in range(execs.size() - 1, -1, -1):
            exec_id = execs.apply(i).executionId()
            if exec_id <= exec_mark:
                break
            self._python_metrics(exec_id, out)
        return out

    def _python_metrics(self, exec_id: int, out: dict) -> None:
        """Bytes to and from Python workers, and rows out of MapInPandas
        nodes (the pairs a ``map_stage()`` emits)."""
        values = self.sql.executionMetrics(exec_id)
        for node in _seq(self.sql.planGraph(exec_id).allNodes()):
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                if m.name() in _PY_BYTES:
                    out["python_bytes"] += _metric_total(v.get())
                elif node.name() == "MapInPandas" and m.name() == "number of output rows":
                    out["python_out_rows"] += _metric_total(v.get())


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class StreamCounter:
    """Totals from a ``StreamingQueryListener`` the benchmark registers:
    micro-batches, input rows, batch time, and state rows at each
    query's last progress."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self
        self.bus = spark.sparkContext._jsc.sc().listenerBus()
        self.lock = threading.Lock()
        self.batches = 0
        self.input_rows = 0.0
        self.batch_ms = 0.0
        self.last_state: dict[str, float] = {}

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with counter.lock:
                    counter.batches += 1
                    counter.input_rows += p.numInputRows
                    counter.batch_ms += p.batchDuration
                    counter.last_state[str(p.runId)] = float(
                        sum(op.numRowsTotal for op in p.stateOperators))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def snapshot(self) -> dict:
        """Totals so far. Listener events arrive asynchronously, so this
        first drains Spark's listener bus, which delivers each event to
        the Python listener before it counts as handled."""
        self.bus.waitUntilEmpty()
        with self.lock:
            return {"batches": self.batches, "input_rows": self.input_rows,
                    "batch_ms": self.batch_ms,
                    "state_rows": sum(self.last_state.values())}
