"""Benchmark entry point: one seeded workload, one process, one JSON line.

    python3 perfbench/run.py --workload mr_corpus --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Each run:

1. writes the workload's inputs from ``--seed`` into a scratch
   directory under ``.bench_work/`` (untimed; the engine sees only
   that directory);
2. sets up: ``session.get_spark()`` on ``local[<cores>]`` in this
   fresh process, then one fixed warm-up query (``setup_s``);
3. runs every operation once, untimed, and checks its output against
   an independent reference: registered queries against their DuckDB
   oracle (``tests/oracle_utils`` rules), ``mapreduce()`` against a
   sequential pure-Python run of the same ``apps`` functions. Before
   the operation's caches are released, full GCs read the driver
   JVM's live heap. This pass is also the warm-up for the timed loop;
4. times rounds over the operation set, started on a fixed schedule
   across ``--seconds`` seconds. An operation's time runs from calling the query function (or
   ``mapreduce()``) to the end of a ``noop``-format write, so it
   includes jobs the function runs in its own body. Caches are
   released after every operation (``release_caches(force_checkpointed
   =True)``); an RDD still pinned afterwards counts as a failure.

Metric names and units come from ``BENCHMARK.json``. With ``--trace 0``
it reports the end-to-end metrics: ``wall_s`` (sum over the set of each
operation's fastest time: host contention only ever slows a pass, so
the minimum is the estimate it disturbs least), ``setup_s`` and
``heap_mb`` (the largest live heap of the driver JVM, after a full GC,
while an operation's result and caches are still pinned; the peak
resident memory is the per-layer ``mem.peak_rss_mb``). With
``--trace 1`` it alternates untraced and traced passes and reports the
per-layer metrics of the traced ones, read from spans around the calls
into each package layer and from Spark's status stores; spans are
written to ``.bench_out/``. Failures (exception, wrong output, pinned RDD) are
printed by operation and counted in ``failed``; a summary line with
``fail_frac`` and the host-noise record (steal %, a CPU-bound sentinel
job) precedes the JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
from spans import (SparkCounters, StreamCounter, Tracer,  # noqa: E402
                   patch_module_functions, union_seconds)

# Operation set per workload. "mr:<app>" runs mapreduce() with the
# apps.py pair of that name; any other name is a registered query.
OPS: dict[str, list[str]] = {
    "mr_corpus": ["mr:wc", "mr:concat", "wc_word_count", "concat_agg",
                  "q_streaming_hourly"],
    "dedup_iterative": ["q_dedup_clusters"],
}
# Seconds between the starts of two timed rounds: one warm round over
# the workload's operations on a quiet 4-vCPU host, plus a quarter.
ROUND_S: dict[str, float] = {"mr_corpus": 6.0, "dedup_iterative": 12.0}
WARMUP_QUERY = "q1_pricing_summary"


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _proc_stat() -> tuple[int, int]:
    """(total, steal) jiffies over all CPUs."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def _vm_mb(pid: int, field: str) -> float:
    """A memory field of /proc/<pid>/status (VmHWM: peak RSS), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        self.work = os.path.join(ROOT, ".bench_work", self.run_id)
        self.inputs = os.path.join(self.work, "inputs")
        self.tracer = Tracer(self.run_id, enabled=bool(args.trace))
        self.attempted = 0
        self.failures: list[str] = []
        self.metrics: dict[str, float] = {}
        self.op_s: dict[str, float] = {}   # fastest untraced time per operation

    # ---- environment -------------------------------------------------
    def prepare(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        import tempfile
        tempfile.tempdir = tmp
        os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"   # spark-submit's own JVM
        gen.write_inputs(self.workload, self.args.seed, self.inputs)
        gen.write_inputs("warmup", 0, os.path.join(self.work, "warmup"))

    def setup(self) -> None:
        from my_mapreduce_spark.registry import REGISTRY, _ensure_loaded
        from my_mapreduce_spark.session import get_spark

        # keep every file the JVM writes inside the work directory; the
        # perf-data file would otherwise go to the system temp directory
        confs = {"spark.ui.showConsoleProgress": "false",
                 "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                 "spark.driver.extraJavaOptions":
                     f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"}
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench", extra_confs=confs)
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        with self.tracer.span("session.warmup"):
            _ensure_loaded()
            self._noop(REGISTRY[WARMUP_QUERY].fn(self.spark,
                                                 os.path.join(self.work, "warmup")))
        t3 = time.perf_counter()
        self.metrics["session.start_s"] = t1 - t0
        self.metrics["session.warmup_s"] = t3 - t2
        self.metrics["setup_s"] = (t1 - t0) + (t3 - t2)
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())

    # ---- operations --------------------------------------------------
    def _noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _kv(self):
        from pyspark.sql import functions as F

        from my_mapreduce_spark.io import load_table

        docs = load_table(self.spark, self.inputs, "documents")
        return docs.select(F.concat_ws("-", "source", "doc_id").alias("filename"),
                           F.col("text"))

    def build(self, op: str):
        """Call the operation's entry point; returns its DataFrame."""
        from my_mapreduce_spark import apps
        from my_mapreduce_spark.mapreduce import mapreduce
        from my_mapreduce_spark.registry import REGISTRY

        if op.startswith("mr:"):
            app = op[3:]
            return mapreduce(self._kv(), getattr(apps, f"{app}_map"),
                             getattr(apps, f"{app}_reduce"))
        return REGISTRY[op].fn(self.spark, self.inputs)

    def release(self) -> tuple[int, float, float]:
        """Release caches; returns (pinned before, storage bytes before,
        seconds). An RDD still pinned afterwards is a failure."""
        from my_mapreduce_spark.caching import pinned_rdd_count, release_caches

        storage = 0.0
        if self.args.trace:
            storage = float(sum(i.memSize() + i.diskSize() for i in
                                self.spark.sparkContext._jsc.sc().getRDDStorageInfo()))
        t0 = time.perf_counter()
        with self.tracer.span("caching.release"):
            pinned = release_caches(self.spark, force_checkpointed=True)
        took = time.perf_counter() - t0
        left = pinned_rdd_count(self.spark)
        if left:
            self.fail("release", f"{left} RDDs still pinned after release_caches")
        return pinned, storage, took

    def fail(self, op: str, why: str) -> None:
        self.failures.append(f"{op}: {why}")
        print(f"FAIL {self.workload} {op}: {why}", file=sys.stderr, flush=True)

    # ---- correctness pass --------------------------------------------
    def check_all(self) -> None:
        import duckdb

        from tests.oracle_utils import assert_matches_oracle

        from my_mapreduce_spark.registry import REGISTRY

        memory = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        heap = []
        con = duckdb.connect()
        for t in gen.TABLES_OF[self.workload]:
            path = os.path.join(self.inputs, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        for op in OPS[self.workload]:
            self.attempted += 1
            try:
                df = self.build(op)
                if op.startswith("mr:"):
                    # one output row per distinct key, as in the reference
                    got = sorted((r.key, r.value) for r in df.collect())
                    if got != sorted(self._sequential(op[3:]).items()):
                        self.fail(op, "output differs from the sequential run")
                else:
                    assert_matches_oracle(df, con, REGISTRY[op].oracle)
            except AssertionError as e:
                self.fail(op, f"output differs from the DuckDB oracle: {e}")
            except Exception:
                self.fail(op, traceback.format_exc())
            # A full GC enqueues the broadcasts and shuffles that just became
            # unreachable; Spark's ContextCleaner thread then frees their
            # blocks, and a second full GC collects those.
            self.spark._jvm.System.gc()
            time.sleep(0.5)
            self.spark._jvm.System.gc()
            heap.append(memory.getHeapMemoryUsage().getUsed() / 2**20)
            self.release()
        con.close()
        self.metrics["heap_mb"] = max(heap)

    def _sequential(self, app: str) -> dict[str, str]:
        """The reference's mrsequential: one process, no Spark."""
        import pyarrow.parquet as pq

        from my_mapreduce_spark import apps

        mapf, reducef = getattr(apps, f"{app}_map"), getattr(apps, f"{app}_reduce")
        docs = pq.read_table(os.path.join(self.inputs, "documents.parquet"),
                             columns=["doc_id", "text", "source"]).to_pydict()
        inter: dict[str, list[str]] = defaultdict(list)
        for doc_id, text, source in zip(docs["doc_id"], docs["text"], docs["source"]):
            for k, v in mapf(f"{source}-{doc_id}", text):
                inter[k].append(v)
        return {k: reducef(k, vs) for k, vs in inter.items()}

    # ---- timed passes --------------------------------------------------
    def run_op(self, op: str, counters) -> dict | None:
        """One timed operation; with ``counters`` also its layer record."""
        rec: dict = {}
        mark0 = counters.mark() if counters else None
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with self.tracer.span("queries.body", op=op):
                df = self.build(op)
            t1 = time.perf_counter()
            body_jobs = counters.jobs_submitted() - 1 - mark0[0] if counters else 0
            t2 = time.perf_counter()
            with self.tracer.span("queries.action", op=op):
                self._noop(df)
            t3 = time.perf_counter()
        except Exception:
            self.fail(op, traceback.format_exc())
            self.release()
            return None
        rec["wall_s"] = (t1 - t0) + (t3 - t2)
        if counters:
            rec["queries.body_s"] = t1 - t0
            rec["queries.action_s"] = t3 - t2
            rec["queries.body_jobs"] = body_jobs
            rec.update(self._layer_record(op, counters, mark0, rec["wall_s"]))
        pinned, storage, took = self.release()
        if counters:
            rec["caching.pinned"] = pinned
            rec["caching.storage_bytes"] = storage
            rec["caching.release_s"] = took
        return rec

    def _layer_record(self, op, counters, mark, wall) -> dict:
        c = counters.since(mark)
        rec = {
            "exec.jobs": c["jobs"], "exec.stages": c["stages"], "exec.tasks": c["tasks"],
            "exec.run_ms": c["run_ms"], "exec.cpu_ms": c["cpu_ms"], "exec.gc_ms": c["gc_ms"],
            "io.input_bytes": c["input_bytes"], "io.input_records": c["input_records"],
            "io.scan_stages": c["scan_stages"],
            "shuffle.write_bytes": c["shuffle_write_bytes"],
            "shuffle.read_bytes": c["shuffle_read_bytes"],
            "shuffle.fetch_wait_ms": c["fetch_wait_ms"],
            "shuffle.spill_bytes": c["spill_bytes"],
            "mapreduce.python_bytes": c["python_bytes"],
            "queries.driver_s": max(0.0, wall - union_seconds(c["intervals"])),
            "_longest_stage": c["longest_stage"],
        }
        if op.startswith("mr:"):
            rec.update(self._map_alone(op, counters, wall))
        return rec

    def _map_alone(self, op, counters, wall) -> dict:
        """``map_stage()`` output materialized alone: the map share of
        the operation and the intermediate pairs it emits."""
        from my_mapreduce_spark import apps
        from my_mapreduce_spark.mapreduce import map_stage

        mark = counters.mark()
        # untraced: this run is the benchmark's, not the operation's, and
        # its spans would land in the io and mapreduce layer totals
        self.tracer.enabled = False
        t0 = time.perf_counter()
        self._noop(map_stage(self._kv(), getattr(apps, f"{op[3:]}_map")))
        map_s = time.perf_counter() - t0
        self.tracer.enabled = True
        c = counters.since(mark)
        return {"mapreduce.map_s": map_s, "mapreduce.reduce_s": max(0.0, wall - map_s),
                "mapreduce.pairs": c["python_out_rows"]}

    def timed(self) -> None:
        trace = bool(self.args.trace)
        plain: dict[str, list[float]] = defaultdict(list)
        traced: list[dict] = []
        t_start = time.perf_counter()
        cpu0 = _proc_stat()
        if trace:
            self._traced_passes(t_start + self.args.seconds, plain, traced)
        else:
            self._plain_rounds(t_start, plain)
        cpu1 = _proc_stat()
        self.tracer.enabled = trace
        if not plain:
            self.fail("timed", "no operation completed without failure")
            return
        self.op_s = {op: min(v) for op, v in plain.items()}
        wall = sum(self.op_s.values())
        self.metrics["wall_s"] = wall
        dt, steal = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
        self.metrics["host.steal_pct"] = 100.0 * steal / dt if dt else 0.0
        self.metrics["passes"] = min(len(v) for v in plain.values())
        if traced:
            for key in traced[0]:
                self.metrics[key] = statistics.median(t[key] for t in traced)
            self.metrics["trace.overhead_s"] = (min(t["_traced_wall_s"] for t in traced)
                                                - wall)
            del self.metrics["_traced_wall_s"]

    def _plain_rounds(self, t_start, plain) -> None:
        """Untraced: rounds over the operation set start on a fixed
        schedule, one every ``ROUND_S`` seconds of the window, so every
        run times the same number of rounds. The operations keep
        speeding up for minutes while the JIT warms, and the
        per-operation minimum falls with each extra round; a count that
        followed the host's speed would turn a few percent of contention
        into a round's worth of warm-up. A round whose slot has passed
        (the last one ran long) starts at once: a slow host stretches
        the window instead of timing fewer rounds. The first timed
        round is still slower; the minimum leaves it out."""
        ops = OPS[self.workload]
        slot = ROUND_S[self.workload]
        for k in range(max(2, int(self.args.seconds // slot))):
            wait = t_start + k * slot - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            for op in ops:
                rec = self.run_op(op, None)
                if rec is not None:
                    plain[op].append(rec["wall_s"])

    def _traced_passes(self, deadline, plain, traced) -> None:
        """Traced: untraced and traced passes over the operation set
        alternate, so both see the same host conditions; the difference
        is the tracing overhead. After one pass of each, a pass starts
        only if one as long as the last fits."""
        ops = OPS[self.workload]
        counters = SparkCounters(self.spark)
        streams = StreamCounter(self.spark)
        self._patch_layers()
        n_pass, last = 0, 0.0
        while n_pass < 3 or time.perf_counter() + last <= deadline:
            use_trace = n_pass % 2 == 1
            self.tracer.enabled = use_trace
            span0 = len(self.tracer.spans)
            stream0 = streams.snapshot() if use_trace else None
            t0 = time.perf_counter()
            recs = {op: self.run_op(op, counters if use_trace else None) for op in ops}
            last = time.perf_counter() - t0
            n_pass += 1
            if any(r is None for r in recs.values()):
                continue
            if use_trace:
                traced.append(self._pass_totals(recs, span0, stream0, streams.snapshot()))
            else:
                for op, r in recs.items():
                    plain[op].append(r["wall_s"])

    def _pass_totals(self, recs, span0, s0, s1) -> dict:
        out: dict[str, float] = defaultdict(float)
        longest = (0.0, 1.0)
        for r in recs.values():
            for k, v in r.items():
                if k == "_longest_stage":
                    longest = max(longest, v)
                elif k != "wall_s":
                    out[k] += v
            out["_traced_wall_s"] += r["wall_s"]
        cores = _cores()
        out["exec.busy_frac"] = out["exec.run_ms"] / 1000.0 / (out["_traced_wall_s"] * cores)
        out["exec.task_skew"] = longest[1]
        selfs = self.tracer.self_times(span0)
        for layer in ("queries", "io", "mapreduce", "caching"):
            out[f"{layer}.self_s"] = selfs.get(layer, 0.0)
        # the io functions never call each other, so their spans don't nest
        out["io.load_s"] = sum(s["end"] - s["start"] for s in self.tracer.spans[span0:]
                               if s["name"].startswith("io."))
        for k in ("batches", "input_rows", "batch_ms", "state_rows"):
            out[f"streaming.{k}"] = s1[k] - s0[k]
        for k in ("mapreduce.map_s", "mapreduce.reduce_s", "mapreduce.pairs"):
            out.setdefault(k, 0.0)
        return dict(out)

    def _patch_layers(self) -> None:
        import my_mapreduce_spark.io as io
        import my_mapreduce_spark.mapreduce as mr

        patch_module_functions("my_mapreduce_spark", io,
                               ("load_table", "widen_unsplittable_scan"), self.tracer, "io")
        patch_module_functions("my_mapreduce_spark", mr,
                               ("mapreduce", "map_stage", "reduce_stage"), self.tracer,
                               "mapreduce")

    # ---- host noise ----------------------------------------------------
    def sentinel(self) -> None:
        """A fixed CPU-bound JVM job, one partition per core, no I/O and
        no shuffle beyond the final sum: its time tracks how much CPU
        the host gives this run."""
        from pyspark.sql import functions as F

        df = self.spark.range(0, 4_000_000, 1, _cores())
        h = F.col("id")
        for i in range(16):
            h = F.xxhash64(h, F.lit(i))
        t0 = time.perf_counter()
        df.select(F.max(h)).collect()
        self.metrics["host.sentinel_s"] = time.perf_counter() - t0

    def finish(self) -> None:
        # peak resident memory follows the JVM's heap-growth decisions and
        # swings by a third between identical runs: reported, not bounded
        self.metrics["mem.peak_rss_mb"] = (
            _vm_mb(self.jvm_pid, "VmHWM")
            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0)
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def result(self, units: dict[str, str]) -> dict:
        failed = len(self.failures)
        missing = [n for n in units if n not in self.metrics]
        if missing and not failed:
            raise RuntimeError(f"metrics never measured: {missing}")
        metrics = {n: {"value": float(self.metrics.get(n, 0.0)), "unit": u}
                   for n, u in units.items()}
        return {"correct": failed == 0, "attempted": max(1, self.attempted),
                "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(OPS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import my_mapreduce_spark.registry  # noqa: F401
        import tests.oracle_utils  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is not importable from "
              f"{ROOT}: {e}", file=sys.stderr)
        return 2

    end_to_end, per_layer = _metric_units()
    bench = Bench(args)
    phases: dict[str, float] = {}

    def phase(name, fn):
        t0 = time.perf_counter()
        try:
            fn()
        finally:
            phases[name] = time.perf_counter() - t0

    try:
        phase("inputs", bench.prepare)
        phase("setup", bench.setup)
        try:
            phase("check", bench.check_all)
            phase("sentinel", bench.sentinel)
            phase("timed", bench.timed)
        finally:
            phase("stop", bench.finish)
        if args.trace:
            out = os.path.join(ROOT, ".bench_out")
            os.makedirs(out, exist_ok=True)
            bench.tracer.dump(os.path.join(out, f"spans-{bench.run_id}.jsonl"))
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)
    n = max(1, bench.attempted)
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"passes={bench.metrics.get('passes', 0)} "
          f"fail_frac={len(bench.failures) / n:.4f} "
          f"steal_pct={bench.metrics.get('host.steal_pct', 0.0):.2f} "
          f"sentinel_s={bench.metrics.get('host.sentinel_s', 0.0):.3f} "
          + " ".join(f"{k}={bench.metrics[k]:.4f}{u}" for k, u in end_to_end.items()
                     if k in bench.metrics)
          + f" peak_rss_mb={bench.metrics.get('mem.peak_rss_mb', 0.0):.1f}MB")
    print("# phases_s " + " ".join(f"{k}={v:.1f}" for k, v in phases.items()))
    print("# op_s " + " ".join(f"{k}={v:.3f}" for k, v in bench.op_s.items()))
    for f in bench.failures:
        print(f"# failed: {f.splitlines()[0]}")
    print(json.dumps(bench.result(per_layer if args.trace else end_to_end)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
