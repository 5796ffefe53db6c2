"""Closed-loop benchmark of the rdbms_scala_spark engine.

    python3 perfbench/run.py --workload tpch_sf0.1 --seed 1 --seconds 10 --trace 0

One client in one process runs the registered queries ("ops") of a
workload against the program's own session (``session.get_spark`` on
``local[N]``, N = the cores this process may use). An op is
``spec.fn(spark, data_dir)`` followed by a write to the ``noop`` sink; a
pass runs every op of the workload once, in an order drawn from
``--seed`` (the seed decides nothing else). After set-up, warm-up passes
run until pass times stop falling or ``MAX_WARM_PASSES`` are done; then
whole passes run until ``--seconds`` have elapsed and at least
``MIN_PASSES`` passes are done. Afterwards every op is evaluated once
more, untimed and in full, and its fingerprint is compared with the
registry's DuckDB oracle (or with a fingerprint given by ``--pin``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
schedule with spans and Spark status-store readings per op and prints
the per-layer metrics. The last stdout line is the result; the line
before it is the full record (host facts, per-module and per-op
figures, checks), which is also written with the spans under
``.bench_build/perfbench/results/``. Every file the run causes stays in
the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
APP = "rdbms_scala_spark-perfbench"
MODULE_PREFIX = "rdbms_scala_spark."

TPCH_TABLES = ("lineitem", "orders", "customer", "part", "supplier", "nation", "region")


@dataclass(frozen=True)
class Workload:
    scale: str  # directory under data/
    ops: tuple[str, ...]
    tables: tuple[str, ...] | None  # None: every table the directory holds
    cache_tables: bool
    evict_each_pass: bool  # start each pass with a new corpus epoch


WORKLOADS = {
    # The reference's own claim: 8 TPC-H queries over cached tables.
    "tpch_sf0.1": Workload(
        scale="sf0.1",
        ops=("tpch_q1", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6",
             "tpch_q10", "tpch_q14", "tpch_q18"),
        tables=TPCH_TABLES,
        cache_tables=True,
        evict_each_pass=False,
    ),
    # LLM-data operators: session-cache builds (minhash signatures) with
    # actions fired while the plan is built, Python workers (image resize)
    # and Parquet writes (partition overwrite). Each pass rebuilds the
    # session caches and the dedup family's second op reuses them.
    "llm_pipeline": Workload(
        scale="sf0.01",
        ops=("dedup_minhash_lsh", "dedup_lsh_bucket_stats",
             "multimodal_image_resize", "pipeline_dynamic_partition_overwrite"),
        tables=None,
        cache_tables=False,
        evict_each_pass=True,
    ),
}

SMOKE_SCALE = "sf0.001"
MIN_WARM_PASSES = 2
MAX_WARM_PASSES = 3  # tpch passes fall for ~8 passes; the run's time budget allows three
SETTLE = 0.05  # warm-up ends at a pass no more than 5% faster than the best before it
MIN_PASSES = 3  # timed passes per run, whatever --seconds is


TAIL_PERCENTILE = 90


def tail(values: list[float]) -> tuple[float, int]:
    """Op latency at ``TAIL_PERCENTILE`` and the number of samples beyond
    it. A window holds 12-32 ops, fewer than the 100 that would leave ten
    samples beyond p90, so the count is recorded beside the value."""
    if len(values) > 1:
        value = statistics.quantiles(values, n=100, method="inclusive")[TAIL_PERCENTILE - 1]
    else:
        value = values[0]
    return value, sum(1 for v in values if v > value)


def host_facts() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        ram_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cores": os.environ["SPARK_GRAFT_CPUS"],
        "ram_mb": ram_kb // 1024,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
    }


def prepare_environment(run_dir: str) -> None:
    """Keep the session's and the program's files inside the checkout and
    size the session to this process's cores. Must run before pyspark
    starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # the JVM that builds the driver's command line


def import_program():
    """Import the program from this checkout; exit 3 if it is not here."""
    sys.path.insert(0, ROOT)
    try:
        from rdbms_scala_spark import catalog, registry, session
        from rdbms_scala_spark.sources import files
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout: {e}", file=sys.stderr)
        sys.exit(3)
    if not os.path.abspath(session.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported the program from {session.__file__}, not {ROOT}", file=sys.stderr)
        sys.exit(3)
    return catalog, registry, session, files


def redirect_scratch(files, root: str) -> None:
    """The program writes its derived layouts under /tmp; keep the same
    directory names but under this run's work directory."""
    original = files._scratch_dir

    def scratch_dir(spark, sf_dir, prefix):
        return os.path.join(root, os.path.basename(original(spark, sf_dir, prefix)))

    files._scratch_dir = scratch_dir


def sink(df) -> None:
    if df.isStreaming:
        return
    df.write.format("noop").mode("overwrite").save()


class Bench:
    def __init__(self, args, wl: Workload, program, run_dir: str):
        self.args, self.wl = args, wl
        self.catalog, self.registry, self.session = program
        self.scale = SMOKE_SCALE if args.smoke else wl.scale
        self.data_dir = os.path.join(DATA, self.scale)
        self.run_dir = run_dir
        self.rng = random.Random(args.seed)
        self.spark = self.specs = self.status = self.tracer = self.sampler = None
        self.failures: list[dict] = []
        self.records: list[dict] = []  # traced op records of the timed window

    # -- set-up ---------------------------------------------------------
    def setup(self) -> dict:
        from sparkstats import RssSampler, StatusStore

        t0 = time.perf_counter()
        self.spark = self.session.get_spark(APP)
        t1 = time.perf_counter()
        self.specs = self.registry.all_queries()
        t2 = time.perf_counter()
        tables = self.catalog.load_tables(self.spark, self.data_dir, **(
            {"names": self.wl.tables} if self.wl.tables else {}))
        t3 = time.perf_counter()
        if self.wl.cache_tables:
            for df in tables.values():
                df.cache().count()
        t4 = time.perf_counter()
        self.status = StatusStore(self.spark)
        self.sampler = RssSampler(self.spark.sparkContext._gateway.proc.pid)
        return {
            "session.get_spark_s": t1 - t0,
            "registry.all_queries_s": t2 - t1,
            "catalog.load_tables_s": t3 - t2,
            "catalog.cache_s": t4 - t3,
            "total_s": t4 - t0,
        }

    def warm_up(self) -> list[dict]:
        """Untimed passes until one is no more than ``SETTLE`` faster than
        the fastest before it (JIT, codegen and AQE caches have settled),
        at least ``MIN_WARM_PASSES`` and at most ``MAX_WARM_PASSES``."""
        passes = [self.run_pass(timed=False)]
        while len(passes) < MAX_WARM_PASSES:
            best = min(p["pass_s"] for p in passes)
            passes.append(self.run_pass(timed=False))
            if len(passes) >= MIN_WARM_PASSES and passes[-1]["pass_s"] > best * (1 - SETTLE):
                break
        return passes

    # -- ops and passes ---------------------------------------------------
    def run_op(self, name: str, timed: bool) -> float | None:
        spec = self.specs[name]

        def build():
            return spec.fn(self.spark, self.data_dir)

        try:
            if timed and self.tracer is not None:
                module = spec.fn.__module__.removeprefix(MODULE_PREFIX)
                latency, rec = self.tracer.op(name, module, build, sink)
                self.records.append(rec)
                return latency
            t0 = time.perf_counter()
            sink(build())
            return time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - an op failure is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            self.failures.append({"op": name, "phase": "timed" if timed else "warm", "error": repr(e)[:500]})
            return None

    def run_pass(self, timed: bool) -> dict:
        order = list(self.wl.ops)
        self.rng.shuffle(order)
        t0 = time.perf_counter()
        if self.wl.evict_each_pass:
            self.session.evict_session_relations(self.spark)
        before = self.status.persistent_ids()
        built: set[int] = set()
        latencies = {}
        for name in order:
            latencies[name] = self.run_op(name, timed)
            built |= self.status.persistent_ids() - before
        return {
            "pass_s": time.perf_counter() - t0,
            "order": order,
            "latencies": latencies,
            "persist_builds": len(built),
        }

    # -- output checks ----------------------------------------------------
    def check_outputs(self, pinned: dict) -> list[dict]:
        from checks import Oracle, check_op, fingerprint

        oracle = Oracle(self.data_dir, self.catalog.TABLES, os.path.join(self.run_dir, "tmp"))
        results = []
        try:
            for name in sorted(self.wl.ops):
                spec = self.specs[name]
                try:
                    got = fingerprint(spec.fn(self.spark, self.data_dir).toPandas())
                    results.append(check_op(name, got, pinned, spec.oracle, oracle))
                except Exception as e:  # noqa: BLE001 - a failed check is a failed op
                    traceback.print_exc(file=sys.stderr)
                    results.append({"op": name, "source": "error", "ok": False, "error": repr(e)[:500]})
        finally:
            oracle.close()
        return results

    def shutdown(self) -> int:
        """Stop the session and the JVM and wait for it; return the peak
        RSS in bytes."""
        from pyspark import SparkContext

        peak = self.sampler.stop() if self.sampler else 0
        if self.tracer is not None:
            self.tracer.close()
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        return peak


def per_layer(bench: Bench, setup: dict, warmup_s: float, window: dict) -> tuple[dict, dict]:
    """Per-layer metrics (per-op means over the timed window) and the
    per-module and per-op breakdown for the record."""
    recs = bench.records
    n = len(recs) or 1
    total = {
        k: sum(r[k] for r in recs) for k, v in (recs[0].items() if recs else ()) if isinstance(v, (int, float))
    }

    def mean(key):
        return total.get(key, 0.0) / n

    def frac(num, den):
        return total.get(num, 0.0) / total[den] if total.get(den) else 0.0

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    passes = len(window["passes"]) or 1
    metrics = {
        "session.get_spark_s": (setup["session.get_spark_s"], "s"),
        "registry.all_queries_s": (setup["registry.all_queries_s"], "s"),
        "catalog.load_tables_s": (setup["catalog.load_tables_s"], "s"),
        "catalog.cached_bytes": (window["cached_bytes"], "B"),
        "setup.warmup_s": (warmup_s, "s"),
        "op.build_s": (mean("build_s"), "s"),
        "op.build_self_s": (mean("build_self_s"), "s"),
        "op.build_jobs": (mean("build_jobs"), "count"),
        "op.sink_s": (mean("sink_s"), "s"),
        "op.persist_builds": (total.get("persist_builds", 0) / passes, "count"),
        "spark.analysis_s": (mean("analysis_s"), "s"),
        "spark.optimization_s": (mean("optimization_s"), "s"),
        "spark.planning_s": (mean("planning_s"), "s"),
        "spark.jobs": (mean("jobs"), "count"),
        "spark.stages": (mean("stages"), "count"),
        "spark.tasks": (mean("tasks"), "count"),
        "spark.job_wall_s": (mean("job_wall_s"), "s"),
        "spark.task_run_s": (mean("task_run_s"), "s"),
        "spark.task_cpu_s": (mean("task_cpu_s"), "s"),
        "spark.gc_frac": (frac("gc_s", "task_run_s"), "fraction"),
        "spark.core_util": (
            total.get("task_run_s", 0.0) / (total["job_wall_s"] * cores) if total.get("job_wall_s") else 0.0,
            "fraction",
        ),
        "spark.input_bytes": (mean("input_bytes"), "B"),
        "spark.output_bytes": (mean("output_bytes"), "B"),
        "spark.shuffle_read_bytes": (mean("shuffle_read_bytes"), "B"),
        "spark.shuffle_write_bytes": (mean("shuffle_write_bytes"), "B"),
        "spark.spill_bytes": (mean("spill_bytes"), "B"),
        "spark.python_start_frac": (frac("python_start_s", "task_run_s"), "fraction"),
        "spark.python_run_frac": (frac("python_run_s", "task_run_s"), "fraction"),
        "spark.python_bytes_sent": (mean("python_bytes_sent"), "B"),
        "spark.python_bytes_received": (mean("python_bytes_received"), "B"),
        "spark.storage_bytes": (window["storage_bytes"], "B"),
        "trace.ops_per_s": (window["ops"] / window["wall_s"], "1/s"),
    }
    breakdown: dict[str, float] = {
        "catalog.cache_s": setup["catalog.cache_s"],
        "spark.gc_s": mean("gc_s"),
        "spark.python_start_s": mean("python_start_s"),
        "spark.python_run_s": mean("python_run_s"),
    }
    for module in sorted({r["module"] for r in recs}):
        mine = [r for r in recs if r["module"] == module]
        for key in ("build_s", "build_self_s", "build_jobs", "sink_s"):
            breakdown[f"{module}.{key}"] = sum(r[key] for r in mine) / len(mine)
        breakdown[f"{module}.persist_builds"] = sum(r["persist_builds"] for r in mine) / passes
    for name in bench.wl.ops:
        mine = [r["end"] - r["start"] for r in recs if r["name"] == name]
        if mine:
            breakdown[f"op.{name}.p50_s"] = statistics.median(mine)
    return metrics, breakdown


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="self-test scale: sf0.001, no warm-up, one pass")
    ap.add_argument("--pin", help="JSON {op: fingerprint} checked instead of the oracle")
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]

    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        prepare_environment(run_dir)
        catalog, registry, session, files = import_program()
        redirect_scratch(files, os.path.join(run_dir, "scratch"))
        sys.path.insert(0, HERE)
        return run(args, wl, (catalog, registry, session), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, wl: Workload, program, run_dir: str) -> int:
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    bench = Bench(args, wl, program, run_dir)
    pinned = {}
    if args.pin:
        with open(args.pin) as f:
            pinned = json.load(f)
    try:
        setup = bench.setup()
        cached_bytes = bench.status.storage_bytes()

        t0 = time.perf_counter()
        warm = [] if args.smoke else bench.warm_up()
        warmup_s = time.perf_counter() - t0

        if args.trace:
            from sparkstats import Tracer

            bench.tracer = Tracer(bench.spark)
        passes = []
        t0 = time.perf_counter()
        deadline = t0 + args.seconds
        while not passes or (not args.smoke and (len(passes) < MIN_PASSES or time.perf_counter() < deadline)):
            passes.append(bench.run_pass(timed=True))
        wall_s = time.perf_counter() - t0
        window = {
            "passes": passes,
            "wall_s": wall_s,
            "ops": sum(len(p["order"]) for p in passes),
            "cached_bytes": cached_bytes,
            "storage_bytes": bench.status.storage_bytes(),
            "retained_bytes": bench.status.retained_bytes(bench.sampler.root),
        }
        t0 = time.perf_counter()
        checks = bench.check_outputs(pinned)
        checks_s = time.perf_counter() - t0
    finally:
        peak_rss = bench.shutdown()

    latencies = [v for p in passes for v in p["latencies"].values() if v is not None]
    attempted = window["ops"] + len(checks)
    failed = sum(1 for p in passes for v in p["latencies"].values() if v is None)
    failed += sum(1 for c in checks if not c["ok"])

    # Self-check: every pass starts from the same cache state, so the
    # number of session-cache builds per pass is fixed by the program
    # (pinned per workload and scale), whatever the op order.
    persist = [p["persist_builds"] for p in warm + passes]
    want = expected["persist_builds_per_pass"].get(f"{args.workload}@{bench.scale}")
    persist_ok = len(set(persist)) == 1 and (want is None or persist[0] == want)

    setup_s = setup["total_s"] + warmup_s
    tail_s, tail_beyond = tail(latencies) if latencies else (0.0, 0)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (window["ops"] / wall_s, "1/s"),
        "pass_s": (statistics.median(p["pass_s"] for p in passes), "s"),
        "retained_mb": (sum(window["retained_bytes"].values()) / 2**20, "MB"),
        "ok_frac": ((attempted - failed) / attempted, "fraction"),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": bench.scale,
        "host": host_facts(),
        "end_to_end": {k: v for k, (v, _u) in end_to_end.items()},
        "failed_frac": failed / attempted,
        "peak_rss_mb": peak_rss / 2**20,
        "retained_bytes": window["retained_bytes"],
        # A window holds three or four ops of each kind, so its median and
        # tail are one op kind's latency: recorded, not gated.
        "op_latency": {
            "p50_s": statistics.median(latencies) if latencies else 0.0,
            f"p{TAIL_PERCENTILE}_s": tail_s,
            "samples": len(latencies),
            "beyond_tail": tail_beyond,
        },
        "setup": setup,
        "warm_pass_s": [p["pass_s"] for p in warm],
        "warm_op_s": [p["latencies"] for p in warm],
        "window_pass_s": [p["pass_s"] for p in passes],
        "window_op_s": [p["latencies"] for p in passes],
        "persist_builds_per_pass": persist,
        "persist_builds_expected": want,
        "failures": bench.failures,
        "checks": checks,
        "checks_s": checks_s,
    }
    metrics = end_to_end
    if args.trace:
        metrics, breakdown = per_layer(bench, setup, warmup_s, window)
        record["per_layer"] = {k: v for k, (v, _u) in metrics.items()}
        record["breakdown"] = breakdown
    write_results(args, record, bench.tracer.spans if bench.tracer else None)

    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": failed == 0 and persist_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def write_results(args, record: dict, spans: list[dict] | None) -> None:
    out = os.path.join(WORK, "results")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if spans is not None:
        with open(stem + ".spans.json", "w") as f:
            json.dump(spans, f)


if __name__ == "__main__":
    sys.exit(main())
