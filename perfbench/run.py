"""CPU-second benchmark of the engine: registry queries and the ping ETL.

Run from the repository root:

    python3 perfbench/run.py --workload query_multijob --seed 1 --seconds 8 --trace 0

One run: make the workload's inputs from the seed, start the engine
(``session.get_spark``), run untimed warm-up passes on those inputs,
then timed passes until ``--seconds`` have passed, then check the last
pass's outputs.  The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics, CPU seconds of the whole
process tree (driver, JVM, Python workers):
  setup_s     process start to the first timed op, minus input generation
  pass_cpu_s  median over timed passes, without the JIT compiler threads
  op_cpu_s    median over timed ops, without the JIT compiler threads
The JIT compiles for longer than any warm-up a run can afford, so its
threads are left out of the timed figures and reported per layer
(``jit.cpu_s``); ``setup_s`` keeps them.

``--trace 1`` alternates untraced and traced passes and reports the
per-layer metrics from the traced ones, the tracing overhead, and each
span's self time; the spans are written to perfbench/out/.
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

from probes import Host, Jvm, StatusStore, Tracer, TreeCpu, jvm_peak_rss_mb, planning_phases
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CPUS = 4
SHUFFLE_PARTITIONS = 4
MIN_TIMED_PASSES = 2


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def percentile(values: list[float], q: float) -> float:
    if len(values) < 2:
        return median(values)
    return float(statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1])


class Harness:
    """Times ops for a workload.  In traced passes it also runs each op
    under its own Spark job group and reads each layer's counters
    around it."""

    def __init__(self, spark, cpu, tracer) -> None:
        self.spark = spark
        self.cpu = cpu
        self.tracer = tracer
        self.jvm = Jvm(spark)
        self.status = StatusStore(spark)
        self.traced = False
        self.pass_ops: list[dict] = []
        self.pass_extra: dict[str, float] = {}
        self.failed = 0
        self._op_seq = 0
        self._stream_jobs: set[int] = set()

    def _begin_op(self, name: str) -> dict:
        self._op_seq += 1
        op = {"id": f"op{self._op_seq}", "name": name}
        if self.traced:
            self.spark.sparkContext.setJobGroup(op["id"], name)
        op["t0"], op["c0"] = time.perf_counter(), self.cpu.sample().work
        return op

    def _end_op(self, op: dict) -> None:
        op["wall"] = time.perf_counter() - op.pop("t0")
        op["cpu"] = self.cpu.sample().work - op.pop("c0")
        self.pass_ops.append(op)

    def query_op(self, name: str, build, layer: str = "plans.build"):
        """Build a DataFrame and extract it with ``toPandas``; returns
        the pandas frame, or None when the op failed."""
        op = self._begin_op(name)
        pdf = None
        try:
            with self.tracer.span("op", op["id"]):
                with self.tracer.span(layer):
                    df = build(self.spark)
                if self.traced:
                    op["t_build"] = time.perf_counter() - op["t0"]
                    op["c_build"] = self.cpu.sample().work - op["c0"]
                    op["build_jobs"] = len(self.status.job_ids(op["id"]))
                with self.tracer.span("extract"):
                    pdf = df.toPandas()
                if self.traced:
                    op["rows"] = len(pdf)
                    op.update(planning_phases(df))
        except Exception:
            traceback.print_exc()
            op["failed"] = True
            self.failed += 1
        self._end_op(op)
        if self.traced:
            with self.tracer.span("status_store"):
                op.update(self.status.jobs_summary(self.status.job_ids(op["id"])))
        return pdf

    def micro_batch_op(self, query, drop) -> None:
        """Drop one input file and wait for the query to process it."""
        op = self._begin_op("micro_batch")
        seen = query.lastProgress["batchId"] if self.traced and query.lastProgress else -1
        try:
            with self.tracer.span("op", op["id"]):
                with self.tracer.span("streaming.micro_batch"):
                    drop()
                    query.processAllAvailable()
        except Exception:
            traceback.print_exc()
            op["failed"] = True
            self.failed += 1
        self._end_op(op)
        if self.traced:
            with self.tracer.span("status_store"):
                progress = [p for p in query.recentProgress if p["batchId"] > seen]
                op.update(streaming_progress(progress))
                # the stream runs its batches under its own job group
                ids = [j for j in self.status.job_ids(str(query.runId)) if j not in self._stream_jobs]
                self._stream_jobs.update(ids)
                op.update(self.status.jobs_summary(ids))

    def sink_written(self, path: str) -> None:
        files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
                 if f.endswith(".parquet")]
        self.pass_extra["sinks.files_written"] = float(len(files))
        self.pass_extra["sinks.bytes_written"] = float(sum(os.path.getsize(f) for f in files))


STREAM_DURATIONS = {
    "streaming.trigger_s": "triggerExecution",
    "streaming.add_batch_s": "addBatch",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.get_batch_s": "getBatch",
    "streaming.wal_commit_s": "walCommit",
}


def streaming_progress(progress: list[dict]) -> dict[str, float]:
    out = {k: sum(p["durationMs"].get(v, 0) for p in progress) / 1e3
           for k, v in STREAM_DURATIONS.items()}
    out["streaming.input_rows"] = float(sum(p["numInputRows"] for p in progress))
    states = [s for p in progress[-1:] for s in p.get("stateOperators", [])]
    out["streaming.state_rows"] = float(sum(s["numRowsTotal"] for s in states))
    out["streaming.state_bytes"] = float(sum(s["memoryUsedBytes"] for s in states))
    return out


def run_pass(workload, h, traced: bool) -> dict:
    h.traced = traced
    h.pass_ops, h.pass_extra = [], {}
    gc0 = h.jvm.gc_ms() if traced else 0.0
    t0 = time.perf_counter()
    s0 = h.cpu.sample()
    with h.tracer.span("pass"):
        workload.run_pass(h)
    s1 = h.cpu.sample()
    record = {
        "wall": time.perf_counter() - t0,
        "cpu": s1.work - s0.work,
        "tree_cpu": s1.tree - s0.tree,
        "jit.cpu_s": s1.jit - s0.jit,
        "python_workers.cpu_s": s1.workers - s0.workers,
        "ops": h.pass_ops,
        "traced": traced,
    }
    if traced:
        record["jvm.gc_ms"] = h.jvm.gc_ms() - gc0
    record.update(h.pass_extra)
    workload.end_pass()
    return record


OP_SUMS = ["spark.jobs", "spark.stages", "spark.tasks", "executor.run_s", "executor.cpu_s",
           "executor.gc_s", "input.bytes", "shuffle.read_bytes", "shuffle.write_bytes",
           "spill.bytes", "planning.analysis_s", "planning.optimization_s",
           "planning.planning_s", "streaming.input_rows"]
PASS_FIELDS = ["python_workers.cpu_s", "jit.cpu_s", "jvm.gc_ms", "sinks.files_written", "sinks.bytes_written"]


def layer_metrics(passes: list[dict]) -> dict[str, float]:
    """Per-layer figures from traced passes: per-pass totals as the
    median over passes, per-op figures as the median over ops."""
    ops = [op for p in passes for op in p["ops"]]
    m: dict[str, float] = {}
    for key in OP_SUMS:
        m[key] = median([sum(op.get(key, 0.0) for op in p["ops"]) for p in passes])
    for key in PASS_FIELDS:
        m[key] = median([p.get(key, 0.0) for p in passes])
    for key in ("spark.jobs", "spark.stages", "spark.tasks"):
        m[key + "_per_op"] = median([op.get(key, 0.0) for op in ops])
    built = [op for op in ops if "t_build" in op]
    m["plans.build_jobs"] = median([sum(op["build_jobs"] for op in p["ops"] if "t_build" in op)
                                    for p in passes])
    m["plans.build_wall_pct"] = median([100.0 * sum(op.get("t_build", 0.0) for op in p["ops"]) / p["wall"]
                                        for p in passes])
    m["plans.build_s"] = median([op["t_build"] for op in built])
    m["plans.build_cpu_s"] = median([op["c_build"] for op in built])
    m["extract.s"] = median([op["wall"] - op["t_build"] for op in built])
    m["extract.cpu_s"] = median([op["cpu"] - op["c_build"] for op in built])
    m["extract.rows"] = median([sum(op.get("rows", 0) for op in p["ops"]) for p in passes])
    batches = [op for op in ops if op["name"] == "micro_batch"]
    for key in STREAM_DURATIONS:
        m[key] = median([op[key] for op in batches])
    for key in ("streaming.state_rows", "streaming.state_bytes"):
        m[key] = median([max([op.get(key, 0.0) for op in p["ops"]], default=0.0) for p in passes])
    return m


def make_spark(run_dir: str):
    from telemetry_streaming_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            # keep every file the engine writes inside the checkout; a
            # fixed-size heap keeps GC work from depending on heap growth
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            # fixed set of JIT compiler threads: one that exited would take
            # its CPU time out of the per-thread JIT figure
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g"
                                             " -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark, cpu) -> None:
    """Stop Spark, close the JVM and wait until every process this run
    started has ended."""
    pids = cpu.processes()
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    alive = pids
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.05)


def measure(args, run_dir: str) -> tuple[dict, dict]:
    """One run; returns the result line and the run record."""
    host = Host()
    cpu = TreeCpu()
    tracer = Tracer(enabled=bool(args.trace))
    workload = WORKLOADS[args.workload]()

    g0 = cpu.sample().tree
    workload.make_inputs(run_dir, args.seed)
    gen_cpu = cpu.sample().tree - g0

    try:
        with tracer.span("run", "run"):
            with tracer.span("setup", "setup"):
                t0, c0 = time.perf_counter(), cpu.sample().tree
                with tracer.span("session"):
                    spark = make_spark(run_dir)
                boot = {"session.boot_s": time.perf_counter() - t0,
                        "session.boot_cpu_s": cpu.sample().tree - c0}
                h = Harness(spark, cpu, tracer)
                workload.start()
                jit0 = h.jvm.jit_ms()
                warmup = [run_pass(workload, h, traced=False)
                          for _ in range(workload.warmup_passes)]
                boot["jvm.jit_ms"] = h.jvm.jit_ms() - jit0
            setup_s = cpu.sample().tree - gen_cpu
            h.failed = 0  # failures count over the timed ops only

            passes = []
            start = time.perf_counter()
            while len(passes) < MIN_TIMED_PASSES + args.trace or time.perf_counter() - start < args.seconds:
                # a traced run alternates untraced and traced passes, so
                # the overhead is read between neighbours
                if args.trace and len(passes) % 2 == 0:
                    with tracer.span("pass_untraced"):
                        tracer.enabled = False
                        passes.append(run_pass(workload, h, traced=False))
                        tracer.enabled = True
                else:
                    passes.append(run_pass(workload, h, traced=bool(args.trace)))

            with tracer.span("check"):
                failures = workload.check(spark)
            boot["jvm.peak_rss_mb"] = jvm_peak_rss_mb(cpu.processes())
    finally:
        if "spark" in locals():
            shutdown(spark, cpu)
        health = host.finish()

    for msg in failures:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)
    plain = [p for p in passes if not p["traced"]]
    if args.trace:
        metrics = traced_metrics(plain, [p for p in passes if p["traced"]], boot, health)
        metrics.update(tracer.self_times())
        tracer.write(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"))
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_cpu_s": median([p["cpu"] for p in plain]),
            "op_cpu_s": median([op["cpu"] for p in plain for op in p["ops"]]),
        }
    failed = h.failed + len(failures)
    result = {"correct": failed == 0,
              "attempted": sum(len(p["ops"]) for p in passes),
              "failed": failed,
              "metrics": metrics}
    record = {"workload": args.workload, "seed": args.seed, "host": health,
              "generate_cpu_s": gen_cpu,
              "warmup_pass_cpu_s": [round(p["cpu"], 3) for p in warmup],
              "warmup_pass_jit_cpu_s": [round(p["jit.cpu_s"], 3) for p in warmup],
              "warmup_pass_wall_s": [round(p["wall"], 3) for p in warmup],
              "pass_cpu_s": [round(p["cpu"], 3) for p in passes],
              "pass_jit_cpu_s": [round(p["jit.cpu_s"], 3) for p in passes],
              "pass_wall_s": [round(p["wall"], 3) for p in passes]}
    return result, record


def traced_metrics(plain: list[dict], traced: list[dict], boot: dict, health: dict) -> dict:
    metrics = layer_metrics(traced)
    metrics.update(boot)
    plain_ops = [op for p in plain for op in p["ops"]]
    metrics.update({
        "pass_wall_s": median([p["wall"] for p in plain]),
        "pass_samples": float(len(plain)),
        "op_wall_p50_s": median([op["wall"] for op in plain_ops]),
        "op_wall_p90_s": percentile([op["wall"] for op in plain_ops], 90),
        "op_wall_samples": float(len(plain_ops)),
        "host.steal_pct": health["steal_pct"],
        "host.loadavg_1m": health["loadavg_1m"],
        "host.loadavg_1m_end": health["loadavg_1m_end"],
        "pass_tree_cpu_s": median([p["tree_cpu"] for p in plain]),
        "trace.untraced_pass_cpu_s": median([p["cpu"] for p in plain]),
        "trace.traced_pass_cpu_s": median([p["cpu"] for p in traced]),
    })
    metrics["trace.overhead_cpu_s"] = (
        metrics["trace.traced_pass_cpu_s"] - metrics["trace.untraced_pass_cpu_s"]
    )
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}

    run_dir = os.path.join(OUT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    # before anything imports tempfile or launches the JVM
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)
    try:
        result, record = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = result["metrics"]
    undeclared = set(metrics) - set(units)
    if undeclared:
        raise SystemExit(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    # a span a workload never enters reads 0
    metrics.update({n: 0.0 for n in units if n.startswith("self.") and n not in metrics})
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())}
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
