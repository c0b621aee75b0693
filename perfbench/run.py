"""Benchmark of record for spark_extension_spark.

    python3 perfbench/run.py --workload diff_app --seed 1 --seconds 20 --trace 0

Runs one workload (see perfbench/SPEC.md) on a local[4] session with
one client: a single driver thread issues the workload's operations
back to back.  Set-up is the interpreter's imports, the session start
(which launches the JVM), seeded input generation and one untimed
warm-up pass.  Then come the timed passes: ``--seconds`` divided by
the workload's nominal pass length, rounded, and at least one.  Every
operation's output is checked after its timed region.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` traces two
passes and prints the per-layer metrics.  The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``.  The line before it summarises the run: failure share,
sample counts and host noise.  The full record and, for traced runs, the spans are written
under perfbench/results/.
"""

from __future__ import annotations

import time

# set-up time counts from here, so it includes the imports below
_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from pyspark import SparkConf, SparkContext  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from bench import _cpu_sample  # noqa: E402
from perfbench import gen  # noqa: E402
from perfbench.check import Checker, Collected  # noqa: E402
from perfbench.tracing import Tracer, self_seconds  # noqa: E402
from perfbench.workloads import TABLES, WORKLOADS, OpContext  # noqa: E402
from spark_extension_spark import registry  # noqa: E402
from spark_extension_spark.sources.partitioned_write import write_partitioned_by  # noqa: E402
from spark_extension_spark.utils import UnpersistHandle  # noqa: E402

SLOTS = 4  # local[4]
SHUFFLE_PARTITIONS = 32
DRIVER_MEMORY = "2g"
# a timed pass's wall on the 4-core reference host; fixes how many
# passes --seconds buys, so every run measures the same pass positions
NOMINAL_PASS_S = {"diff_app": 7.0, "iterative_graph": 10.0}

END_TO_END = {
    "pass_s": "s",
    "op_p50_s": "s",
    "setup_s": "s",
    "task_exec_mem_mb": "MB",
}
PER_LAYER = {
    "registry.load_s": "s",
    "registry.load_jobs": "count",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_tasks": "count",
    "operators.build_shuffle_bytes": "bytes",
    "operators.build_executor_s": "s",
    "spark.plan_s": "s",
    "spark.action_s": "s",
    "spark.action_jobs": "count",
    "spark.action_stages": "count",
    "spark.action_tasks": "count",
    "spark.action_shuffle_bytes": "bytes",
    "spark.action_spill_bytes": "bytes",
    "spark.action_executor_s": "s",
    "sources.write_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "sources.metadata_s": "s",
    "spark.task_retries": "count",
    "spark.slot_util": "ratio",
    "pre_action_share": "ratio",
    "trace.overhead_s": "s",
}


def session_conf(work: str) -> SparkConf:
    """The session shape of bench.py on local[4]: AQE and Arrow on,
    DataFrame debugging off, UTC, no UI or console progress, a fixed
    heap, and every local directory inside ``work``."""
    tmp = os.path.join(work, "tmp")
    return SparkConf().setAll(
        [
            ("spark.master", f"local[{SLOTS}]"),
            ("spark.app.name", "perfbench"),
            ("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS)),
            ("spark.sql.adaptive.enabled", "true"),
            ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
            ("spark.sql.session.timeZone", "UTC"),
            ("spark.sql.execution.arrow.pyspark.enabled", "true"),
            ("spark.python.sql.dataFrameDebugging.enabled", "false"),
            ("spark.sql.files.openCostInBytes", str(64 * 1024)),
            ("spark.driver.memory", DRIVER_MEMORY),
            ("spark.ui.enabled", "false"),
            ("spark.ui.showConsoleProgress", "false"),
            ("spark.local.dir", os.path.join(work, "local")),
            ("spark.sql.warehouse.dir", os.path.join(work, "warehouse")),
            (
                "spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData"
                f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            ),
        ]
    )


def stop_jvm() -> None:
    """Shut the gateway down and wait for its JVM to exit (it exits when
    its stdin closes)."""
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def start_session(work: str) -> SparkSession:
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spark = SparkSession.builder.config(conf=session_conf(work)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    """Executes a workload's operations, times them, checks them and,
    when tracing, records their spans."""

    def __init__(self, workload: str, seed: int, work: str) -> None:
        self.workload = workload
        self.seed = seed
        self.work = work
        self.ops = WORKLOADS[workload]
        self.spark = None
        self.data = None
        self.checker = None
        self.attempted = 0
        self.failed = 0
        self.failures = []

    def setup(self) -> None:
        """Session start plus seeded input generation."""
        self.spark = start_session(self.work)
        self.data = os.path.join(self.work, "data")
        os.makedirs(self.data)
        expect = gen.GENERATORS[self.workload](self.data, self.seed)
        self.checker = Checker(self.data, TABLES[self.workload], expect)

    def run_pass(self, label: str, tracer: Tracer) -> list:
        """One pass over the operation list; returns each operation's
        wall seconds."""
        pass_dir = os.path.join(self.work, "out", label)
        walls = [self.run_op(op, label, pass_dir, tracer) for op in self.ops]
        shutil.rmtree(pass_dir, ignore_errors=True)
        return walls

    def run_op(self, op, label: str, pass_dir: str, tracer: Tracer) -> float:
        op_id = f"{label}.{op.name}"
        out = os.path.join(pass_dir, op.name)
        ctx = OpContext(self.spark, self.data, out, UnpersistHandle() if op.handle else None)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span(op.layer, op_id):
                built = op.build(ctx)
            with tracer.span("spark.plan", op_id):
                built._jdf.queryExecution().executedPlan()
            if op.partition_by:
                with tracer.span("sources.write", op_id):
                    writer = write_partitioned_by(built, list(op.partition_by))
                    with tracer.span("spark.action"):
                        writer.parquet(out)
            else:
                with tracer.span("spark.action", op_id):
                    if op.action == "collect":
                        result = Collected(built.collect(), built.columns, out)
                    else:
                        built.write.parquet(out)
            if ctx.handle is not None:
                ctx.handle()  # the caller's release of the operator's cached state
            wall = time.perf_counter() - t0
        except Exception:  # an operation that raises counts as failed; the run goes on
            wall = time.perf_counter() - t0
            self._fail(op_id, traceback.format_exc())
            return wall
        finally:
            self.spark.catalog.clearCache()  # harness clean-up, not timed
        tracer.attribute()
        if op.partition_by:
            tracer.note_files(out)
        try:
            problem = op.check(self.checker, result if op.action == "collect" else out)
        except Exception:  # a check that cannot read the output fails the operation
            problem = traceback.format_exc()
        if problem is not None:
            self._fail(op_id, problem)
        return wall

    def _fail(self, op_id: str, why: str) -> None:
        self.failed += 1
        self.failures.append({"op": op_id, "why": why})
        print(f"perfbench: {op_id} failed: {why}", file=sys.stderr)

    def start_memory_window(self) -> None:
        self._window_ms = self.spark.sparkContext._jvm.System.currentTimeMillis()

    def task_exec_memory_mb(self) -> float:
        """Sum of every task's peak execution memory (sort, aggregation
        and join buffers) over the stages submitted since
        ``start_memory_window``."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        none = sc._jvm.java.util.ArrayList()
        stages = sc._jsc.sc().statusStore().stageList(
            none, False, False, sc._gateway.new_array(sc._jvm.double, 0), none
        )
        total = 0
        for i in range(stages.size()):
            st = stages.apply(i)
            submitted = st.submissionTime()
            if submitted.isDefined() and submitted.get().getTime() >= self._window_ms:
                total += st.peakExecutionMemory()
        return total / 2**20

    def close(self) -> None:
        if self.checker is not None:
            self.checker.close()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def host_sample() -> dict:
    busy, steal = _cpu_sample()
    return {"t": time.perf_counter(), "busy": busy, "steal": steal, "la1": os.getloadavg()[0]}


def host_delta(a: dict, b: dict) -> dict:
    return {
        "seconds": round(b["t"] - a["t"], 3),
        "busy_jiffies": b["busy"] - a["busy"],
        "steal_jiffies": b["steal"] - a["steal"],
        "la1_start": a["la1"],
        "la1_end": b["la1"],
    }


def end_to_end(passes: list, setup_s: float, memory_mb: float) -> dict:
    return {
        "pass_s": statistics.median(sum(p) for p in passes),
        "op_p50_s": statistics.median(w for p in passes for w in p),
        "setup_s": setup_s,
        "task_exec_mem_mb": memory_mb / len(passes),
    }


def layer_metrics(tracer: Tracer, traced: dict) -> dict:
    """Per-pass layer totals from the spans, median over the traced
    passes (``traced`` maps pass label to operation walls)."""
    spans = tracer.spans
    metadata_ops = {s.op_id for s in spans if s.name == "sources.metadata"}
    per_pass = []
    for label, walls in traced.items():
        wall = sum(walls)
        m = dict.fromkeys(PER_LAYER, 0.0)
        executor_s = 0.0
        for i, s in enumerate(spans):
            if s.op_id.split(".")[0] != label:
                continue
            if s.name == "registry.load":
                m["registry.load_s"] += s.seconds
                m["registry.load_jobs"] += s.jobs
            elif s.name == "operators.build":
                m["operators.build_s"] += self_seconds(spans, i)
                m["operators.build_jobs"] += s.jobs
                m["operators.build_tasks"] += s.tasks
                m["operators.build_shuffle_bytes"] += s.shuffle_bytes
                m["operators.build_executor_s"] += s.executor_ms / 1000.0
            elif s.name == "spark.plan":
                m["spark.plan_s"] += s.seconds
            elif s.name == "spark.action":
                m["spark.action_s"] += s.seconds
                m["spark.action_jobs"] += s.jobs
                m["spark.action_stages"] += s.stages
                m["spark.action_tasks"] += s.tasks
                m["spark.action_shuffle_bytes"] += s.shuffle_bytes
                m["spark.action_spill_bytes"] += s.spill_bytes
                m["spark.action_executor_s"] += s.executor_ms / 1000.0
            elif s.name == "sources.write":
                m["sources.write_s"] += s.seconds
                m["sources.files_written"] += s.files
                m["sources.bytes_written"] += s.bytes_written
            if s.parent is None and s.op_id in metadata_ops:
                m["sources.metadata_s"] += s.seconds
            m["trace.overhead_s"] += s.bookkeeping
            m["spark.task_retries"] += s.retries
            executor_s += s.executor_ms / 1000.0
        m["spark.slot_util"] = executor_s / (wall * SLOTS)
        m["pre_action_share"] = (
            m["registry.load_s"] + m["operators.build_s"] + m["spark.plan_s"]
        ) / wall
        per_pass.append(m)
    return {k: statistics.median(p[k] for p in per_pass) for k in PER_LAYER}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(HERE, "results")
    # every temporary file of this process and the JVMs stays in the
    # checkout: an inherited SPARK_LOCAL_DIRS would override
    # spark.local.dir, and hsperfdata files go to /tmp whatever the tmpdir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.makedirs(os.environ["TMPDIR"])
    os.makedirs(results, exist_ok=True)
    tempfile.tempdir = None

    runner = Runner(args.workload, args.seed, work)
    host0 = host_sample()
    try:
        runner.setup()
        off = Tracer(runner.spark, False)
        warm_walls = runner.run_pass("w", off)
        setup_s = time.perf_counter() - _T0
        runner.start_memory_window()
        htimed0 = host_sample()
        if args.trace:
            tracer = Tracer(runner.spark, True)
            original_load = registry.load

            def traced_load(spark, sf_dir, table):
                with tracer.span("registry.load"):
                    return original_load(spark, sf_dir, table)

            registry.load = traced_load
            try:
                traced = {t: runner.run_pass(t, tracer) for t in ("t0", "t1")}
            finally:
                registry.load = original_load
            passes = list(traced.values())
        else:
            n = max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
            passes = [runner.run_pass(f"p{i}", off) for i in range(n)]
        htimed1 = host_sample()
        memory_mb = runner.task_exec_memory_mb()
    finally:
        runner.close()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    host1 = host_sample()

    if args.trace:
        metrics = layer_metrics(tracer, traced)
        units = PER_LAYER
    else:
        metrics = end_to_end(passes, setup_s, memory_mb)
        units = END_TO_END
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops_failed_frac": runner.failed / runner.attempted,
        "op_samples": sum(len(p) for p in passes),
        "passes": len(passes),
        "warm_up_s": sum(warm_walls),
        "host_timed": host_delta(htimed0, htimed1),
        "host_run": host_delta(host0, host1),
    }
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = dict(
        summary, metrics=metrics, warm_up_walls=warm_walls, pass_walls=passes,
        failures=runner.failures,
    )
    with open(os.path.join(results, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        tracer.dump(os.path.join(results, stem + ".spans.jsonl"))
    print(json.dumps(summary))
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
