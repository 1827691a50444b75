"""Closed-loop benchmark of the engine in the checkout this file sits in.

Usage:
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run is one fresh process: generate the ETL input from the seed, set
up a session (``get_spark`` + warm-up jobs + ``load_table`` for the ten
tables of the parquet corpus in ``sf0.001/``), run the workload once
cold with its outputs collected and checked against DuckDB twins, then
run three settling passes and then warm passes for ``--seconds`` (at
least two) with the noop sink.
One client submits the next operation when the previous one finishes.
The seed permutes the query order of every pass and generates the ETL
input.

Each pass is timed on the wall clock and in CPU time: that of this
process, the JVM and the Python workers, read from ``/proc`` before and
after the pass, with the JVM's JIT compiler threads counted apart.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark's event log and job groups and reports the per-layer split
instead, with ``trace.overhead_s`` taken against the untraced runs with
the same workload, ``--seconds`` and ETL size (recorded in this
checkout, else a child run). The
last stdout line is one JSON object; the lines before it name every
metric with its unit, and the host record. A metric that should have
been measured but was not is reported as a problem and makes the run
incorrect.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

from check import QueryOracle, etl_problem
from etl_inputs import write_etl_inputs
from layers import BUILD_KINDS, EXEC_KINDS, Spans, layer_metrics

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
#: the engine's test corpus at its smallest scale, copied byte for byte
CORPUS = os.path.join(BENCH, "sf0.001")
PACKAGE = "bigdata_pipelines_aws_glue_spark"

WORKLOADS: dict[str, tuple[str, ...]] = {
    # north-star LLM-data operators: two whose kernels cross the
    # Arrow/Python boundary (pandas_udf / mapInPandas), and one round
    # loop (BPE merges) that runs its eager jobs inside the build call
    "llm_data": (
        "dedup_minhash_lsh",
        "multimodal_audio_adpcm",
        "pack_training_sequences",
    ),
    # the reference job: CSV -> transform -> partitioned parquet
    "etl_write": (),
}
ALL_QUERIES = tuple(q for qs in WORKLOADS.values() for q in qs)

ETL_ROWS = int(os.environ.get("PERFBENCH_ETL_ROWS", "150000"))
#: passes after the cold one that are run but not measured: the JVM is
#: still compiling (JIT) the code they run, and the CPU time per pass
#: falls by a fifth to a third over the first three
SETTLE_PASSES = 3
#: measured warm passes per run, at least
MIN_WARM_PASSES = 2

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}
PER_LAYER = {
    "wall_s": "s",
    "cold_s": "s",
    "cold_cpu_s": "s",
    "jvm.jit_cpu_s": "s",
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "readers.load_table_s": "s",
    "readers.input_bytes": "bytes",
    "readers.input_rows": "count",
    "readers.scan_s": "s",
    "build.s": "s",
    "build.self_s": "s",
    "build.jobs": "count",
    "build.job_s": "s",
    "build.result_bytes": "bytes",
    **{f"query.{q}.s": "s" for q in ALL_QUERIES},
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.core_util": "ratio",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    "python.run_s": "s",
    "python.init_s": "s",
    "python.start_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "writers.write_s": "s",
    "writers.bytes_written": "bytes",
    "writers.files_written": "count",
    "writers.rows_written": "count",
    "pipeline.read_inputs_s": "s",
    "pipeline.transform_s": "s",
    "bytes_per_input_byte": "ratio",
    "failed_frac": "ratio",
    "trace.overhead_s": "s",
}
PYTHON_METRIC_NAMES = tuple(k for k in PER_LAYER if k.startswith("python."))


def not_measured(workload: str) -> set[str]:
    """Metrics that do not apply to a workload and read 0: the other
    workloads' queries, the ETL output's sizes, the Python runner's SQL
    metrics where no plan has a Python node, and the scan time of the
    columnar scans where only CSV is scanned. Every other metric a run
    reports must have been measured."""
    skip = {f"query.{q}.s" for q in ALL_QUERIES if q not in WORKLOADS[workload]}
    if workload == "etl_write":
        skip |= {"readers.scan_s", *PYTHON_METRIC_NAMES}
    else:
        skip |= {"bytes_per_input_byte", "writers.files_written"}
    return skip


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- host record (context, not metrics) ------------------------------------


def _canary(n_threads: int) -> float:
    """Best-of-2 wall of a fixed LCG+xorshift sweep over 8 MiB of
    uint64 per thread (numpy releases the GIL), all threads started
    together. Same code every run, no Spark involved."""
    import threading

    import numpy as np

    mul, add, sh = np.uint64(6364136223846793005), np.uint64(1442695040888963407), np.uint64(17)
    base = np.arange(1 << 20, dtype=np.uint64)

    def work(barrier: threading.Barrier) -> None:
        y = base.copy()
        barrier.wait()
        for _ in range(20):
            y = y * mul + add
            y ^= y >> sh

    best = float("inf")
    for _ in range(2):
        barrier = threading.Barrier(n_threads + 1)
        threads = [threading.Thread(target=work, args=(barrier,)) for _ in range(n_threads)]
        for t in threads:
            t.start()
        barrier.wait()
        t0 = time.perf_counter()
        for t in threads:
            t.join()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def _steal_s() -> float:
    """CPU time the hypervisor gave to others while this host's vCPUs
    were runnable, summed over vCPUs since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host_record(cores: int) -> dict:
    return {
        "cores": cores,
        "etl_rows": ETL_ROWS,
        "loadavg_1_5_15": [round(x, 2) for x in os.getloadavg()],
        "canary_1t_s": _canary(1),
        f"canary_{cores}t_s": _canary(cores),
    }


# -- process helpers -------------------------------------------------------


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _tree_cpu_s(root: int) -> float:
    """CPU time (user + system) of ``root`` and every process below it,
    counting the CPU of children they have already reaped."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stats[int(name)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                pass  # exited while listing
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += sum(int(x) for x in stats[pid][11:15])
        todo += children.get(pid, ())
    return ticks / os.sysconf("SC_CLK_TCK")


def _jit_cpu_s(jvm_pid: int) -> dict[str, float]:
    """CPU time of each live JIT compiler thread of the JVM, by thread id."""
    out = {}
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                comm, rest = f.read().split("(", 1)[1].rsplit(")", 1)
        except OSError:
            continue  # ended while listing
        if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            out[tid] = sum(int(x) for x in rest.split()[11:13]) / os.sysconf("SC_CLK_TCK")
    return out


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- the measured run ------------------------------------------------------


class Run:
    def __init__(self, args, cores: int, run_dir: str) -> None:
        self.args = args
        self.cores = cores
        self.run_dir = run_dir
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spans = Spans()

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)
        log(f"FAILED {what}")

    # inputs ---------------------------------------------------------------

    def make_inputs(self) -> None:
        t0 = time.time()
        if self.args.workload == "etl_write":
            self.etl_inputs = write_etl_inputs(
                os.path.join(self.run_dir, "etl_in"), self.args.seed, ETL_ROWS
            )
            self.etl_out = os.path.join(self.run_dir, "etl_out")
        self.gen_s = time.time() - t0

    # set-up ---------------------------------------------------------------

    def setup(self):
        from bigdata_pipelines_aws_glue_spark.session import get_spark
        from bigdata_pipelines_aws_glue_spark.sources.readers import TABLES, load_table

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.args.trace:
            self.event_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.event_dir)
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        sp = self.spans
        t0 = time.time()
        with sp.span("session.start", "get_spark", -1, leaf=False):
            spark = get_spark("perfbench", extra_conf=conf)
        if self.args.trace:
            sp.sc = spark.sparkContext
        with sp.span("session.warmup", "warmup", -1):
            # codegen + aggregate path and the broadcast-exchange pool
            from pyspark.sql import functions as F

            spark.range(1000).selectExpr("sum(id)").collect()
            small = spark.range(100).withColumnRenamed("id", "k")
            spark.range(1000).withColumnRenamed("id", "k").join(F.broadcast(small), "k").count()
        with sp.span("load_table", "load_table", -1):
            for t in TABLES:
                load_table(spark, CORPUS, t)
        self.setup_s = time.time() - t0
        self.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return spark

    # passes -----------------------------------------------------------------

    def query_pass(self, spark, fns, pass_no: int, collect: bool) -> tuple[float, dict]:
        names = list(WORKLOADS[self.args.workload])
        self.rng.shuffle(names)
        sp = self.spans
        outputs = {}
        with sp.span("pass", str(pass_no), pass_no, leaf=False) as p:
            for name in names:
                self.attempted += 1
                try:
                    with sp.span("query", name, pass_no, leaf=False):
                        with sp.span("build", name, pass_no):
                            df = fns[name](spark, CORPUS)
                        with sp.span("exec", name, pass_no):
                            if collect:
                                outputs[name] = (df.columns, df.collect())
                            else:
                                df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 - counted, run goes on
                    self.fail(f"{name} pass {pass_no}: {type(e).__name__}: {e}"[:500])
        return p["s"], outputs

    def etl_pass(self, spark, pass_no: int) -> float:
        from bigdata_pipelines_aws_glue_spark.plans.reference_pipeline import (
            PipelineConfig,
            read_inputs,
            transform,
        )
        from bigdata_pipelines_aws_glue_spark.sources.writers import write_partitioned_parquet

        cfg = PipelineConfig(
            input_path=self.etl_inputs["transactions"],
            output_path=self.etl_out,
            currency_rates_path=self.etl_inputs["currency_rates"],
            product_categories_path=self.etl_inputs["product_categories"],
        )
        sp = self.spans
        self.attempted += 1
        with sp.span("pass", str(pass_no), pass_no, leaf=False) as p:
            try:
                with sp.span("read_inputs", "read_inputs", pass_no):
                    inputs = read_inputs(spark, cfg)
                with sp.span("transform", "transform", pass_no):
                    out = transform(*inputs, cfg.target_currency)
                with sp.span("write", "write_partitioned_parquet", pass_no):
                    write_partitioned_parquet(out, cfg.output_path)
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                self.fail(f"etl pass {pass_no}: {type(e).__name__}: {e}"[:500])
        return p["s"]

    def timed_pass(self, spark, fns, pass_no: int) -> tuple[dict, dict]:
        """One pass: its wall time, the CPU time the engine spent on its
        work and, apart from that, the CPU time of the JVM's JIT
        compiler threads. The cold pass (0) collects the query outputs
        for checking."""
        c0, j0 = _tree_cpu_s(os.getpid()), _jit_cpu_s(self.jvm_pid)
        if self.args.workload == "etl_write":
            wall, outputs = self.etl_pass(spark, pass_no), {}
        else:
            wall, outputs = self.query_pass(spark, fns, pass_no, collect=pass_no == 0)
        c1, j1 = _tree_cpu_s(os.getpid()), _jit_cpu_s(self.jvm_pid)
        # a compiler thread that ended during the pass is left out of
        # j1, so its last CPU stays in the work's share
        jit = sum(v - j0.get(tid, 0.0) for tid, v in j1.items())
        return {"wall": wall, "cpu": c1 - c0 - jit, "jit": jit}, outputs

    def check_queries(self, outputs: dict) -> None:
        from bigdata_pipelines_aws_glue_spark import registry

        oracle = QueryOracle(
            CORPUS, os.path.join(WORK, "cache", "oracle.json"), registry.oracle_sql()
        )
        corrupt = os.environ.get("PERFBENCH_CORRUPT")
        for name, (cols, rows) in outputs.items():
            if name == corrupt:  # self-test hook: a deliberately wrong output
                rows = rows[1:]
            problem = oracle.problem(name, cols, rows)
            if problem:
                self.fail(f"{name} output: {problem}")

    def check_etl(self) -> None:
        problem = etl_problem(self.etl_inputs, self.etl_out)
        if problem:
            self.fail(f"etl output: {problem}")

    def measure(self) -> dict:
        from bigdata_pipelines_aws_glue_spark import registry

        spark = self.setup()
        spark.sparkContext.setLogLevel("ERROR")
        fns = registry.queries()
        etl = self.args.workload == "etl_write"
        try:
            cold, outputs = self.timed_pass(spark, fns, 0)
            if not etl:
                self.check_queries(outputs)
            passes: list[dict] = []
            t_warm = None
            while len(passes) < SETTLE_PASSES + MIN_WARM_PASSES or time.time() - t_warm < self.args.seconds:
                if len(passes) == SETTLE_PASSES:
                    t_warm = time.time()
                passes.append(self.timed_pass(spark, fns, len(passes) + 1)[0])
            rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(self.jvm_pid)
        finally:
            _stop_spark(spark)
        self.passes = [cold] + passes
        warm = passes[SETTLE_PASSES:]
        if etl:
            self.check_etl()
        m = {
            "setup_s": self.setup_s,
            "cpu_s": statistics.median(p["cpu"] for p in warm),
            "cold_s": cold["wall"],
            "cold_cpu_s": cold["cpu"] + cold["jit"],
            "wall_s": statistics.median(p["wall"] for p in warm),
            "jvm.jit_cpu_s": statistics.median(p["jit"] for p in warm),
            "peak_rss_mb": rss,
            "failed_frac": self.failed / max(self.attempted, 1),
            "warm_passes": len(warm),
            "input_gen_s": self.gen_s,
        }
        if etl:
            files = [
                os.path.join(d, f)
                for d, _, fs in os.walk(self.etl_out)
                for f in fs
                if f.endswith(".parquet")
            ]
            written = sum(os.path.getsize(f) for f in files)
            m["bytes_per_input_byte"] = written / os.path.getsize(self.etl_inputs["transactions"])
            m["writers.files_written"] = len(files)
        if self.args.trace:
            m |= layer_metrics(self.spans, self.event_dir, list(range(SETTLE_PASSES + 1, len(passes) + 1)), self.cores)
        return m


def wall_s_record(args) -> str:
    """Where untraced runs record their wall_s, one value per seed, keyed
    by every other input that changes it (the seed only permutes the
    query order and draws the ETL input)."""
    key = f"{args.workload}.s{args.seconds:g}.rows{ETL_ROWS}"
    return os.path.join(WORK, "cache", f"wall_s.{key}.json")


def recorded_wall_s(args) -> dict[str, float]:
    try:
        with open(wall_s_record(args)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def untraced_wall_s(args) -> float:
    """wall_s of untraced runs with the same workload, --seconds and ETL
    size: the median of those recorded in this checkout, else a fresh
    child run with the same arguments."""
    recorded = recorded_wall_s(args)
    if not recorded:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, capture_output=True, check=True)  # records its wall_s
        recorded = recorded_wall_s(args)
    return statistics.median(recorded.values())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # The engine under test is the package beside this directory, never
    # an installed or otherwise importable copy; workers import it too.
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"no {PACKAGE} package in {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)  # read when the package is imported

    # Everything a run leaves behind (inputs, ETL output, event log,
    # spark-warehouse, derby.log, shuffle files) goes under one
    # directory in the checkout, removed at the end.
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    cwd = os.getcwd()
    os.chdir(run_dir)
    try:
        import bigdata_pipelines_aws_glue_spark as pkg

        if not os.path.realpath(pkg.__file__).startswith(os.path.realpath(ROOT) + os.sep):
            log(f"{PACKAGE} imported from {pkg.__file__}, not from {ROOT}")
            return 2
        host = host_record(cores)
        run = Run(args, cores, run_dir)
        run.make_inputs()
        steal0 = _steal_s()
        m = run.measure()
        host["steal_s_during_run"] = round(_steal_s() - steal0, 2)
    finally:
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        m["trace.overhead_s"] = m["wall_s"] - untraced_wall_s(args)
    elif "PERFBENCH_CORRUPT" not in os.environ:
        recorded = recorded_wall_s(args) | {str(args.seed): m["wall_s"]}
        os.makedirs(os.path.join(WORK, "cache"), exist_ok=True)
        with open(wall_s_record(args), "w") as f:
            json.dump(recorded, f)
    wanted = PER_LAYER if args.trace else END_TO_END
    skip = not_measured(args.workload)
    unmeasured = sorted(k for k in wanted if k not in m and k not in skip)
    units = END_TO_END | PER_LAYER | {"warm_passes": "count", "input_gen_s": "s"}
    print("host " + json.dumps(host, sort_keys=True))
    for key in sorted(m):
        print(f"metric {args.workload} {key} = {m[key]:.6g} {units[key]}")
    steps: dict[str, list[float]] = {}
    for sp in run.spans.items:
        if sp["pass"] >= 0 and sp["kind"] in BUILD_KINDS + EXEC_KINDS:
            steps.setdefault(f"{sp['kind']}:{sp['name']}", []).append(round(sp["s"], 3))
    print("passes " + json.dumps({
        "settle_passes": SETTLE_PASSES,
        **{k: [round(p[k], 3) for p in run.passes] for k in ("wall", "cpu", "jit")},
        "steps": steps,
    }))
    for p in run.problems:
        print(f"problem {p}")
    for k in unmeasured:
        print(f"problem metric {k} was not measured")
    metrics = {k: {"value": float(m.get(k, 0.0)), "unit": u} for k, u in wanted.items()}
    print(
        json.dumps(
            {
                "correct": run.failed == 0 and not unmeasured,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
