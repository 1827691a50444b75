"""Spans around the layers' public calls, and the event-log join.

A span is one timed call: ``kind`` names the layer (``build``,
``exec``, ``read_inputs``, ...), ``name`` the query or step and
``pass_no`` the pass it belongs to (``-1`` for set-up). With tracing
on, every leaf span sets ``sc.setJobGroup(<span id>)``, so each Spark
job in the event log carries the id of the span that submitted it.
``layer_metrics`` then folds the log's job, stage and task records
into per-layer numbers for the warm passes.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

#: SQL metrics of the Python runner (Spark 4.1) -> per-layer name
PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to initialize Python workers": "python.init_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
#: SQL metric of the columnar file scans -> per-layer name
SCAN_METRICS = {"scan time": "readers.scan_s"}

#: leaf span kinds whose jobs belong to the build layer; the ETL's
#: read_inputs/transform are plans/* query-building functions too
BUILD_KINDS = ("build", "read_inputs", "transform")
#: leaf span kinds whose jobs are the final sink
EXEC_KINDS = ("exec", "write")


class Spans:
    def __init__(self) -> None:
        self.sc = None  # set once the SparkContext exists and tracing is on
        self.items: list[dict] = []

    @contextmanager
    def span(self, kind: str, name: str, pass_no: int, leaf: bool = True):
        sid = f"span-{len(self.items)}"
        record = {"id": sid, "kind": kind, "name": name, "pass": pass_no}
        self.items.append(record)
        if leaf and self.sc is not None:
            self.sc.setJobGroup(sid, f"{kind}:{name}")
        record["t0"] = time.time()
        try:
            yield record
        finally:
            record["t1"] = time.time()
            record["s"] = record["t1"] - record["t0"]

    def of(self, pass_no: int, kinds) -> list[dict]:
        return [s for s in self.items if s["pass"] == pass_no and s["kind"] in kinds]


def _sql_metric_types(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in plan.get("children", ()):
        _sql_metric_types(child, out)


def read_event_log(log_dir: str) -> dict:
    """Jobs (group, wall interval), per-stage task sums, and the names
    of the SQL metrics that any plan declares."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    metric_types: dict[int, tuple[str, str]] = {}
    task_accums: list[tuple[int, int, str, float]] = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[e["Job ID"]] = {"group": group, "t0": e["Submission Time"] / 1e3}
                    for sid in e["Stage IDs"]:
                        # a stage reused (skipped) by a later job keeps
                        # the job that ran it
                        stage_job.setdefault(sid, e["Job ID"])
                elif ev == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1e3
                elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _sql_metric_types(e["sparkPlanInfo"], metric_types)
                elif ev == "SparkListenerTaskEnd":
                    st = stages[e["Stage ID"]]
                    info, tm = e["Task Info"], e.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["failed_tasks"] += bool(info.get("Failed"))
                    st["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    st["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    st["result_bytes"] += tm.get("Result Size", 0)
                    st["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    im = tm.get("Input Metrics") or {}
                    st["input_bytes"] += im.get("Bytes Read", 0)
                    st["input_rows"] += im.get("Records Read", 0)
                    om = tm.get("Output Metrics") or {}
                    st["output_bytes"] += om.get("Bytes Written", 0)
                    st["output_rows"] += om.get("Records Written", 0)
                    for a in info.get("Accumulables", ()):
                        if a.get("Metadata") == "sql" and "Update" in a:
                            task_accums.append(
                                (e["Stage ID"], a["ID"], a.get("Name", ""), float(a["Update"]))
                            )
    # SQL metric updates: timing metrics are ms, nsTiming ns, sizes bytes
    scale = {"timing": 1e-3, "nsTiming": 1e-9}
    for stage_id, acc_id, name, value in task_accums:
        value *= scale.get(metric_types.get(acc_id, ("", "sum"))[1], 1.0)
        key = PYTHON_METRICS.get(name) or SCAN_METRICS.get(name)
        if key:
            stages[stage_id][key] += value
    for sid, jid in stage_job.items():
        if sid in stages:
            stages[sid]["job"] = jid
    sql_metrics = {name for name, _ in metric_types.values()}
    return {"jobs": jobs, "stages": stages, "sql_metrics": sql_metrics}


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _pass_metrics(spans: Spans, log: dict, pass_no: int, cores: int) -> dict:
    leaves = {s["id"]: s for s in spans.items if s["pass"] == pass_no}
    jobs_by_kind: dict[str, list[int]] = defaultdict(list)
    for jid, j in log["jobs"].items():
        span = leaves.get(j["group"])
        if span is not None:
            jobs_by_kind[span["kind"]].append(jid)

    def stage_sum(job_ids, key: str) -> float:
        ids = set(job_ids)
        return sum(
            st.get(key, 0.0)
            for st in log["stages"].values()
            if st.get("job") in ids
        )

    def n_stages(job_ids) -> int:
        ids = set(job_ids)
        return sum(1 for st in log["stages"].values() if st.get("job") in ids and st.get("tasks"))

    def kinds(names) -> list[int]:
        return [j for k in names for j in jobs_by_kind.get(k, ())]

    all_jobs = kinds(jobs_by_kind)
    build_jobs, exec_jobs = kinds(BUILD_KINDS), kinds(EXEC_KINDS)
    build_s = sum(s["s"] for s in spans.of(pass_no, BUILD_KINDS))
    exec_s = sum(s["s"] for s in spans.of(pass_no, EXEC_KINDS))
    build_job_s = _union_s(
        [(log["jobs"][j]["t0"], log["jobs"][j].get("t1", log["jobs"][j]["t0"])) for j in build_jobs]
    )
    task_run_s = stage_sum(exec_jobs, "task_run_s")
    m = {
        "readers.input_bytes": stage_sum(all_jobs, "input_bytes"),
        "readers.input_rows": stage_sum(all_jobs, "input_rows"),
        "build.s": build_s,
        "build.self_s": max(build_s - build_job_s, 0.0),
        "build.jobs": len(build_jobs),
        "build.job_s": build_job_s,
        "build.result_bytes": stage_sum(build_jobs, "result_bytes"),
        "exec.s": exec_s,
        "exec.jobs": len(exec_jobs),
        "exec.stages": n_stages(exec_jobs),
        "exec.tasks": stage_sum(exec_jobs, "tasks"),
        "exec.task_run_s": task_run_s,
        "exec.task_cpu_s": stage_sum(exec_jobs, "task_cpu_s"),
        "exec.core_util": task_run_s / (exec_s * cores) if exec_s > 0 else 0.0,
        "exec.gc_s": stage_sum(exec_jobs, "gc_s"),
        "exec.shuffle_write_bytes": stage_sum(exec_jobs, "shuffle_write_bytes"),
        "exec.shuffle_read_bytes": stage_sum(exec_jobs, "shuffle_read_bytes"),
        "exec.spill_bytes": stage_sum(exec_jobs, "spill_bytes"),
        "exec.failed_tasks": stage_sum(all_jobs, "failed_tasks"),
        "writers.write_s": sum(s["s"] for s in spans.of(pass_no, ("write",))),
        "writers.bytes_written": stage_sum(kinds(("write",)), "output_bytes"),
        "writers.rows_written": stage_sum(kinds(("write",)), "output_rows"),
        "pipeline.read_inputs_s": sum(s["s"] for s in spans.of(pass_no, ("read_inputs",))),
        "pipeline.transform_s": sum(s["s"] for s in spans.of(pass_no, ("transform",))),
    }
    # a SQL metric no plan declares was not measured, rather than zero
    for name, key in (PYTHON_METRICS | SCAN_METRICS).items():
        if name in log["sql_metrics"]:
            m[key] = stage_sum(all_jobs, key)
    for s in spans.of(pass_no, ("query",)):
        m[f"query.{s['name']}.s"] = s["s"]
    return m


def layer_metrics(spans: Spans, log_dir: str, warm_passes: list[int], cores: int) -> dict:
    """Median over the warm passes of each per-pass layer metric, plus
    the set-up spans (pass -1)."""
    log = read_event_log(log_dir)
    per_pass = [_pass_metrics(spans, log, p, cores) for p in warm_passes]
    out = {
        key: statistics.median(m.get(key, 0.0) for m in per_pass)
        for key in per_pass[0]
    }
    for kind, key in (
        ("session.start", "session.start_s"),
        ("session.warmup", "session.warmup_s"),
        ("load_table", "readers.load_table_s"),
    ):
        out[key] = sum(s["s"] for s in spans.of(-1, (kind,)))
    return out
