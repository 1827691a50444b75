"""Self-test of the benchmark, at its smallest sizes.

    python3 perfbench/selftest.py

Runs ``run.py`` on every workload with and without tracing (a 20,000-row
ETL input, ``--seconds 1``) and checks that:

- the last stdout line has exactly the keys ``correct attempted failed
  metrics`` and names every metric with its unit;
- every metric that applies to the workload (all but
  ``run.not_measured``) was measured: it has its own ``metric`` line,
  which the run prints only for values it computed;
- ``llm_data`` runs jobs inside its build calls and crosses the Python
  boundary, and ``etl_write`` writes bytes;
- a deliberately wrong output is counted in ``failed`` and
  ``failed_frac``;
- a checkout without the package exits non-zero and prints no result.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

from run import END_TO_END, PER_LAYER, WORKLOADS, not_measured  # noqa: E402


def run(workload: str, trace: int, env: dict | None = None, bench_dir: str = BENCH):
    cmd = [sys.executable, os.path.join(bench_dir, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    proc = subprocess.run(
        cmd,
        capture_output=True,
        text=True,
        timeout=600,
        env=os.environ | {"PERFBENCH_ETL_ROWS": "20000"} | (env or {}),
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines


def result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"result keys {sorted(out)}")
    return out


def metric_lines(lines: list[str], workload: str) -> dict[str, float]:
    prefix = f"metric {workload} "
    return {
        name: float(value.split()[0])
        for name, value in (
            line[len(prefix):].split(" = ", 1) for line in lines if line.startswith(prefix)
        )
    }


def main() -> int:
    failures: list[str] = []

    def check(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for workload in WORKLOADS:
        for trace, wanted in ((0, END_TO_END), (1, PER_LAYER)):
            code, lines = run(workload, trace)
            check(code == 0, f"{workload} trace={trace} exits 0")
            if code != 0:
                continue
            out = result(lines)
            check(out["correct"] and out["failed"] == 0 and out["attempted"] > 0,
                  f"{workload} trace={trace} outputs match the oracles")
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            check(got == wanted, f"{workload} trace={trace} names every metric with its unit")
            unmeasured = set(wanted) - set(metric_lines(lines, workload)) - not_measured(workload)
            check(not unmeasured,
                  f"{workload} trace={trace} measured every metric that applies"
                  + (f" (not: {sorted(unmeasured)})" if unmeasured else ""))
            m = {k: v["value"] for k, v in out["metrics"].items()}
            if trace and workload == "llm_data":
                check(m["build.jobs"] > 0, "llm_data runs jobs inside its build calls")
                check(m["python.run_s"] > 0, "llm_data crosses the Python boundary")
            if trace and workload == "etl_write":
                check(m["writers.bytes_written"] > 0 and m["bytes_per_input_byte"] > 0,
                      "etl_write writes parquet")

    wrong = WORKLOADS["llm_data"][0]
    code, lines = run("llm_data", 0, {"PERFBENCH_CORRUPT": wrong})
    out = result(lines) if code == 0 else {"failed": 0, "correct": True}
    check(out["failed"] >= 1 and not out["correct"]
          and metric_lines(lines, "llm_data").get("failed_frac", 0) > 0,
          f"a wrong {wrong} output counts as failed")

    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, ".work")) as bare:
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
        code, lines = run("llm_data", 0, bench_dir=os.path.join(bare, "perfbench"))
        check(code != 0 and not any(line.startswith("{") for line in lines),
              "without the package: non-zero exit, no result")

    print("selftest: " + ("all checks passed" if not failures else f"{len(failures)} failed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
