"""SparkSession factory (reference engine bootstrap, ``glue_job.py:28-32``).

The reference builds SparkContext -> GlueContext -> session -> Job.init.
Here a single ``SparkSession`` replaces all of it. Defaults are chosen
for correctness-at-scale:

- UTC session timezone so timestamp arithmetic matches the DuckDB
  oracle and is stable across clusters,
- AQE on (coalesce shuffle partitions, skew-join splitting) — the
  runtime re-planner that makes a static plan survive 100 TB inputs,
- Arrow enabled for the few pandas-UDF operators (multimodal, LSH),
- shuffle partitions sized for local[32] tests; on a real cluster AQE
  coalesces from a deliberately high initial number,
- Python workers forked from ``daemon`` (``spark.python.daemon.module``),
  which stops each task from re-reading ``pyspark.zip`` and the other
  archives on the worker's path, and which imports the Arrow stack
  (pyarrow, pandas, the Arrow serializers) and freezes it out of the
  collector's reach before forking, so the full ``gc.collect()`` a
  reused worker runs after each task walks only that task's objects,
- ``spark.executorEnv.PYTHONPATH`` set to the directory holding this
  package, so workers import the checkout the driver imported.

Deployment rule these imply: an executor's Python must import this
package when it starts, because the daemon module is imported before
any task adds its paths. Install the package on the executors, or put
it on ``spark.executorEnv.PYTHONPATH``; shipping it only through
``addPyFile`` or ``--py-files`` no longer suffices.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "bigdata-pipelines-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a configured SparkSession.

    On a cluster, ``master`` comes from spark-submit; locally we
    default to ``local[N]`` with N from ``$SPARK_GRAFT_CPUS``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if master:
        builder = builder.master(master)
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Idempotent re-runs overwrite only the partitions they produce
        # (replaces Glue job bookmarks, glue_job.py:181 — SURVEY §2.11 C3).
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # Keep scans bounded at scale; AQE coalesces small ones back.
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.python.daemon.module": f"{__package__}.daemon",
        "spark.executorEnv.PYTHONPATH": PACKAGE_ROOT,
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
