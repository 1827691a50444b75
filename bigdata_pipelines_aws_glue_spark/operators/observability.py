"""Observed-metrics surface (``DataFrame.observe`` / ``Observation``)
— the production-monitoring hook the rest of the registry doesn't
exercise: named aggregates evaluated ON THE SIDE of a pipeline's
normal execution, collected from the listener bus without a second
scan. The reference's ETL script recomputes row counts with extra
passes (glue_job.py:99 collects the frame just to log its size);
``observe`` is the Spark-first replacement — metrics ride the same
job, costing one accumulator merge per task.

Also home to the Arrow-native ``mapInArrow`` kernel: the lowest-
overhead Python batch path (RecordBatch in, RecordBatch out — no
pandas materialization at all), demonstrated on byte/token stats the
oracle replays in SQL.

At 100 TB: observed metrics are accumulator-sized (a handful of
scalars per task), and the mapInArrow pass is map-only with Arrow's
zero-copy columnar batches — the cheapest possible Python touch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.functions.rounding import (
    dec_qsum,
    stable_round,
)
from bigdata_pipelines_aws_glue_spark.sources.local import local_frame
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

#: q6-style revenue-opportunity predicate (the registry's q6 shape)
_DISC_LO, _DISC_HI = 0.05, 0.07
_QTY_MAX = 24


def observed_metrics_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q6 filter-aggregate with an ``Observation`` attached to the
    SCAN: while the pipeline computes its revenue answer, the observe
    node records how many rows the scan produced and their total
    quantity — the keep-rate telemetry a production filter job ships
    to monitoring, with NO second pass over the data (one action,
    metrics via the listener bus).

    The returned row fuses the observed metrics with the pipeline's
    own aggregate, so the driver's hash check attests BOTH the answer
    and the metrics channel. Revenue sums are decimal-carried
    (dec_qsum); the one ``collect`` is the pipeline's own 1-row
    aggregate — metadata, not data."""
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("scan_metrics")
    observed = li.select(
        "l_quantity", "l_extendedprice", "l_discount"
    ).observe(
        obs,
        F.count(F.lit(1)).alias("n_scanned"),
        dec_qsum(F.col("l_quantity"), 100.0).alias("qty_q"),
    )
    kept = observed.filter(
        (F.col("l_discount") >= _DISC_LO)
        & (F.col("l_discount") <= _DISC_HI)
        & (F.col("l_quantity") < _QTY_MAX)
    )
    agg = kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        dec_qsum(
            F.col("l_extendedprice") * F.col("l_discount"), 10000.0
        ).alias("rev_q"),
    )
    row = agg.collect()[0]  # the action that materializes the metrics
    m = obs.get
    out = local_frame(
        spark,
        [
            (
                int(m["n_scanned"]),
                float(int(m["qty_q"]) / 100.0),
                int(row["n_kept"]),
                float(int(row["rev_q"]) / 10000.0),
            )
        ],
        "n_scanned long, qty_scanned double, n_kept long, revenue double",
    )
    return out.select(
        "n_scanned",
        stable_round(F.col("qty_scanned"), 2).alias("qty_scanned"),
        "n_kept",
        stable_round(F.col("revenue"), 4).alias("revenue"),
        stable_round(
            F.col("n_kept") / F.col("n_scanned").cast("double"), 6
        ).alias("keep_share"),
    )


OBSERVED_Q6_ORACLE = f"""
WITH scan AS (
    SELECT l_quantity, l_extendedprice, l_discount FROM lineitem
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n_scanned,
           CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS HUGEINT))
                AS HUGEINT) AS qty_q
    FROM scan
),
k AS (
    SELECT CAST(count(*) AS BIGINT) AS n_kept,
           CAST(coalesce(sum(CAST(floor(l_extendedprice * l_discount
                                        * 10000.0 + 0.5) AS HUGEINT)), 0)
                AS HUGEINT) AS rev_q
    FROM scan
    WHERE l_discount >= {_DISC_LO} AND l_discount <= {_DISC_HI}
      AND l_quantity < {_QTY_MAX}
)
SELECT n_scanned,
       floor((CAST(qty_q AS DOUBLE) / 100.0) * 100.0 + 0.5) / 100.0
         AS qty_scanned,
       n_kept,
       floor((CAST(rev_q AS DOUBLE) / 10000.0) * 10000.0 + 0.5) / 10000.0
         AS revenue,
       floor((CAST(n_kept AS DOUBLE) / CAST(n_scanned AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS keep_share
FROM m, k
"""


def arrow_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language byte/token rollup where the per-document stats are
    computed by a ``mapInArrow`` kernel — RecordBatch in, RecordBatch
    out, pure ``pyarrow.compute`` calls, no pandas object
    materialization (the cheapest Python batch path Spark offers; the
    pandas kernels elsewhere pay the Arrow→pandas→Arrow round trip).
    The downstream rollup is ordinary JVM aggregation, so the Python
    stage stays map-only."""
    import pyarrow as pa

    def stats(batches):
        import pyarrow.compute as pc

        for batch in batches:
            text = batch.column("text")
            toks = pc.split_pattern(pc.utf8_trim_whitespace(text), " ")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    batch.column("lang"),
                    pc.cast(pc.binary_length(text), pa.int64()),
                    pc.cast(pc.list_value_length(toks), pa.int64()),
                ],
                ["doc_id", "lang", "n_bytes", "n_tokens"],
            )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    per_doc = docs.mapInArrow(
        stats, "doc_id long, lang string, n_bytes long, n_tokens long"
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("n_tokens").alias("total_tokens"),
            stable_round(
                F.avg(F.col("n_tokens").cast("double")), 4
            ).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


ARROW_STATS_ORACLE = """
WITH per_doc AS (
    SELECT doc_id, lang,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(length(string_split(trim(text), ' ')) AS BIGINT)
             AS n_tokens
    FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       floor(avg(CAST(n_tokens AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
         AS avg_tokens
FROM per_doc GROUP BY lang ORDER BY lang
"""


def _register() -> None:
    registry.register(
        "observed_metrics_q6", observed_metrics_q6, OBSERVED_Q6_ORACLE
    )
    registry.register("arrow_doc_stats", arrow_doc_stats, ARROW_STATS_ORACLE)
