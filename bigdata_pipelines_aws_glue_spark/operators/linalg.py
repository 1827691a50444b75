"""Distributed linear algebra on DataFrames: exact-integer
correlation matrices and power-iteration PCA over the embedding
corpus — the feature-engineering passes (redundancy screening,
dimensionality audit) a training-data pipeline runs next to the
ANN/dedup stack.

Cross-engine determinism recipes:

- ``correlation_matrix``: every measure is exact at 2 decimals, so
  power sums are computed over INTEGER cents (Spark sums per-row long
  products into DECIMAL(38,0); DuckDB sums BIGINT products into
  HUGEINT — both exact 128-bit, aggregation-order free; the
  price×price sum overflows a 64-bit long at sf0.1 already, which is
  why the accumulator is 128-bit). The Pearson formula then runs in
  doubles converted from those exact integers — IEEE-identical in
  both engines.
- ``pca_power_iteration``: the covariance matrix is built from
  1e-9-quantized long-summed addends (the ``label_centroids`` move),
  and each power-iteration step (matvec, norm, normalize) uses
  quantized sums too — so all ``PCA_ITERS`` rounds replay as unrolled
  DuckDB CTEs and the dominant eigenpair hash-checks despite being an
  iterative float algorithm.

Scale posture: the correlation pass is ONE map-side-combined
aggregation over the fact (all sums in a single agg — one scan, no
shuffle beyond the 1-row reduce). The covariance build shuffles
(i, j, partial-sum) cells — 64x64 = 4096 keys regardless of corpus
size; iterations operate on the 4096-cell matrix joined against a
64-row vector (broadcast), checkpointed per round like
``similarity.lloyd``. Nothing driver-side except the iterative loop
structure itself.
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

#: (column, scale-to-integer factor) — all exact at 2 decimals.
CORR_MEASURES = (
    ("l_quantity", 100),
    ("l_extendedprice", 100),
    ("l_discount", 100),
    ("l_tax", 100),
)


def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of the lineitem measures from
    exact integer power sums — one aggregation pass, 6 output rows
    (upper triangle). ``corr`` rounds through ``stable_round`` for
    the hash; the exact sums guarantee both engines feed identical
    doubles into the formula."""
    li = load_table(spark, sf_dir, "lineitem")
    ints = {
        c: F.floor(F.col(c) * s + F.lit(0.5)).cast("long")
        for c, s in CORR_MEASURES
    }
    aggs = [F.count(F.lit(1)).alias("n")]
    names = [c for c, _ in CORR_MEASURES]
    for c in names:
        aggs.append(F.sum(ints[c].cast("decimal(38,0)")).alias(f"s_{c}"))
    for i, a in enumerate(names):
        for b in names[i:]:
            aggs.append(
                F.sum((ints[a] * ints[b]).cast("decimal(38,0)")).alias(
                    f"s_{a}_{b}"
                )
            )
    row = li.agg(*aggs)

    def _r(a: str, b: str):
        n = F.col("n").cast("double")
        sa = F.col(f"s_{a}").cast("double")
        sb = F.col(f"s_{b}").cast("double")
        sab = F.col(f"s_{a}_{b}").cast("double")
        saa = F.col(f"s_{a}_{a}").cast("double")
        sbb = F.col(f"s_{b}_{b}").cast("double")
        cov = sab / n - (sa / n) * (sb / n)
        var_a = saa / n - (sa / n) * (sa / n)
        var_b = sbb / n - (sb / n) * (sb / n)
        return cov / F.sqrt(var_a * var_b)

    pairs = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            pairs.append(
                F.struct(
                    F.lit(a).alias("var_a"),
                    F.lit(b).alias("var_b"),
                    stable_round(_r(a, b), 8).alias("corr"),
                )
            )
    return row.select(F.explode(F.array(*pairs)).alias("p")).select(
        "p.var_a", "p.var_b", "p.corr"
    )


def _corr_oracle() -> str:
    names = [c for c, _ in CORR_MEASURES]
    sums = ["CAST(count(*) AS BIGINT) AS n"]
    for c, s in CORR_MEASURES:
        sums.append(
            f"sum(CAST(floor({c} * {s} + 0.5) AS HUGEINT)) AS s_{c}"
        )
    for i, (a, sa) in enumerate(CORR_MEASURES):
        for b, sb in CORR_MEASURES[i:]:
            sums.append(
                f"sum(CAST(floor({a} * {sa} + 0.5) AS BIGINT)"
                f" * CAST(floor({b} * {sb} + 0.5) AS BIGINT)) AS s_{a}_{b}"
            )
    selects = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            expr = (
                f"(CAST(s_{a}_{b} AS DOUBLE) / CAST(n AS DOUBLE)"
                f" - (CAST(s_{a} AS DOUBLE) / CAST(n AS DOUBLE))"
                f" * (CAST(s_{b} AS DOUBLE) / CAST(n AS DOUBLE)))"
                f" / sqrt((CAST(s_{a}_{a} AS DOUBLE) / CAST(n AS DOUBLE)"
                f" - (CAST(s_{a} AS DOUBLE) / CAST(n AS DOUBLE))"
                f" * (CAST(s_{a} AS DOUBLE) / CAST(n AS DOUBLE)))"
                f" * (CAST(s_{b}_{b} AS DOUBLE) / CAST(n AS DOUBLE)"
                f" - (CAST(s_{b} AS DOUBLE) / CAST(n AS DOUBLE))"
                f" * (CAST(s_{b} AS DOUBLE) / CAST(n AS DOUBLE))))"
            )
            selects.append(
                f"SELECT '{a}' AS var_a, '{b}' AS var_b,"
                f" floor(({expr}) * 100000000.0 + 0.5) / 100000000.0 AS corr"
                f" FROM sums"
            )
    return (
        "WITH sums AS (SELECT " + ", ".join(sums) + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(selects)
    )


CORRELATION_ORACLE = _corr_oracle()


PCA_ITERS = 64
_Q9 = 1e9


def _qsum(col, alias):
    """1e-9-quantized order-independent sum (decimal(38,0)-carried —
    long sums wrap past ~9e9 corpus rows at this quantization)."""
    return (dec_qsum(col, _Q9).cast("double") / F.lit(_Q9)).alias(alias)


def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding corpus by power
    iteration. The DISTRIBUTED part is the covariance build — centered
    quantized sums shuffled on (i, j), 64x64 = 4096 cells regardless
    of corpus size. The iteration itself then runs driver-side over
    that d x d metadata matrix (the standard shape: a d x d reduce
    result fits any driver for d ≤ ~10k; precedent: the BPE per-round
    argmax and k-means inertia collects) — with every step's
    arithmetic quantized EXACTLY as the DuckDB replay computes it
    (floor(x·1e9 + 0.5) addends summed as exact integers, so the
    numpy sums are order-independent too). 64 rounds because the
    corpus spectrum is near-degenerate (λ2/λ1 ≈ 0.99 at sf0.01) —
    each unrolled SQL round is a 4096-row matvec, and driver rounds
    are microseconds. Emits one row per dimension: eigenvector
    component + the Rayleigh-quotient eigenvalue."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "val"
        ),
    )
    # quantized per-dim mean (exact long sums -> deterministic double)
    means = x.groupBy("dim").agg(
        (
            (dec_qsum(F.col("val"), _Q9).cast("double") / F.lit(_Q9))
            / F.count(F.lit(1))
        ).alias("m")
    )
    n = emb.count()
    # per-row outer product via double posexplode over the CENTERED
    # array (means joined back as a broadcast d-row table and applied
    # inside transform) — no join/shuffle before the d^2-key partial
    # aggregation, unlike an (a.vec_id == b.vec_id) self-join which
    # would sort-merge two n*d tables first. The shuffle carries only
    # d^2 partial sums per task.
    cvec = (
        means.groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s.getField("m"),
            ).alias("mv")
        )
    )
    centered_arr = (
        emb.crossJoin(F.broadcast(cvec))
        .select(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                F.col("mv"),
                lambda a, b: a - b,
            ).alias("cv")
        )
    )
    cov_rows = (
        centered_arr.select(
            F.posexplode(F.col("cv")).alias("i", "ci"), F.col("cv")
        )
        .select("i", "ci", F.posexplode(F.col("cv")).alias("j", "cj"))
        .groupBy("i", "j")
        .agg(_qsum(F.col("ci") * F.col("cj"), "s"))
        .select("i", "j", (F.col("s") / F.lit(float(n))).alias("cij"))
        .collect()
    )
    d = max(r["i"] for r in cov_rows) + 1
    cov = np.zeros((d, d))
    for r in cov_rows:
        cov[r["i"], r["j"]] = r["cij"]

    def q9sum(addends: np.ndarray) -> float:
        # floor(x·1e9 + 0.5) values are integer-valued doubles; their
        # sum is exact (< 2^53), hence order-independent — identical
        # to the SQL replay's CAST-to-BIGINT sums.
        return float(np.floor(addends * 1e9 + 0.5).sum()) / 1e9

    v = np.full(d, 1.0 / float(d) ** 0.5)
    for _ in range(PCA_ITERS):
        w = np.array([q9sum(cov[i, :] * v) for i in range(d)])
        nrm = float(np.sqrt(q9sum(w * w)))
        v = w / nrm
    cvi = np.array([q9sum(cov[i, :] * v) for i in range(d)])
    lam = q9sum(cvi * v)

    r8 = lambda x: float(np.floor(x * 1e8 + 0.5)) / 1e8  # noqa: E731
    return local_frame(
        spark,
        [(int(i), r8(v[i]), r8(lam)) for i in range(d)],
        "dim long, component double, eigenvalue double",
    )


def _pca_round(i: int) -> str:
    # MATERIALIZED is load-bearing: v{i} references w{i} twice and
    # w{i+1} references v{i} — without it DuckDB inlines the chain
    # and re-evaluates the covariance build 2^PCA_ITERS times.
    return f"""w{i} AS MATERIALIZED (
    SELECT c.i AS dim,
           sum(floor(c.cij * v.v * 1000000000.0 + 0.5)) / 1000000000.0 AS w
    FROM cov c JOIN v{i - 1} v ON c.j = v.dim
    GROUP BY c.i
),
v{i} AS MATERIALIZED (
    SELECT dim, w / (SELECT sqrt(sum(floor(w * w * 1000000000.0 + 0.5))
                                 / 1000000000.0) FROM w{i}) AS v
    FROM w{i}
)"""


_PCA_ROUNDS_SQL = ",\n".join(_pca_round(i) for i in range(1, PCA_ITERS + 1))

PCA_ORACLE = f"""
WITH x AS (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
           CAST(unnest(embedding::DOUBLE[]) AS DOUBLE) AS val
    FROM embeddings
),
means AS (
    SELECT dim,
           (sum(CAST(floor(val * 1000000000.0 + 0.5) AS BIGINT))
              / 1000000000.0) / count(*) AS m
    FROM x GROUP BY dim
),
centered AS (
    SELECT x.vec_id, x.dim, x.val - m.m AS c
    FROM x JOIN means m USING (dim)
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
cov AS MATERIALIZED (
    SELECT a.dim AS i, b.dim AS j,
           (sum(CAST(floor(a.c * b.c * 1000000000.0 + 0.5) AS BIGINT))
              / 1000000000.0)
             / (SELECT CAST(n AS DOUBLE) FROM nn) AS cij
    FROM centered a JOIN centered b USING (vec_id)
    GROUP BY a.dim, b.dim
),
nd AS (SELECT CAST(count(DISTINCT i) AS BIGINT) AS d FROM cov),
v0 AS (
    SELECT DISTINCT i AS dim,
           1.0 / sqrt((SELECT CAST(d AS DOUBLE) FROM nd)) AS v
    FROM cov
),
{_PCA_ROUNDS_SQL},
lam AS (
    SELECT sum(floor(cvi * v.v * 1000000000.0 + 0.5)) / 1000000000.0 AS lam
    FROM (
        SELECT c.i,
               sum(floor(c.cij * v.v * 1000000000.0 + 0.5))
                 / 1000000000.0 AS cvi
        FROM cov c JOIN v{PCA_ITERS} v ON c.j = v.dim
        GROUP BY c.i
    ) q JOIN v{PCA_ITERS} v ON q.i = v.dim
)
SELECT dim,
       floor(v * 100000000.0 + 0.5) / 100000000.0 AS component,
       floor((SELECT lam FROM lam) * 100000000.0 + 0.5) / 100000000.0
           AS eigenvalue
FROM v{PCA_ITERS}
"""


def _register() -> None:
    registry.register(
        "correlation_matrix", correlation_matrix, CORRELATION_ORACLE
    )
    registry.register(
        "pca_power_iteration", pca_power_iteration, PCA_ORACLE
    )
