"""SemDeDup-style semantic deduplication over the embedding corpus
([north-star] N2/N3 composition; Abbas et al. 2023, "SemDeDup: Data-
efficient learning at web-scale through semantic deduplication",
arXiv:2303.09540 — public method).

The method: cluster the embedding space coarsely, then look for
near-duplicate pairs ONLY within a cluster — pairwise cosine is
O(Σ cᵢ²) over bounded cluster sizes instead of O(n²) over the corpus.
Within a cluster, every vector whose cosine to a LOWER-id member
exceeds ``SEMDEDUP_TAU`` is pruned; the lowest id in each near-dup
chain survives (deterministic keep-one policy).

Here the coarse structure is the same quantized per-label centroid
index ``ivf_topk`` uses (``similarity._ranked_cells`` over
``label_centroids`` — trained on the base corpus, then applied to the
batch being deduped, the production shape), which is what makes the
WHOLE pipeline — centroid training, nearest-cell assignment,
within-cell pairing, prune rule — replayable bit-for-bit in the
DuckDB twin. The dedup target is the corpus unioned with an id-offset
copy of itself (same simulated re-ingestion as
``dedup_embedding_cosine``): every copy must land in its twin's cell
and be pruned at cosine ~1.0, while the base corpus (no natural pairs
above ~0.52 cosine, measured) survives.

Scale posture (100 TB): centroids are a broadcast k-row table;
assignment is a map over the corpus (argmin against the broadcast —
the corpus never shuffles for it); the within-cell self-join is an
equi-join on cell id, never a global cross join. Cluster sizes are
bounded by construction in SemDeDup only when k scales with n (n/k
fixed at ~1k-10k members). The per-label cells used here have FIXED
cardinality, so cell populations grow O(n) and the within-cell pair
join is O(n^2/k) — fine at tested scales, but a production 100 TB
deployment must swap in k ∝ n k-means cells (``similarity.lloyd``
at m = 1 trains them) or cap cell size. The max-sim aggregation partial-aggregates
on vec_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.functions.rounding import stable_round
from bigdata_pipelines_aws_glue_spark.operators.similarity import (
    DUP_OFFSET,
    _as_double,
    _ranked_cells,
    _sql_ranked_cells,
    dot,
    norm,
)
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

#: prune threshold — well above the corpus's natural cosine ceiling
#: (~0.52 measured), well below the exact-duplicate ~1.0.
SEMDEDUP_TAU = 0.9


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per vector of the doubled corpus: its assigned cell,
    the cell population, the max cosine to any lower-id cell-mate
    (NULL for each cell's lowest id), and the keep/prune verdict.

    Exactly the 1000-executor plan a SemDeDup pass wants: broadcast
    centroid assignment, per-cell equi-join, keyed max."""
    emb = load_table(spark, sf_dir, "embeddings")
    doubled = emb.select("vec_id", "embedding").unionByName(
        emb.select(
            (F.col("vec_id") + DUP_OFFSET).alias("vec_id"), F.col("embedding")
        )
    )
    v = doubled.select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ).withColumn("n", norm(F.col("v")))
    assigned = (
        _ranked_cells(v, emb)
        .filter(F.col("cr") == 1)
        .select("vec_id", "v", "n", "cell")
    )
    members = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_cell_members")
    )
    pairs = assigned.alias("a").join(
        assigned.alias("b"),
        (F.col("a.cell") == F.col("b.cell"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    max_sim = (
        pairs.select(
            F.col("b.vec_id").alias("vec_id"),
            (
                dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n"))
            ).alias("cos"),
        )
        .groupBy("vec_id")
        .agg(F.max("cos").alias("max_sim"))
    )
    return (
        assigned.join(F.broadcast(members), "cell")
        .join(max_sim, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            "n_cell_members",
            stable_round(F.col("max_sim"), 8).alias("max_sim_lower"),
            (
                F.coalesce(F.col("max_sim"), F.lit(-1.0)) < F.lit(SEMDEDUP_TAU)
            ).alias("is_kept"),
        )
    )


SEMDEDUP_ORACLE = f"""
WITH doubled AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + {DUP_OFFSET}, embedding FROM embeddings
),
v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM doubled
),
{_sql_ranked_cells("v")},
assigned AS (
    SELECT vec_id, e, nrm, cell FROM ranked_cells WHERE cr = 1
),
members AS (
    SELECT cell, CAST(count(*) AS BIGINT) AS n_cell_members
    FROM assigned GROUP BY cell
),
max_sim AS (
    SELECT b.vec_id,
           max(list_dot_product(a.e, b.e) / (a.nrm * b.nrm)) AS m
    FROM assigned a JOIN assigned b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    GROUP BY b.vec_id
)
SELECT s.vec_id, s.cell, mb.n_cell_members,
       floor(ms.m * 100000000.0 + 0.5) / 100000000.0 AS max_sim_lower,
       coalesce(ms.m, -1.0) < {SEMDEDUP_TAU} AS is_kept
FROM assigned s
JOIN members mb USING (cell)
LEFT JOIN max_sim ms ON ms.vec_id = s.vec_id
"""


def _register() -> None:
    registry.register("semdedup_prune", semdedup_prune, SEMDEDUP_ORACLE)
