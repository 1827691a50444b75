"""Fuzzy entity resolution: blocked edit-distance matching + golden
records.

The classic record-linkage pipeline (Fellegi–Sunter lineage, the
standard blocking formulation per Christen's survey), Spark-first:

1. **Collapse to the vocabulary.** Matching runs on DISTINCT names
   with their row counts, never on base rows — the name vocabulary
   grows far sublinearly in the corpus, so the pairwise stage is
   decoupled from the 100 TB fact scan (one keyed aggregation).
2. **Block.** Candidate pairs must share a blocking key (here the
   head noun — the last whitespace token); the quadratic compare is
   confined to blocks, the make-or-break of ER at scale. On this
   corpus noun-blocking is lossless (24/24 of the unblocked
   edit-distance pairs survive, verified in tests).
3. **Compare.** ``levenshtein`` (JVM codegen on Spark, native in
   DuckDB — identical classic DP semantics, exact integers) with a
   fixed ``MAX_EDIT`` threshold.
4. **Cluster + survivorship.** Connected components over the match
   graph (``clustering.connected_components``: min-label propagation
   through ``graph.relax``, which takes string ids as they are) label
   each name with its component's lexicographic-min name, the
   canonical, giving the golden-record mapping every raw row can be
   redirected through with one equi-join.

Both queries are exact (integer distances, string mins), so the
DuckDB twins — including a recursive transitive-closure CTE for the
components — hash-check bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.operators.clustering import (
    connected_components,
)
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

MAX_EDIT = 2


def _name_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def _fuzzy_pairs(names: DataFrame) -> DataFrame:
    """(name_a < name_b, dist): same-block pairs within MAX_EDIT.
    Left unhinted: the vocab table is small but unbounded, so the
    planner/AQE picks the join strategy (the maybe_broadcast
    discipline)."""
    block = F.element_at(F.split(F.col("p_name"), " "), -1)
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n_rows").alias("rows_a"),
        block.alias("blk"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("n_rows").alias("rows_b"),
        block.alias("blk"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= MAX_EDIT)
    )


def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The match stage's output: candidate duplicate name pairs with
    their edit distance and row weights (the merge impact)."""
    return (
        _fuzzy_pairs(_name_stats(spark, sf_dir))
        .select("name_a", "name_b", "dist", "rows_a", "rows_b")
        .orderBy("name_a", "name_b")
    )


def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship: every distinct name mapped to its cluster's
    canonical (lexicographic-min) name. Singletons map to themselves,
    so the output is a total function over the vocabulary — base rows
    redirect through it with one equi-join."""
    names = _name_stats(spark, sf_dir)
    comps = connected_components(
        _fuzzy_pairs(names), src="name_a", dst="name_b"
    )
    return (
        names.join(
            comps.select(F.col("node").alias("p_name"), "component"),
            "p_name",
            "left",
        )
        .select(
            "p_name",
            F.coalesce("component", "p_name").alias("canonical"),
            "n_rows",
        )
        .orderBy("p_name")
    )


_PAIRS_SQL = f"""
n AS MATERIALIZED (
    SELECT p_name, CAST(count(*) AS BIGINT) AS n_rows
    FROM part GROUP BY p_name
),
pairs AS MATERIALIZED (
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
           a.n_rows AS rows_a, b.n_rows AS rows_b
    FROM n a JOIN n b
      ON string_split(a.p_name, ' ')[-1] = string_split(b.p_name, ' ')[-1]
     AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {MAX_EDIT}
)"""

FUZZY_MATCH_ORACLE = f"""WITH {_PAIRS_SQL}
SELECT name_a, name_b, dist, rows_a, rows_b
FROM pairs
ORDER BY name_a, name_b
"""

GOLDEN_RECORD_ORACLE = f"""WITH RECURSIVE {_PAIRS_SQL},
edges AS MATERIALIZED (
    SELECT name_a AS u, name_b AS v FROM pairs
    UNION
    SELECT name_b AS u, name_a AS v FROM pairs
),
reach(node, lbl) AS (
    SELECT p_name, p_name FROM n
    UNION
    SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
),
canon AS (SELECT node, min(lbl) AS canonical FROM reach GROUP BY node)
SELECT n.p_name, c.canonical, n.n_rows
FROM n JOIN canon c ON c.node = n.p_name
ORDER BY n.p_name
"""


def _register() -> None:
    registry.register("fuzzy_match_parts", fuzzy_match_parts, FUZZY_MATCH_ORACLE)
    registry.register("er_golden_record", er_golden_record, GOLDEN_RECORD_ORACLE)
