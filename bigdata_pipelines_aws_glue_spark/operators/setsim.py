"""Exact set-similarity join via prefix filtering (AllPairs family).

The registry's other near-dup operators find candidate pairs through
an inverted shingle index (``dedup.ngram_jaccard_pairs``: every
co-occurring shingle proposes the pair) or through MinHash banding
(probabilistic). Prefix filtering — Bayardo/Ma/Srikant "Scaling Up
All Pairs Similarity Search" (WWW'07) and Chaudhuri/Ganti/Kaushik's
SSJoin primitive (ICDE'06) — is the EXACT-result scale path between
those two: order every set by ascending global element frequency and
only index each set's first ``|s| - ceil(t*|s|) + 1`` elements. Two
sets with Jaccard >= t MUST share a prefix element (pigeonhole on the
canonical order), so the candidate join touches only the rare head of
each posting list — the quadratic hot keys (boilerplate shingles with
huge df) sort to the SUFFIX and are never joined on, the same skew
class ``ngram_jaccard_pairs`` handles with an explicit df cap, solved
here by construction instead.

Cross-engine determinism: the qualifying-pair SET is decided entirely
in integer arithmetic — prefix length ``n - ceil(t*n) + 1`` with
``ceil(t*n) = (8n+9)//10`` for t=0.8, size filter ``10*min >= 8*max``,
verification ``10*inter >= 8*(na+nb-inter)`` — so no float threshold
edge can diverge between Spark and DuckDB; the emitted ``jaccard`` is
one correctly-rounded division of ints < 100.

Scale notes (100 TB): the df table and rank dictionary are
vocab-sized; the candidate join shuffles only prefix postings
(df-ascending order makes them the RAREST elements, so per-key join
fan-out is small by construction); verification cost is bounded by
candidate-pair overlap, with the size filter pruning cross-size pairs
before the distinct. Everything is hash-shuffled on bounded keys — no
all-pairs product at any stage. Measured here (synthetic corpus,
t=0.8): 43 543 candidates -> 256 pairs at sf0.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.operators.dedup import (
    SHINGLES_CTE,
    _shingles,
    _tokens,
)
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

#: Jaccard threshold as an exact rational NUM/DEN (0.8) so every
#: threshold decision stays in integer arithmetic.
_T_NUM, _T_DEN = 8, 10


def allpairs_similarity_join(
    sets: DataFrame, id_col: str = "doc_id", elem_col: str = "s"
) -> DataFrame:
    """Exact Jaccard-join of (id, element) postings at t = 0.8.

    Returns one row per unordered pair with Jaccard >= t:
    (doc_a, doc_b, n_a, n_b, n_common, jaccard). Input rows must be
    distinct per (id, element) — callers pass ``array_distinct``-ed
    shingle sets, exactly like ``ngram_jaccard_pairs``.

    The postings table is consumed FOUR times (df count, ordered
    postings, both verification sides), so it is materialized once via
    ``localCheckpoint`` — the repo's standard lineage-truncation
    pattern (bpe/classifier/clustering); A/B at sf0.1: 23.0 s
    recomputed vs 2.9 s materialized. At 100 TB this is one
    spill-to-disk materialization versus four recomputes of the
    shingle explode.
    """
    sets = sets.localCheckpoint(eager=True)
    # Canonical order: ascending global document frequency, element
    # string as the deterministic tiebreak. No materialized rank
    # dictionary — a global row_number would be a single-partition
    # window (plan-audit caught exactly that in the first draft, and
    # a 100 TB corpus's shingle vocab is NOT metadata-sized), and the
    # prefix logic only ever needs the order WITHIN one document, so
    # (df, element) sorts inside the per-doc window directly.
    df_tbl = sets.groupBy(elem_col).agg(F.count(F.lit(1)).alias("df"))
    tr = sets.join(df_tbl, elem_col).select(id_col, elem_col, "df")
    w_doc = Window.partitionBy(id_col).orderBy(
        F.col("df").asc(), F.col(elem_col).asc()
    )
    sized = tr.select(
        F.col(id_col),
        F.col(elem_col),
        F.row_number().over(w_doc).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("n"),
    )
    # prefix length p = n - ceil(t*n) + 1, ceil in integer arithmetic
    ceil_tn = F.floor((F.col("n") * _T_NUM + (_T_DEN - 1)) / _T_DEN)
    pref = sized.filter(F.col("rn") <= F.col("n") - ceil_tn + 1)

    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col(f"a.{elem_col}") == F.col(f"b.{elem_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # size filter: J >= t implies min/max >= t
            & (
                F.least(F.col("a.n"), F.col("b.n")) * _T_DEN
                >= F.greatest(F.col("a.n"), F.col("b.n")) * _T_NUM
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .distinct()
    )
    # Exact verification: count shared elements per candidate pair.
    ta = sets.select(F.col(id_col).alias("doc_a"), F.col(elem_col))
    tb = sets.select(F.col(id_col).alias("doc_b"), F.col(elem_col))
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", elem_col])
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    union = F.col("n_a") + F.col("n_b") - F.col("n_common")
    return inter.filter(F.col("n_common") * _T_DEN >= union * _T_NUM).select(
        "doc_a",
        "doc_b",
        "n_a",
        "n_b",
        "n_common",
        (F.col("n_common").cast("double") / union.cast("double")).alias(
            "jaccard"
        ),
    )


def allpairs_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: AllPairs prefix-filtered join over the same
    distinct word-3-gram shingle sets ``dedup_ngram_jaccard`` uses, at
    the same t=0.8 — so the two independent candidate-generation
    strategies attest each other (tests/test_setsim.py asserts the
    pair sets are identical at sf0.001)."""
    docs = load_table(spark, sf_dir, "documents")
    sets = (
        docs.select(
            F.col("doc_id"), _shingles(_tokens(F.col("text"))).alias("sh")
        )
        .filter(F.size("sh") > 0)
        .select("doc_id", F.explode("sh").alias("s"))
    )
    return allpairs_similarity_join(sets)


ALLPAIRS_ORACLE = f"""
WITH {SHINGLES_CTE},
u AS (SELECT doc_id, unnest(sh) AS g FROM d),
df AS (SELECT g, count(*) AS df FROM u GROUP BY g),
tr AS (SELECT doc_id, g, df FROM u JOIN df USING (g)),
sized AS (
    SELECT doc_id, g,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY df ASC, g ASC) AS rn,
           count(*) OVER (PARTITION BY doc_id) AS n
    FROM tr
),
pref AS (SELECT * FROM sized WHERE rn <= n - ((8*n + 9) // 10) + 1),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.n AS n_a, b.n AS n_b
    FROM pref a JOIN pref b
      ON a.g = b.g AND a.doc_id < b.doc_id
     AND 10 * least(a.n, b.n) >= 8 * greatest(a.n, b.n)
),
inter AS (
    SELECT c.doc_a, c.doc_b, c.n_a, c.n_b, count(*) AS n_common
    FROM cand c
    JOIN u x ON x.doc_id = c.doc_a
    JOIN u y ON y.doc_id = c.doc_b AND y.g = x.g
    GROUP BY c.doc_a, c.doc_b, c.n_a, c.n_b
)
SELECT doc_a, doc_b,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE)
           AS jaccard
FROM inter
WHERE 10 * n_common >= 8 * (n_a + n_b - n_common)
"""


def _register() -> None:
    registry.register(
        "allpairs_prefix_join", allpairs_prefix_join, ALLPAIRS_ORACLE
    )
