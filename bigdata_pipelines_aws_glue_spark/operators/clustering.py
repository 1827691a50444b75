"""Duplicate-cluster assignment ([north-star] N2 completion,
BASELINE.json:6): near-dup candidate PAIRS are only half the job — a
real curation pipeline must group pairs into clusters and elect one
canonical document per cluster. This is connected components over the
similarity graph.

Spark-first design: min-label propagation on DataFrames through the
package's one min-propagation kernel, :func:`graph.relax`: the
symmetric edge list is checkpointed once, and each round sends only
the labels that moved in the round before, keeps the per-node minimum
and checkpoints the label state, whose moved-row count rides that
checkpoint as an observed metric (no probe job). Rounds needed = graph
diameter + 1; LSH/Jaccard duplicate graphs are near-cliques (diameter
2-3 in practice), so this settles in a handful of shuffles, and a
graph that does not settle within ``CC_MAX_ROUNDS`` raises. For
adversarially chainy graphs the O(log n)-round alternating
large-star/small-star contraction (Kiveris et al., "Connected
Components in MapReduce and Beyond") is the drop-in upgrade,
:func:`connected_components_star`.

The cluster assignment is oracle-checked end-to-end: DuckDB computes
the same components via a recursive transitive-closure CTE over the
identical pair list (:func:`_closure_oracle`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.operators.dedup import (
    NGRAM_JACCARD_ORACLE,
    SIMHASH_HAMMING_ORACLE,
    dedup_simhash_hamming,
    ngram_jaccard_pairs,
)
from bigdata_pipelines_aws_glue_spark.operators.graph import relax
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table


#: Label-propagation rounds: rounds needed = graph diameter + 1 (the
#: last one confirms that nothing moved).
CC_MAX_ROUNDS = 25


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Min-label propagation: every node converges to the smallest node
    id reachable from it. Returns (node, component).

    The symmetric edge list is checkpointed (every round reads it) and
    handed to :func:`graph.relax` with every node labelled by itself.
    Each round shuffles (node, label) pairs of the nodes whose label
    moved — never payload columns — so the per-round cost at 100 TB is
    bounded by |V| + |E| ids, not document bytes. A graph whose
    diameter needs more than ``CC_MAX_ROUNDS`` rounds raises
    ``RuntimeError``: its labels would be wrong components.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    init = sym.select(F.col("src").alias("node"), F.col("src").alias("d"))
    labels, settled = relax(sym, init.distinct(), CC_MAX_ROUNDS)
    if not settled:
        raise RuntimeError(
            f"connected_components did not converge within "
            f"{CC_MAX_ROUNDS} rounds; the graph's diameter needs more — "
            f"use connected_components_star, whose rounds are O(log n)"
        )
    return labels.select("node", F.col("d").alias("component"))


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") — the O(log n)-
    round upgrade the min-label-propagation docstring above points
    at: label propagation needs DIAMETER rounds (a 512-node chain
    needs 511), star contraction collapses the same chain in ~log
    rounds. Each round is two groupBy-min passes over (node, nbr)
    pairs; per-round shuffle volume is |E| longs.

    large-star: every node connects its LARGER neighbors to the
    minimum of its closed neighborhood; small-star: every node (under
    larger->smaller edge orientation) connects its smaller-or-equal
    closed neighborhood to its minimum. Converged when the edge set
    is a star forest (large-star is then a no-op); labels read off
    the stars, with roots labeling themselves.
    """
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).filter(F.col("u") != F.col("v"))

    def large_star(ed: DataFrame) -> DataFrame:
        sym = ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            sym.groupBy("u")
            .agg(F.least(F.min("v"), F.first("u")).alias("m"))
        )
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(ed: DataFrame) -> DataFrame:
        directed = ed.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = (
            directed.groupBy("u")
            .agg(F.least(F.min("v"), F.first("u")).alias("m"))
        )
        j = directed.join(m, "u")
        relink = j.select(F.col("v").alias("u"), F.col("m").alias("v"))
        self_edge = m.select("u", F.col("m").alias("v"))
        return (
            relink.union(self_edge)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    # each edge set's size rides its checkpoint as an observed metric
    n = F.count("*").alias("n")
    size = Observation()
    base = e.distinct().observe(size, n).localCheckpoint(eager=True)
    cur, n_cur = base, size.get["n"]
    converged = n_cur == 0
    for _ in range(max_iter):
        if converged:
            break
        size = Observation()
        nxt = small_star(large_star(cur)).observe(size, n)
        nxt = nxt.localCheckpoint(eager=True)
        n_nxt = size.get["n"]
        # both sides are checkpointed and distinct, so the sets are
        # equal iff the counts are equal AND one contains the other;
        # the count gate keeps the exceptAll co-group to the last round
        converged = n_nxt == n_cur and (
            nxt.exceptAll(cur).limit(1).count() == 0
        )
        cur, n_cur = nxt, n_nxt
    if not converged:
        # labels read off a non-star edge set would be wrong components
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"max_iter={max_iter} rounds ({n_cur} edges remaining); "
            f"raise max_iter — rounds needed are O(log n)"
        )
    # star forest: every edge is (node, root). Roots label themselves.
    # Nodes derive from the checkpointed edge set, so listing them
    # does not re-run the upstream pair lineage.
    nodes = (
        base.select("u")
        .union(base.select(F.col("v").alias("u")))
        .distinct()
    )
    labels = cur.groupBy("u").agg(F.min("v").alias("component"))
    return (
        nodes.join(labels, "u", "left")
        .select(
            F.col("u").alias("node"),
            F.least(
                F.coalesce("component", F.col("u")), F.col("u")
            ).alias("component"),
        )
    )


def _assign(docs: DataFrame, comp: DataFrame) -> DataFrame:
    """``(doc_id, cluster_id, is_canonical)`` for every document, from a
    ``(node, component)`` frame; a document in no pair is a singleton
    cluster and its own canonical."""
    cluster = F.coalesce("component", F.col("doc_id"))
    return docs.join(
        comp.select(F.col("node").alias("doc_id"), "component"),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        cluster.alias("cluster_id"),
        (cluster == F.col("doc_id")).alias("is_canonical"),
    )


def assign_dedup_clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Every document gets a cluster id (= min doc_id of its component;
    singletons cluster with themselves) and a canonical flag. Keep rows
    where ``is_canonical`` to materialize the deduplicated corpus."""
    return _assign(docs, connected_components(pairs, src="doc_a", dst="doc_b"))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 end-to-end: Jaccard>=0.8 pairs -> connected components ->
    per-document cluster assignment + canonical election."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.8)
    return assign_dedup_clusters(docs, pairs)


def _closure_oracle(pairs_sql: str, a: str, b: str) -> str:
    """DuckDB twin of the cluster assignment: recursive transitive
    closure over the ``(a, b)`` pair list ``pairs_sql`` (the UNION
    recursion is set-semantics, so it terminates), then component =
    min reachable id. Fine at oracle scale; the Spark side is the one
    that has to survive 100 TB."""
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED ({pairs_sql}),
sym AS MATERIALIZED (
    SELECT {a} AS u, {b} AS v FROM pairs
    UNION
    SELECT {b} AS u, {a} AS v FROM pairs
),
reach(u, v) AS (
    SELECT u, v FROM sym
    UNION
    SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
comp AS (
    SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u
)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS cluster_id,
       coalesce(c.component, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
"""


DEDUP_CLUSTERS_ORACLE = _closure_oracle(NGRAM_JACCARD_ORACLE, "doc_a", "doc_b")


def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_clusters`` computed by the OTHER algorithm — star
    contraction instead of label propagation — and attested against
    the IDENTICAL recursive-closure oracle (cross-algorithm
    attestation, the allpairs-vs-inverted-index pattern): same pair
    list, same (doc_id, cluster_id, is_canonical) contract, so a hash
    match on both proves the two distributed CC algorithms agree with
    the sequential closure. At 100 TB this is the variant to run on
    graphs whose diameter is NOT clique-like (provenance chains,
    citation paths): rounds scale with log n, not diameter."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.8)
    comp = connected_components_star(pairs, src="doc_a", dst="doc_b")
    return _assign(docs, comp)


def dedup_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-family N2 completion: the Hamming<=3 pair list from
    ``dedup_simhash_hamming`` grouped into connected components with
    canonical election — the integer-exact mirror of
    ``dedup_clusters`` (whose pairs carry a float Jaccard threshold).
    Same label-propagation core; the pair stage is the df-capped
    Manku block equi-join, so the whole path stays sub-quadratic."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_simhash_hamming(spark, sf_dir).select(
        F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b")
    )
    return assign_dedup_clusters(docs, pairs)


def corpus_curation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline's acceptance report: per language, corpus
    size before dedup, after near-dup clustering, and the dedup rate.
    One pass over documents + the cluster assignment join."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.8)
    clusters = assign_dedup_clusters(docs, pairs)
    return (
        docs.join(clusters, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("is_canonical").cast("bigint")).alias("n_kept"),
            (
                F.count(F.lit(1)) - F.sum(F.col("is_canonical").cast("bigint"))
            ).alias("n_dropped"),
        )
    )


CURATION_SUMMARY_ORACLE = f"""
WITH clusters AS ({DEDUP_CLUSTERS_ORACLE})
SELECT d.lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN c.is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(count(*) - sum(CASE WHEN c.is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
GROUP BY d.lang
"""


def _register() -> None:
    registry.register("dedup_clusters", dedup_clusters, DEDUP_CLUSTERS_ORACLE)
    registry.register(
        "dedup_simhash_clusters",
        dedup_simhash_clusters,
        _closure_oracle(SIMHASH_HAMMING_ORACLE, "doc_id_a", "doc_id_b"),
    )
    registry.register(
        "dedup_clusters_star", dedup_clusters_star, DEDUP_CLUSTERS_ORACLE
    )
    registry.register(
        "corpus_curation_summary",
        corpus_curation_summary,
        CURATION_SUMMARY_ORACLE,
    )
