"""The Lloyd's kernel (``similarity.lloyd``) against a pure-Python
replay on literal vectors, k-means convergence and determinism, the
PQ and IVF-PQ searches built on it, and the partition- and
AQE-invariance of its consumers."""

from __future__ import annotations

import math

import pytest

from bigdata_pipelines_aws_glue_spark.operators.semdedup import semdedup_prune
from bigdata_pipelines_aws_glue_spark.operators.similarity import (
    ivfpq_topk,
    kmeans_embeddings,
    kmeans_fit,
    kmeans_inertia,
    lloyd,
    pq_topk_sampled,
)
from bigdata_pipelines_aws_glue_spark.sources.local import local_frame
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

#: m = 1, k = 3: vid 3 repeats seed 2, so code 3 ties code 2 for every
#: vector, loses them all on code_id and drops out; vid 4 sits at
#: distance 4 from both code 1 and code 2 in round 1.
VECTORS_M1 = {
    1: [0.0, 0.0],
    2: [4.0, 0.0],
    3: [4.0, 0.0],
    4: [2.0, 0.0],
    5: [0.1, 0.3],
    6: [3.9, -0.2],
    7: [4.2, 0.1],
}

#: m = 2, k = 2: in block 1, vids 1 and 2 (the seeds) are equal, so
#: code 2 drops out of block 1 only; in block 0, vid 3 is equidistant
#: from both seeds.
VECTORS_M2 = {
    1: [1.0, 2.0, 0.5, 0.5],
    2: [3.0, 2.0, 0.5, 0.5],
    3: [2.0, 2.0, 1.5, -0.5],
    4: [0.7, 1.9, 0.25, 0.75],
    5: [3.3, 2.2, 0.6, 0.4],
    6: [1.1, 1.7, -0.3, 0.9],
}


def _sqdist(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def _qmean(xs: list[float]) -> float:
    total = sum(math.floor(x * 1e9 + 0.5) for x in xs)
    return (float(total) / 1e9) / len(xs)


def _lloyd_replay(vectors: dict, k: int, iters: int, m: int) -> dict:
    """{(block, code_id): (cvec, n)}: seeds are the k lowest vids,
    ties break on (distance, code_id), means are integer-summed at
    1e-9."""
    vids = sorted(vectors)
    sub = len(vectors[vids[0]]) // m
    out = {}
    for b in range(m):
        x = {vid: vectors[vid][b * sub : (b + 1) * sub] for vid in vids}
        cb = {c: x[vid] for c, vid in enumerate(vids[:k], 1)}
        for _ in range(iters):
            members: dict[int, list] = {}
            for vid in vids:
                best = min(cb, key=lambda c: (_sqdist(x[vid], cb[c]), c))
                members.setdefault(best, []).append(x[vid])
            cb = {c: [_qmean(list(d)) for d in zip(*xs)] for c, xs in members.items()}
        out.update({(b, c): (cb[c], len(members[c])) for c in cb})
    return out


def _lloyd(spark, vectors: dict, k: int, iters: int, m: int) -> dict:
    frame = local_frame(
        spark, list(vectors.items()), "vid long, v array<double>"
    )
    return {
        (r["block"], r["code_id"]): (list(r["cvec"]), r["n"])
        for r in lloyd(frame, k, iters, m).collect()
    }


@pytest.mark.parametrize(
    "vectors, k, iters, m, dropped, kept",
    [
        (VECTORS_M1, 3, 2, 1, (0, 3), (0, 2)),
        (VECTORS_M2, 2, 3, 2, (1, 2), (0, 2)),
    ],
    ids=["m1", "m2"],
)
def test_lloyd_matches_python_replay(spark, vectors, k, iters, m, dropped, kept):
    got = _lloyd(spark, vectors, k, iters, m)
    assert got == _lloyd_replay(vectors, k, iters, m)
    assert dropped not in got
    assert kept in got
    for block in range(m):
        # every vector is assigned once per block
        assert sum(n for (b, _), (_, n) in got.items() if b == block) == len(
            vectors
        )


def test_lloyd_rejects_indivisible_dimension(spark):
    with pytest.raises(ValueError, match="not divisible"):
        _lloyd(spark, VECTORS_M2, 2, 1, 3)


def test_lloyd_consumers_partition_and_aqe_invariant(spark, sf_dir):
    consumers = [kmeans_embeddings, pq_topk_sampled, ivfpq_topk, semdedup_prune]
    keys = ["spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"]
    saved = [spark.conf.get(k) for k in keys]
    results = {}
    try:
        for parts in ("1", "7"):
            for aqe in ("true", "false"):
                spark.conf.set(keys[0], parts)
                spark.conf.set(keys[1], aqe)
                results[(parts, aqe)] = [
                    sorted(tuple(r) for r in fn(spark, sf_dir).collect())
                    for fn in consumers
                ]
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v)
    first, *rest = results.values()
    assert all(len(rows) > 0 for rows in first)
    for setting, rows in results.items():
        assert rows == first, setting


def test_kmeans_inertia_monotone_nonincreasing(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    inertias = [
        kmeans_inertia(emb, kmeans_fit(emb, k=4, n_iter=i)) for i in (1, 2, 4)
    ]
    assert inertias[0] >= inertias[1] >= inertias[2] - 1e-6


def test_kmeans_deterministic_and_full_coverage(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    a = kmeans_fit(emb, k=4, n_iter=3)
    b = kmeans_fit(emb, k=4, n_iter=3)
    ra = sorted(
        (r["cluster_id"], r["n_assigned"], tuple(r["centroid"]))
        for r in a.collect()
    )
    rb = sorted(
        (r["cluster_id"], r["n_assigned"], tuple(r["centroid"]))
        for r in b.collect()
    )
    assert ra == rb
    assert sum(n for _, n, _ in ra) == 200  # every vector assigned


def test_pq_topk_recall_and_shape(spark, sf_dir):
    """PQ-ADC top-k: per-query exactly TOP_K rows ranked by ascending
    approximate distance, and recall@10 vs exact L2 clears a floor
    (0.31 measured at sf0.01 for m=4, k=32 — aggressive 100x-class
    compression trades recall; compose with IVF to prune at scale)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdata_pipelines_aws_glue_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        _as_double,
        _sqdist,
        pq_topk,
    )
    from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

    out = pq_topk(spark, sf_dir).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == N_QUERIES
    for rows in by_q.values():
        assert sorted(r["rank"] for r in rows) == list(range(1, TOP_K + 1))
        dists = [r["approx_dist"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert dists == sorted(dists)
    pq_pairs = {(r["query_id"], r["neighbor_id"]) for r in out}
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    b = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("bv"))
    s = b.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", _sqdist(F.col("qv"), F.col("bv")).alias("d")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d").asc(), F.col("neighbor_id"))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .collect()
    }
    recall = len(pq_pairs & exact) / len(exact)
    assert recall >= 0.15, f"PQ recall@10 {recall:.2f}"


def test_ivfpq_topk_recall_and_shape(spark, sf_dir):
    """IVF-PQ (cell pruning + ADC shortlist + exact re-rank) returns
    exactly TOP_K ranked rows per query with true-cosine scores, and
    clears a recall floor vs exact search (0.37 measured at sf0.01 —
    bounded by N_PROBE cell pruning; widen probes for recall)."""
    from pyspark.sql import functions as F

    from bigdata_pipelines_aws_glue_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        cosine_topk,
        ivfpq_topk,
    )

    out = ivfpq_topk(spark, sf_dir).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == N_QUERIES
    for rows in by_q.values():
        assert sorted(r["rank"] for r in rows) == list(range(1, TOP_K + 1))
        scores = [r["score"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert scores == sorted(scores, reverse=True)
    got = {(r["query_id"], r["neighbor_id"]) for r in out}
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(spark, sf_dir).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.2, f"IVF-PQ recall@10 {recall:.2f}"
