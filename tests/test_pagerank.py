"""The PageRank kernel (``operators/graph.py``'s ``pagerank``) against a
pure-Python replay on literal graphs, its job count, and the
partition- and AQE-invariance of the four queries built on it."""

from __future__ import annotations

import pytest
from pagerank_replay import pagerank_replay

from bigdata_pipelines_aws_glue_spark.operators.graph import (
    PR_ITERS,
    pagerank,
    pagerank_trade_graph,
)
from bigdata_pipelines_aws_glue_spark.operators.links import (
    frontier_authority_rank,
    link_pagerank,
)
from bigdata_pipelines_aws_glue_spark.operators.text import textrank_keywords
from bigdata_pipelines_aws_glue_spark.sources.local import local_frame

BIG = 1 << 40

#: long ids past 32 bits: 3 -> 3 is a self-loop, BIG+5 is dangling
#: (its mass leaks), BIG+4 has no inlinks (drops out after round 1)
LONG_GRAPH = {
    (BIG + 1, BIG + 2): 2,
    (BIG + 1, BIG + 3): 1,
    (BIG + 2, BIG + 3): 1,
    (BIG + 2, BIG + 5): 3,
    (BIG + 3, BIG + 1): 1,
    (BIG + 3, BIG + 3): 1,
    (BIG + 4, BIG + 1): 1,
}

#: string ids: "c" is dangling, "d" has no inlinks, "a" loops to itself
STRING_GRAPH = {
    ("a", "a"): 1,
    ("a", "b"): 4,
    ("b", "a"): 2,
    ("b", "c"): 1,
    ("d", "a"): 5,
    ("d", "b"): 1,
}


def _run(spark, edges: dict, id_type: str) -> dict:
    rows = [(s, d, w) for (s, d), w in edges.items()]
    frame = local_frame(spark, rows, f"src {id_type}, dst {id_type}, w long")
    return {r["node"]: r["r"] for r in pagerank(frame).collect()}


@pytest.mark.parametrize(
    "edges, id_type, dangling, no_inlinks",
    [
        (LONG_GRAPH, "long", BIG + 5, BIG + 4),
        (STRING_GRAPH, "string", "c", "d"),
    ],
    ids=["long-ids", "string-ids"],
)
def test_pagerank_matches_python_replay(
    spark, edges, id_type, dangling, no_inlinks
):
    got = _run(spark, edges, id_type)
    assert got == pagerank_replay(edges)
    # the dangling node holds rank but passes none on, so mass leaks
    assert dangling in got
    assert sum(got.values()) < 1.0
    assert no_inlinks not in got


def test_pagerank_job_count(spark):
    """The normalized edge checkpoint, the node count and the final
    vector's checkpoint, plus one broadcast job per round: the rounds
    run inside the last checkpoint, and on a graph this small each
    round's join broadcasts its rank table. AQE is off while counting
    because it submits each shuffle's map stage as a job of its
    own."""
    rows = [(s, d, w) for (s, d), w in LONG_GRAPH.items()]
    frame = local_frame(spark, rows, "src long, dst long, w long")
    sc = spark.sparkContext
    group = "pagerank-one-call"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "one pagerank call")
    try:
        pagerank(frame)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3 + PR_ITERS


def test_pagerank_consumers_partition_and_aqe_invariant(spark, sf_dir):
    consumers = [
        pagerank_trade_graph,
        link_pagerank,
        frontier_authority_rank,
        textrank_keywords,
    ]
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
