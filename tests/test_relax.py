"""The min-propagation kernel (``operators/graph.py``'s ``relax``)
against a pure-Python replay of full rounds on literal graphs, its job
count, and the partition- and AQE-invariance of the six queries built
on it."""

from __future__ import annotations

import pytest

from bigdata_pipelines_aws_glue_spark.operators.clustering import (
    corpus_curation_summary,
    dedup_clusters,
    dedup_simhash_clusters,
)
from bigdata_pipelines_aws_glue_spark.operators.graph import (
    bellman_ford_trade_cost,
    relax,
    trade_reach_frontier,
)
from bigdata_pipelines_aws_glue_spark.operators.resolution import (
    er_golden_record,
)
from bigdata_pipelines_aws_glue_spark.sources.local import local_frame

#: node 3 is first reached at cost 9 (1→3) and improves one round
#: later to 6 (1→2→3); node 4 improves with it
WEIGHTED = {
    "edges": [(1, 3, 9), (1, 2, 5), (2, 3, 1), (3, 4, 1), (5, 1, 1)],
    "schema": "src long, dst long, cost long",
    "init": [(1, 0)],
    "init_schema": "node long, d long",
}

#: unit cost in both directions: BFS hop counts from node 0; node 9
#: is unreachable
UNIT = {
    "edges": [
        (s, t, 1)
        for a, b in [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (9, 8)]
        for s, t in [(a, b), (b, a)]
    ],
    "schema": "src long, dst long, cost long",
    "init": [(0, 0)],
    "init_schema": "node long, d long",
}

#: no cost column: min-label propagation over string ids, every node
#: labelled by itself
LABELS = {
    "edges": [
        (s, t)
        for a, b in [("pear", "fig"), ("fig", "apple"), ("lime", "kiwi")]
        for s, t in [(a, b), (b, a)]
    ],
    "schema": "src string, dst string",
    "init": [(n, n) for n in ("pear", "fig", "apple", "lime", "kiwi")],
    "init_schema": "node string, d string",
}


def relax_replay(edges: list[tuple], init: list[tuple], rounds: int):
    """``({node: d}, settled, rounds run)`` after full synchronous
    rounds in which every node with a value sends, stopping after the
    first round that changes nothing."""
    d = dict(init)
    settled, run = False, 0
    while run < rounds and not settled:
        run += 1
        nxt = dict(d)
        for src, dst, *cost in edges:
            if src in d:
                v = d[src] + cost[0] if cost else d[src]
                if dst not in nxt or v < nxt[dst]:
                    nxt[dst] = v
        settled, d = nxt == d, nxt
    return d, settled, run


def _frames(spark, case: dict):
    return (
        local_frame(spark, case["edges"], case["schema"]),
        local_frame(spark, case["init"], case["init_schema"]),
    )


def _relax(spark, case: dict, rounds: int):
    state, settled = relax(*_frames(spark, case), rounds)
    return {r["node"]: r["d"] for r in state.collect()}, settled


@pytest.mark.parametrize(
    "case", [WEIGHTED, UNIT, LABELS], ids=["weighted", "unit", "labels"]
)
def test_relax_matches_full_round_replay(spark, case):
    _, _, to_settle = relax_replay(case["edges"], case["init"], 100)
    rounds = range(1, to_settle + 1)
    got = [_relax(spark, case, r) for r in rounds]
    want = [relax_replay(case["edges"], case["init"], r)[:2] for r in rounds]
    assert got == want
    # settled only once a round has improved nothing
    assert [settled for _, settled in got][-2:] == [False, True]


def _jobs(spark, case: dict, rounds: int, broadcast: str) -> int:
    """Spark jobs of one ``relax`` call with AQE off (AQE submits each
    shuffle's map stage as a job of its own)."""
    sc = spark.sparkContext
    keys = [
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    saved = [spark.conf.get(k) for k in keys]
    group = f"relax-{broadcast}"
    edges, init = _frames(spark, case)
    spark.conf.set(keys[0], "false")
    spark.conf.set(keys[1], broadcast)
    sc.setJobGroup(group, "one relax call")
    try:
        relax(edges, init, rounds)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        for k, v in zip(keys, saved):
            spark.conf.set(k, v)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_relax_job_count(spark):
    """One job for the initial state's checkpoint and one per round
    run, the improved-row count riding each round's checkpoint. On a
    graph this small each round's join broadcasts the frontier, and
    the broadcast is a job of its own."""
    _, _, run = relax_replay(WEIGHTED["edges"], WEIGHTED["init"], 10)
    assert run == 4
    assert _jobs(spark, WEIGHTED, 10, "-1") == 1 + run
    assert _jobs(spark, WEIGHTED, 10, "64m") == 1 + 2 * run


def test_relax_consumers_partition_and_aqe_invariant(spark, sf_dir):
    consumers = [
        dedup_clusters,
        dedup_simhash_clusters,
        corpus_curation_summary,
        er_golden_record,
        trade_reach_frontier,
        bellman_ford_trade_cost,
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
