"""Connected-components / cluster-assignment unit tests on hand-built
graphs (chain forces multi-round propagation; singleton docs must
self-cluster)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark.operators.clustering import (
    assign_dedup_clusters,
    connected_components,
)


def test_cc_chain_triangle_and_isolated(spark):
    # chain 1-2-3-4-5 (diameter 4 -> several propagation rounds),
    # triangle 10-11-12, plus edge 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_cc_raises_when_rounds_run_out(spark):
    """A 41-node chain needs 41 label-propagation rounds, more than
    ``CC_MAX_ROUNDS``: labels read off the unsettled state would be
    wrong components, so the call raises instead."""
    import pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges)


def test_assign_clusters_singletons_and_canonical(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 7, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    out = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in assign_dedup_clusters(docs, pairs).collect()
    }
    assert out == {
        1: (1, True), 2: (1, False), 3: (1, False),
        7: (7, True), 9: (9, True),
    }
    # collect() order depends on partitioning; compare as a set
    assert sorted(d for d, (_, canon) in out.items() if canon) == [1, 7, 9]


def test_cc_label_columns_only_in_shuffle(spark):
    # the iteration state is (node, component) longs — assert the
    # output schema carries nothing else (scale guard: no payload
    # columns ride through the iterations)
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    out = connected_components(edges)
    assert out.columns == ["node", "component"]
    assert dict(out.dtypes) == {"node": "bigint", "component": "bigint"}


def test_star_contraction_matches_truth_and_label_prop(spark):
    """Kiveris large-star/small-star CC: exact agreement with a
    union-find ground truth on (a) a 512-node CHAIN — the diameter-
    bound pathology on which label propagation runs out of rounds and
    raises — (b) a random multi-component graph, (c) star+triangle;
    and agreement with label propagation on the clique-like shapes
    where both are in-contract."""
    import numpy as np
    import pytest

    from bigdata_pipelines_aws_glue_spark.operators.clustering import (
        connected_components,
        connected_components_star,
    )

    def truth_of(edges):
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        comp = {}
        for n in parent:
            comp.setdefault(find(n), []).append(n)
        return {n: min(comp[find(n)]) for n in parent}

    rng = np.random.default_rng(5)
    cases = {
        "chain512": [(i, i + 1) for i in range(511)],
        "random": [
            (int(a), int(b))
            for a, b in rng.integers(0, 300, (400, 2))
            if a != b
        ],
        "star+tri": [(100, i) for i in range(50)]
        + [(200, 201), (201, 202), (202, 200)],
    }
    for name, edges in cases.items():
        df = spark.createDataFrame(edges, "src long, dst long")
        star = {
            r["node"]: r["component"]
            for r in connected_components_star(df).collect()
        }
        assert star == truth_of(edges), name

    df = spark.createDataFrame(cases["chain512"], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df)

    # clique-like: both algorithms agree (label prop is in-contract)
    df = spark.createDataFrame(cases["star+tri"], "src long, dst long")
    lp = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    st = {
        r["node"]: r["component"]
        for r in connected_components_star(df).collect()
    }
    assert lp == st


def test_star_contraction_raises_on_max_iter_exhaustion(spark):
    """Non-convergence must be loud: labels read off a
    non-star edge set would be silently wrong components."""
    import pytest

    from bigdata_pipelines_aws_glue_spark.operators.clustering import (
        connected_components_star,
    )

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(df, max_iter=1)
    # empty edge set is trivially converged, no raise
    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components_star(empty).count() == 0
