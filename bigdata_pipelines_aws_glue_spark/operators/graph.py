"""Iterative graph analytics on DataFrames: the one PageRank kernel
(:func:`pagerank`) and its DuckDB twin (``PAGERANK_CTES``), the one
min-propagation kernel (:func:`relax`: bounded Bellman-Ford, BFS hop
counts and the min-label propagation behind
``clustering.connected_components``), weighted PageRank, BFS and
Bellman-Ford over the customer–supplier trade graph (SURVEY.md §2
adjacency — the iterative-algorithm family next to k-means/BPE;
method is the public Page et al. 1999 formulation), the part
co-occurrence triangle census and k-hop reachability.

Trade graph: an undirected bipartite graph built from the fact tables
by one Spark function (:func:`_trade_edges`) and one SQL generator
(:func:`_trade_edges_sql`) — customer ``o_custkey`` is linked to
supplier ``l_suppkey`` with an aggregate over the lineitems traded
between them as the edge value (lineitem ⋈ orders, grouped): their
count for PageRank, the cheapest price for Bellman-Ford. Undirected
means both directions are materialized as directed edges, so every
node has out-degree ≥ 1 — no dangling-mass special case. Supplier
node ids are offset by ``SUPPLIER_NODE_BASE`` to share one id space
with customers.

Rank update (damping d = ``PR_DAMP``, n source nodes):
``r'(v) = (1-d)/n + d·Σ_{u→v} r(u)·w(u,v)/W(u)``
with the incoming sum 1e-9-quantized (long-summed — aggregation-order
independent, exact in both engines), which is what lets the DuckDB
twin replay all ``PR_ITERS`` rounds as unrolled CTEs and the result
hash-check despite being an iterative float algorithm.

Scale posture (100 TB): each round is an equi-join of the edge list
against the node state keyed by src plus a keyed aggregation on dst —
the standard Pregel-as-join shape. The final top-N is
TakeOrderedAndProject, never a global sort. The values brought to the
driver are scalars: PageRank's node count, for the teleport constant,
and, per :func:`relax` round, the count of improved nodes, observed on
the round's checkpoint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.functions.rounding import (
    dec_qsum,
    stable_round,
)
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

PR_DAMP = 0.85
PR_ITERS = 5
PR_TOPN = 20
#: supplier node id = SUPPLIER_NODE_BASE + s_suppkey (customers keep
#: their key) — one integer id space, no string concat in the hot path.
SUPPLIER_NODE_BASE = 1_000_000

_Q9 = 1e9


def pagerank(edges: DataFrame) -> DataFrame:
    """The ``(node, r)`` PageRank vector of the weighted directed
    graph ``edges`` = ``(src, dst, w)`` after ``PR_ITERS`` synchronous
    rounds at damping ``PR_DAMP``, each round's incoming sum quantized
    to 1e-9 (:func:`dec_qsum`), so the vector is bit-identical under
    any partitioning and in the DuckDB replay (``PAGERANK_CTES``).

    The edge weight is normalized per source, ``w / Σ_src w``. The
    teleport term divides by the number of source nodes. There is no
    dangling-mass redistribution: a node with no out-edges leaks its
    mass, and a node with no in-edges holds no rank after round 1 (it
    is absent from the returned vector).

    Materialization rule: materialize state that is read more than
    once per round, or whose recomputation would rescan a base table.
    Here that is the normalized edge list (joined by every round) and
    the returned vector (callers read it more than once); the rounds
    in between chain lazily, since each is read once, by the next.
    The per-source weight total is a window over the same shuffle as
    the normalization, so ``edges`` itself is read once and needs no
    checkpoint of its own."""
    e = edges.select(
        "src",
        "dst",
        (
            F.col("w").cast("double")
            / F.sum("w").over(Window.partitionBy("src")).cast("double")
        ).alias("p"),
    ).localCheckpoint(eager=True)
    nodes = e.select(F.col("src").alias("node")).distinct()
    n_nodes = nodes.count()
    rank = nodes.withColumn("r", F.lit(1.0 / n_nodes))
    teleport = (1.0 - PR_DAMP) / n_nodes
    for _ in range(PR_ITERS):
        contrib = e.join(rank, F.col("src") == F.col("node")).select(
            "dst", (F.col("r") * F.col("p")).alias("c")
        )
        rank = contrib.groupBy(F.col("dst").alias("node")).agg(
            (
                F.lit(teleport)
                + F.lit(PR_DAMP)
                * (dec_qsum(F.col("c"), _Q9).cast("double") / F.lit(_Q9))
            ).alias("r")
        )
    return rank.localCheckpoint(eager=True)


def top_ranked(rank: DataFrame) -> DataFrame:
    """``(pos, node, r)`` for the top ``PR_TOPN`` nodes of a
    :func:`pagerank` vector, ordered by r descending, ties by node."""
    order = [F.col("r").desc(), F.col("node")]
    top = rank.orderBy(*order).limit(PR_TOPN)
    return top.select(
        F.row_number().over(Window.orderBy(*order)).alias("pos"),
        "node",
        "r",
    )


#: DuckDB twin of :func:`pagerank`: the CTEs ``outw, e, nn, r0,
#: r1 .. r{PR_ITERS}`` over a preceding ``edges (src, dst, w)`` CTE.
#: ``r{PR_ITERS}`` is the final vector; each round replays the
#: quantized sum bit-for-bit.
PAGERANK_CTES = """outw AS (
    SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM edges GROUP BY src
),
e AS (
    SELECT src, dst, CAST(w AS DOUBLE) / CAST(wout AS DOUBLE) AS p
    FROM edges JOIN outw USING (src)
),
nn AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS n FROM edges),
r0 AS (
    SELECT DISTINCT src AS node, 1.0 / (SELECT n FROM nn) AS r FROM edges
),
""" + ",\n".join(
    f"""r{i} AS (
    SELECT e.dst AS node,
           CAST({(1.0 - PR_DAMP)!r} AS DOUBLE) / (SELECT n FROM nn)
             + {PR_DAMP} * (sum(CAST(floor(r.r * e.p * 1000000000.0 + 0.5)
                                     AS BIGINT)) / 1000000000.0) AS r
    FROM e JOIN r{i - 1} r ON r.node = e.src
    GROUP BY e.dst
)"""
    for i in range(1, PR_ITERS + 1)
)


def relax(
    edges: DataFrame, init: DataFrame, rounds: int
) -> tuple[DataFrame, bool]:
    """The one min-propagation kernel: ``(state, settled)`` after at
    most ``rounds`` rounds over ``edges`` = ``(src, dst[, cost])``
    from ``init`` = ``(node, d)``. After round k, ``d(v)`` is the
    minimum of its ``init`` value and of ``d(u) + cost`` (``d(u)`` if
    there is no ``cost`` column) over every path u→v of at most k
    edges. With a cost column this is bounded Bellman-Ford (unit cost
    gives BFS hop counts); without one it is min-label propagation,
    for any orderable id type. ``state`` is ``(node, d)`` for every
    node with a value; ``settled`` means the last round run improved
    nothing, so more rounds would change nothing.

    Only nodes improved in the previous round send, so a round
    shuffles the frontier's out-edges; the result is still that of
    relaxing every node, because a node that did not improve already
    sent its current value. A round is the union of the state (its
    value kept as ``old``) with the candidates ``frontier ⋈ edges``,
    a min per node, a ``fresh`` flag (``d < old``, or a node reached
    for the first time) and one eager checkpoint. The count of fresh
    rows rides that checkpoint as an observed metric: it is the one
    value per round brought to the driver, and no probe job runs.

    Materialization rule: the caller passes a materialized edge list,
    because every round reads it; the kernel checkpoints the initial
    state and each round's state, because each is read twice per
    round (as the frontier and as the kept values)."""
    sent = F.col("d")
    if "cost" in edges.columns:
        sent = sent + F.col("cost")
    fresh = F.col("old").isNull() | (F.col("d") < F.col("old"))
    state = init.select("node", "d", F.lit(True).alias("fresh"))
    state = state.localCheckpoint(eager=True)
    no_old = F.lit(None).cast(state.schema["d"].dataType).alias("old")
    settled = False
    for _ in range(rounds):
        frontier = state.filter("fresh").withColumnRenamed("node", "src")
        cand = edges.join(frontier, "src").select(
            F.col("dst").alias("node"), sent.alias("d"), no_old
        )
        merged = (
            state.select("node", "d", F.col("d").alias("old"))
            .unionByName(cand)
            .groupBy("node")
            .agg(F.min("d").alias("d"), F.min("old").alias("old"))
            .select("node", "d", fresh.alias("fresh"))
        )
        improved = Observation()
        state = merged.observe(
            improved, F.count_if("fresh").alias("n")
        ).localCheckpoint(eager=True)
        settled = improved.get["n"] == 0
        if settled:
            break
    return state.select("node", "d"), settled


def _trade_edges(
    lineitem: DataFrame, orders: DataFrame, w: Column
) -> DataFrame:
    """``(src, dst, <w>)``: both directions of every customer–supplier
    link, ``w`` an aliased aggregate over the link's lineitems."""
    wts = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
        )
        .agg(w)
    )
    cust, supp = F.col("cust"), F.col("supp") + F.lit(SUPPLIER_NODE_BASE)
    fwd = wts.select(cust.alias("src"), supp.alias("dst"), wts.columns[2])
    rev = wts.select(supp.alias("src"), cust.alias("dst"), wts.columns[2])
    return fwd.unionByName(rev)


def _typed(node: Column) -> list[Column]:
    """``node_type`` and ``node_id`` of a trade-graph node id."""
    sup = node >= SUPPLIER_NODE_BASE
    return [
        F.when(sup, F.lit("supplier")).otherwise(F.lit("customer")).alias(
            "node_type"
        ),
        F.when(sup, node - SUPPLIER_NODE_BASE)
        .otherwise(node)
        .alias("node_id"),
    ]


def _trade_edges_sql(w: str) -> str:
    """The CTEs ``wts (cust, supp, w)`` and ``edges (src, dst, w)``,
    the SQL twin of :func:`_trade_edges`. Valid Spark SQL as well as
    DuckDB, since :data:`RECURSIVE_REACH_SQL` runs in both engines."""
    return f"""wts AS (
    SELECT o_custkey AS cust, l_suppkey AS supp, {w} AS w
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
),
edges AS (
    SELECT cust AS src, supp + {SUPPLIER_NODE_BASE} AS dst, w FROM wts
    UNION ALL
    SELECT supp + {SUPPLIER_NODE_BASE} AS src, cust AS dst, w FROM wts
)"""


#: The SQL twin of :func:`_typed` over a ``node`` column.
_TYPED_SQL = f"""CASE WHEN node >= {SUPPLIER_NODE_BASE} THEN 'supplier'
            ELSE 'customer' END AS node_type,
       CASE WHEN node >= {SUPPLIER_NODE_BASE}
            THEN node - {SUPPLIER_NODE_BASE} ELSE node END AS node_id"""


def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``PR_TOPN`` nodes of the trade graph by :func:`pagerank`,
    edge weight = number of lineitems traded on the link. Emits the
    rank position, node type/id, and the (1e-9-deterministic)
    PageRank value."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    edges = _trade_edges(lineitem, orders, F.count(F.lit(1)).alias("w"))
    return top_ranked(pagerank(edges)).select(
        "pos",
        *_typed(F.col("node")),
        stable_round(F.col("r"), 9).alias("pagerank"),
    )


PAGERANK_ORACLE = f"""
WITH {_trade_edges_sql("CAST(count(*) AS BIGINT)")},
{PAGERANK_CTES}
SELECT CAST(pos AS INT) AS pos,
       {_TYPED_SQL},
       floor(r * 1000000000.0 + 0.5) / 1000000000.0 AS pagerank
FROM (
    SELECT node, r, row_number() OVER (ORDER BY r DESC, node) AS pos
    FROM r{PR_ITERS}
)
WHERE pos <= {PR_TOPN}
"""


def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part CO-OCCURRENCE graph (parts are
    adjacent iff some order contains both) — the graph-health metric
    behind clustering-coefficient / community analyses, and the
    second classic graph algorithm beside PageRank. Emits one row:
    node/edge/wedge/triangle counts (all integer-exact) plus the
    global clustering coefficient 3T/W.

    Scale shape (Suri & Vassilvitskii's MR-triangle design, public):
    each undirected edge is DIRECTED from its (degree, id)-smaller
    endpoint to the larger, so every wedge is generated at its
    lowest-degree apex — the join fan-out is Σ d_out² with
    d_out ≤ O(√m) instead of Σ d² (a hub of degree 1e6 contributes
    ~m, not 1e12, wedges). Wedge closure is then ONE equi-join of
    the wedge list against the directed edge list on the composite
    (v, w) key — shuffle-partitioned, no broadcast of anything
    unbounded. Edge generation reuses the per-order pair explosion
    bounded by Σ basket² (the `market_basket_pairs` posture)."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = op.alias("a"), op.alias("b")
    # checkpointed: edges feed degree, both wedge sides, the closing
    # list, and the edge count — without materialization Spark would
    # recompute the per-order pair explosion once per self-join side
    # (no common-subexpression elimination across self-joins)
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    # direct each edge from the (degree, id)-smaller endpoint
    ed = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
        .localCheckpoint(eager=True)  # shared by w1, w2, closing
    )
    w1, w2 = ed.alias("w1"), ed.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.s") == F.col("w2.s")) & (F.col("w1.t") < F.col("w2.t")),
    ).select(F.col("w1.t").alias("x"), F.col("w2.t").alias("y"))
    # a wedge (x, y) closes iff the directed edge x->y or y->x exists;
    # normalize both sides to an unordered key for one equi-join
    closing = ed.select(
        F.least("s", "t").alias("x"), F.greatest("s", "t").alias("y")
    )
    tri = wedges.join(
        closing, ["x", "y"], "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    counts = edges.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
    )
    # per-row d(d-1)/2 in integer arithmetic, summed in decimal(38,0)
    # (the dec_qsum discipline — wedge totals pass long range early
    # on a skewed co-occurrence graph)
    wedge_tot = deg.agg(
        F.sum(
            F.expr("d * (d - 1) DIV 2").cast("decimal(38,0)")
        )
        .cast("long")
        .alias("n_wedges")
    )
    return (
        counts.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wedge_tot))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            stable_round(
                F.lit(3.0)
                * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double"),
                6,
            ).alias("global_clustering"),
        )
    )


TRIANGLE_ORACLE = """
WITH op AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
edges AS (
    SELECT DISTINCT a.p AS u, b.p AS v
    FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
deg AS (
    SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
    GROUP BY n
),
ed AS (
    SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                THEN e.u ELSE e.v END AS s,
           CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                THEN e.v ELSE e.u END AS t
    FROM edges e
    JOIN deg du ON du.n = e.u
    JOIN deg dv ON dv.n = e.v
),
wedges AS (
    SELECT w1.t AS x, w2.t AS y
    FROM ed w1 JOIN ed w2 ON w1.s = w2.s AND w1.t < w2.t
),
closing AS (
    SELECT least(s, t) AS x, greatest(s, t) AS y FROM ed
),
tri AS (
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM wedges w WHERE EXISTS (
        SELECT 1 FROM closing c WHERE c.x = w.x AND c.y = w.y)
),
counts AS (
    SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges
),
nodes AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
wt AS (
    SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       floor((3.0 * n_triangles / n_wedges) * 1000000.0 + 0.5)
         / 1000000.0 AS global_clustering
FROM counts, nodes, tri, wt
"""


#: Bounded BFS over the trade graph as ONE SQL text both engines run
#: verbatim — Spark 4's native WITH RECURSIVE (UNION ALL semantics;
#: Spark rejects UNION-distinct recursion as of 4.1, so the hop bound
#: keeps the path enumeration finite and the aggregation outside the
#: recursion collapses it). n_paths is itself an attested output: the
#: number of distinct 2-hop trade chains seed->supplier->customer.
_REACH_SEED_MAX = 10
_REACH_MAX_HOPS = 2
RECURSIVE_REACH_SQL = f"""
WITH RECURSIVE {_trade_edges_sql("1")},
reach(node, hops) AS (
    SELECT CAST(c_custkey AS BIGINT), 0
    FROM customer WHERE c_custkey < {_REACH_SEED_MAX}
    UNION ALL
    SELECT e.dst, r.hops + 1
    FROM reach r JOIN edges e ON e.src = r.node
    WHERE r.hops < {_REACH_MAX_HOPS}
)
SELECT {_TYPED_SQL},
       CAST(min(hops) AS INT) AS min_hops,
       CAST(count(*) AS BIGINT) AS n_paths
FROM reach GROUP BY 1, 2
"""


def recursive_trade_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop reachability on the trade graph through Spark 4's NATIVE
    recursive CTE (``WITH RECURSIVE`` landed in Spark 4.0; the engine
    plans the fixpoint itself — a UnionLoop, no driver-side iteration
    or checkpointing). Emits, per reachable node, the BFS distance
    from the seed customers and the exact count of distinct trade
    paths. DuckDB runs the IDENTICAL SQL text — the dialects agree on
    recursion semantics, so the oracle is the same string.

    Scale note: UNION ALL recursion enumerates PATHS, so the hop
    bound is the cost control (2 hops ≈ 257k paths at sf0.1); the
    deduplicated per-hop frontier a 100 TB run wants is
    :func:`trade_reach_frontier` below — same graph, same seeds,
    per-node state instead of per-path."""
    from bigdata_pipelines_aws_glue_spark.sql import register_corpus_views

    register_corpus_views(spark, sf_dir)
    return spark.sql(RECURSIVE_REACH_SQL)


def _trade_relax(
    spark: SparkSession, sf_dir: str, cost: Column, rounds: int
) -> DataFrame:
    """``(node_type, node_id, d)``: :func:`relax` for ``rounds`` rounds
    over the trade graph with edge cost ``cost`` (an aggregate over
    the link's lineitems), from the seed customers at d = 0."""
    edges = _trade_edges(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        cost.alias("cost"),
    ).localCheckpoint(eager=True)
    seeds = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < _REACH_SEED_MAX)
        .select(
            F.col("c_custkey").alias("node"), F.lit(0).cast("long").alias("d")
        )
    )
    dist, _ = relax(edges, seeds, rounds)
    return dist.select(*_typed(F.col("node")), "d")


#: Depth for the frontier-deduplicated BFS form. Deeper than the
#: UNION-ALL variant's 2 because dedup makes depth cheap: per-node
#: state is one (node, min_hops) row, never a path.
_FRONTIER_MAX_HOPS = 4


def trade_reach_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop reachability with a DEDUPLICATED per-hop frontier — the
    form that survives dense graphs, closing
    :func:`recursive_trade_reach`'s documented caveat: UNION ALL
    recursion enumerates PATHS (exponential in the worst case, the
    hop bound its only guard), while here per-node state is one
    (node, min_hops) row regardless of path multiplicity.

    Spark rejects UNION-distinct recursion as of 4.1, so the Spark
    side is :func:`relax` at unit edge cost for
    ``_FRONTIER_MAX_HOPS`` rounds, stopping early once a round reaches
    nothing new. The DuckDB twin IS the UNION-distinct recursive CTE
    — min(hops) over set-semantics recursion is the same BFS distance,
    so the two forms attest each other.

    Scale: each round shuffles the frontier's out-edges and the
    (node, min_hops) state, never the path count the UNION-ALL form
    pays."""
    return _trade_relax(spark, sf_dir, F.lit(1), _FRONTIER_MAX_HOPS).select(
        "node_type", "node_id", F.col("d").cast("int").alias("min_hops")
    )


FRONTIER_REACH_ORACLE = f"""
WITH RECURSIVE {_trade_edges_sql("1")},
reach(node, hops) AS (
    SELECT CAST(c_custkey AS BIGINT), 0
    FROM customer WHERE c_custkey < {_REACH_SEED_MAX}
    UNION
    SELECT e.dst, r.hops + 1
    FROM reach r JOIN edges e ON e.src = r.node
    WHERE r.hops < {_FRONTIER_MAX_HOPS}
)
SELECT {_TYPED_SQL},
       CAST(min(hops) AS INT) AS min_hops
FROM reach GROUP BY 1, 2
"""


_BF_ROUNDS = 4


def bellman_ford_trade_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded Bellman-Ford: cheapest trade-route cost from the seed
    customers to every node reachable within ``_BF_ROUNDS`` edges.
    Edge cost = the MINIMUM lineitem price (exact cents) ever traded
    on that customer-supplier link — so the distance is "cheapest
    chain of cheapest trades", all integer arithmetic. The hop bound
    makes this the K-round relaxation (exact for every shortest path
    using <= K edges; full BF needs |V|-1 rounds — at 4 rounds this
    is the bounded-horizon variant, the honest trade documented for
    ``recursive_trade_reach`` applied to WEIGHTED distance).

    Spark: :func:`relax` for ``_BF_ROUNDS`` rounds, stopping early once
    a round improves nothing. The DuckDB twin unrolls the same K
    full rounds as MATERIALIZED CTEs, so a hash match replays every
    relaxation."""
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    return _trade_relax(spark, sf_dir, F.min(cents), _BF_ROUNDS).select(
        "node_type", "node_id", F.col("d").alias("min_cost_cents")
    )


def _bf_round_sql(i: int) -> str:
    return f"""d{i} AS MATERIALIZED (
    SELECT node, min(d) AS d FROM (
        SELECT node, d FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, p.d + e.w AS d
        FROM d{i - 1} p JOIN edges e ON e.src = p.node
    ) GROUP BY node
)"""


_BF_ROUNDS_SQL = ",\n".join(
    _bf_round_sql(i) for i in range(1, _BF_ROUNDS + 1)
)

_SQL_CENTS = "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"

BELLMAN_FORD_ORACLE = f"""
WITH {_trade_edges_sql(f"min({_SQL_CENTS})")},
d0 AS MATERIALIZED (
    SELECT CAST(c_custkey AS BIGINT) AS node, CAST(0 AS BIGINT) AS d
    FROM customer WHERE c_custkey < {_REACH_SEED_MAX}
),
{_BF_ROUNDS_SQL}
SELECT {_TYPED_SQL},
       CAST(d AS BIGINT) AS min_cost_cents
FROM d{_BF_ROUNDS}
"""


def _register() -> None:
    registry.register(
        "recursive_trade_reach", recursive_trade_reach, RECURSIVE_REACH_SQL
    )
    registry.register(
        "bellman_ford_trade_cost", bellman_ford_trade_cost, BELLMAN_FORD_ORACLE
    )
    registry.register(
        "trade_reach_frontier", trade_reach_frontier, FRONTIER_REACH_ORACLE
    )
    registry.register(
        "triangle_count_parts", triangle_count_parts, TRIANGLE_ORACLE
    )
    registry.register(
        "pagerank_trade_graph", pagerank_trade_graph, PAGERANK_ORACLE
    )
