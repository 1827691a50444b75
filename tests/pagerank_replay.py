"""Pure-Python replay of the PageRank kernel
(``operators/graph.py``'s ``pagerank``), shared by the kernel test and
the TextRank test."""

from __future__ import annotations

import math
from collections import defaultdict

from bigdata_pipelines_aws_glue_spark.operators.graph import PR_DAMP, PR_ITERS


def pagerank_replay(edges: dict[tuple, int]) -> dict:
    """``{node: r}`` after ``PR_ITERS`` rounds over ``{(src, dst): w}``,
    with the kernel's float operations in the kernel's order, so the
    result is bit-identical to the Spark vector."""
    wout: dict = defaultdict(int)
    for (src, _), w in edges.items():
        wout[src] += w
    n = len(wout)
    rank = {v: 1.0 / n for v in wout}
    teleport = (1.0 - PR_DAMP) / n
    for _ in range(PR_ITERS):
        acc: dict = defaultdict(int)
        for (src, dst), w in edges.items():
            if src in rank:
                c = rank[src] * (float(w) / float(wout[src]))
                acc[dst] += math.floor(c * 1e9 + 0.5)
        rank = {v: teleport + PR_DAMP * (q / 1e9) for v, q in acc.items()}
    return rank
