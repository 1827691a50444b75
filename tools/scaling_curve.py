"""Empirical scaling curve: time representative queries at
sf0.001 / sf0.01 / sf0.1 (100× data growth) and report the per-query
growth exponent alpha where t ~ data^alpha.

alpha << 1 means runtime is dominated by fixed per-query cost (codegen,
job scheduling) and the data-bound portion is comfortably sublinear —
the regime you want before pointing the same plan at a 1000-executor
cluster. alpha ≈ 1 is linear scan-bound work; alpha > 1 flags a
super-linear operator (the thing to fix).

Usage: python tools/scaling_curve.py [query ...]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.session import get_spark
from bigdata_pipelines_aws_glue_spark.sources.readers import TABLES, load_table

SF_DIRS = [
    ("0.001", "/root/testdata/sf0.001"),
    ("0.01", "/root/testdata/sf0.01"),
    ("0.1", "/root/testdata/sf0.1"),
]

DEFAULT = [
    "flagship_pipeline",
    "q1_pricing_summary",
    "q5_local_revenue",
    "window_rank_orders",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_stats",
    "cosine_topk",
    "crossdoc_shingle_dup",
]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    spark = get_spark("scaling")
    spark.range(1000).selectExpr("sum(id)").collect()
    queries = registry.queries()
    for _, d in SF_DIRS:
        for t in TABLES:
            load_table(spark, d, t)

    results: dict[str, dict[str, float]] = {}
    for name in names:
        fn = queries[name]
        per_sf: dict[str, float] = {}
        for sf, d in SF_DIRS:
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                fn(spark, d).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            per_sf[sf] = round(best, 3)
        # exponent over the full 100x span
        alpha = math.log10(per_sf["0.1"] / per_sf["0.001"]) / 2.0
        results[name] = {**per_sf, "alpha": round(alpha, 3)}
        print(
            f"{name:28s} "
            + "  ".join(f"sf{k}={v}" for k, v in per_sf.items())
            + f"  alpha={alpha:.3f}"
        )

    print(json.dumps({"scaling": results}))


if __name__ == "__main__":
    main()
