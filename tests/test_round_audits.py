"""Round loops whose counts ride their checkpoints as observed
metrics: the audit frames are local relations, and every consumer's
rows are independent of shuffle partitioning and AQE (observed
metrics merge per-task accumulators)."""

from __future__ import annotations

from bigdata_pipelines_aws_glue_spark.operators.classifier import (
    quality_classifier_train,
)
from bigdata_pipelines_aws_glue_spark.operators.clustering import (
    dedup_clusters_star,
)
from bigdata_pipelines_aws_glue_spark.operators.crawlloop import (
    crawl_rounds_audit,
)
from bigdata_pipelines_aws_glue_spark.operators.links import kcore_peel_audit


def test_round_audits_are_local_relations(spark, sf_dir):
    for fn in (crawl_rounds_audit, kcore_peel_audit):
        qe = fn(spark, sf_dir)._jdf.queryExecution()
        assert qe.optimizedPlan().nodeName() == "LocalRelation", fn
        assert "Join" not in qe.executedPlan().toString(), fn


def test_round_loop_consumers_partition_and_aqe_invariant(spark, sf_dir):
    consumers = [
        crawl_rounds_audit,
        kcore_peel_audit,
        dedup_clusters_star,
        quality_classifier_train,
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
