"""Driver-built frames are Arrow-backed ``LocalRelation``s
(``sources.local``): reading them starts no Python worker, where a
``createDataFrame(<list>)`` frame is a ``LogicalRDD`` over a PythonRDD
that does on every evaluation."""

from __future__ import annotations

import pytest

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.sources.local import local_frame


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_local_frame_schema_and_rows(spark):
    rows = [(1, "a", 2.5, ["x", "y"]), (2, None, None, [])]
    schema = "k int, s string, d double, arr array<string>"
    df = local_frame(spark, rows, schema)
    assert df.schema.simpleString() == (
        "struct<k:int,s:string,d:double,arr:array<string>>"
    )
    assert [tuple(r) for r in df.orderBy("k").collect()] == rows
    plan = _analyzed(df)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    assert local_frame(spark, [], schema).count() == 0


def test_local_frame_rejects_values_its_type_cannot_hold(spark):
    import pyarrow as pa

    with pytest.raises(pa.ArrowInvalid):
        local_frame(spark, [(2**40,)], "k int")


@pytest.mark.parametrize(
    "query",
    [
        "bpe_train_merges",
        "deterministic_shuffle",
        "markov_event_transitions",
        "observed_metrics_q6",
        "greedy_coverage_select",
        "greedy_coverage_batched",
        "pca_power_iteration",
        "spatial_point_in_polygon",
        "quality_classifier_train",
        "quality_classifier_weights",
    ],
)
def test_driver_built_frames_are_local_relations(spark, sf_dir, query):
    plan = _analyzed(registry.queries()[query](spark, sf_dir))
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan
