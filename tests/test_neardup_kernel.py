"""The shared near-dup pieces: the word-trigram shingle rule against
its DuckDB twin on edge-case texts, the candidate verifier on a
hand-checked pair, and the partition- and AQE-invariance of the
near-dup and coverage queries built on them."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark.operators.curation import (
    greedy_coverage_batched,
)
from bigdata_pipelines_aws_glue_spark.operators.dedup import (
    SHINGLES_CTE,
    _shingles,
    _tokens,
    _verify,
    dedup_incremental_neardup,
    dedup_minhash_lsh,
    dedup_neardup_pipeline,
    dedup_simhash_hamming,
)

TEXTS = [
    (1, "a b c d"),
    (2, "a b"),  # too short: no shingles, no row
    (3, "x y x y x y"),  # repeated trigrams collapse
    (4, "  p q  r  "),  # trimmed ends, empty token in the middle
    (5, "one"),
]


def test_shingle_sets_match_sql_twin(spark):
    docs = spark.createDataFrame(TEXTS, "doc_id long, text string")
    got = {
        r["doc_id"]: sorted(r["sh"])
        for r in docs.select(
            "doc_id", _shingles(_tokens(F.col("text"))).alias("sh")
        )
        .filter(F.size("sh") > 0)
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in TEXTS)
        + ") v(doc_id, text)"
    )
    twin = {
        i: sorted(sh)
        for i, sh in con.sql(f"WITH {SHINGLES_CTE} SELECT * FROM d").fetchall()
    }
    assert got == twin
    assert sorted(got) == [1, 3, 4]
    assert got[3] == ["x y x", "y x y"]


def test_verify_keeps_exact_jaccard_at_threshold(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),  # 4 shingles
            (2, "a b c d e g"),  # 3 shared of 5 distinct: 0.6
            (3, "a b"),  # no shingles: never verified
        ],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a long, doc_b long"
    )
    rows = [
        tuple(r)
        for r in _verify(cands, "doc_a", "doc_b", docs, docs, 0.6).collect()
    ]
    assert rows == [(1, 2, 0.6)]
    assert _verify(cands, "doc_a", "doc_b", docs, docs, 0.61).count() == 0


def test_neardup_consumers_partition_and_aqe_invariant(spark, sf_dir):
    consumers = [
        dedup_minhash_lsh,
        dedup_neardup_pipeline,
        dedup_incremental_neardup,
        dedup_simhash_hamming,
        greedy_coverage_batched,
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
