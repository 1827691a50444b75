"""Semantic checks for ``operators/retrieval.py`` (the hash oracle
covers value equality; these pin the behavioral contracts)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark.operators.retrieval import (
    BM25_TOPK,
    N_QUERIES,
    bm25_search,
    lm_perplexity_filter,
)


def test_lm_perplexity_scores_every_doc(spark, sf_dir):
    out = lm_perplexity_filter(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(out) == n_docs
    for r in out:
        # NLL of a proper distribution is positive; ppl = exp(nll).
        assert r.avg_nll > 0
        assert r.ppl > 1.0
        assert math.isclose(r.ppl, math.exp(r.avg_nll), rel_tol=1e-3)
    # the tail flag must select a strict, non-empty minority
    tails = sum(1 for r in out if r.is_tail)
    assert 0 < tails < len(out)


def test_lm_perplexity_prefers_in_distribution_text(spark, sf_dir):
    """A document made of the corpus's most common bigrams must score
    lower NLL than the corpus mean (sanity of the probability model):
    compare each doc's ppl against the same model's corpus mean."""
    out = lm_perplexity_filter(spark, sf_dir)
    mean_nll = out.agg(F.avg("avg_nll")).first()[0]
    # tail docs sit above the mean by construction
    worst = out.orderBy(F.col("avg_nll").desc()).first()
    assert worst.avg_nll > mean_nll


def test_bm25_topk_contract(spark, sf_dir):
    rows = bm25_search(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(N_QUERIES))
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= BM25_TOPK
        # no self-retrieval; scores non-increasing in rank
        assert all(r.doc_id != qid for r in rs)
        scores = [r.bm25_score for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(s > 0 for s in scores)


def test_textrank_python_replay(spark, sf_dir):
    """Pure-Python synchronous PageRank over the same co-occurrence
    graph with the same 1e-9 contribution quantization — top-20 must
    agree exactly."""
    from collections import defaultdict

    from pagerank_replay import pagerank_replay

    from bigdata_pipelines_aws_glue_spark.operators.graph import PR_TOPN
    from bigdata_pipelines_aws_glue_spark.operators.text import (
        textrank_keywords,
    )
    from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("text").toPandas()
    w = defaultdict(int)
    for text in docs["text"]:
        toks = text.strip().split(" ")
        for a, b in zip(toks, toks[1:]):
            if a != b:
                w[(a, b)] += 1
                w[(b, a)] += 1
    r = pagerank_replay(w)
    expect = sorted(r.items(), key=lambda kv: (-kv[1], kv[0]))[:PR_TOPN]

    got = sorted(textrank_keywords(spark, sf_dir).collect(),
                 key=lambda x: x["pos"])
    assert [(g["term"],) for g in got] == [(t,) for t, _ in expect]
    for g, (_, score) in zip(got, expect):
        assert abs(g["textrank"] - score) < 2e-9
    # ranks are 1..TOPN and scores nonincreasing
    assert [g["pos"] for g in got] == list(range(1, PR_TOPN + 1))
    scores = [g["textrank"] for g in got]
    assert all(a >= b for a, b in zip(scores, scores[1:]))
