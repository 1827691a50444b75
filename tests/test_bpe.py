"""Semantic checks for ``operators/bpe.py`` (hash oracle covers the
full replay; these pin the greedy-merge contract and the audit trail)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark.operators.bpe import (
    NUM_MERGES,
    _merge_fold,
    bpe_train_merges,
)


#: (input syms, pair, expected) — overlap runs merge 1st/3rd/...
MERGE_CASES = [
    (["a", "a", "a"], ("a", "a"), ["aa", "a"]),
    (["a", "a", "a", "a"], ("a", "a"), ["aa", "aa"]),
    (["x", "a", "b", "a", "b"], ("a", "b"), ["x", "ab", "ab"]),
    (["a", "b", "b"], ("a", "b"), ["ab", "b"]),
    (["b", "a"], ("a", "b"), ["b", "a"]),
]


def test_merge_fold_greedy_left_to_right(spark):
    cases = MERGE_CASES
    df = spark.createDataFrame(
        [(i, syms) for i, (syms, _, _) in enumerate(cases)], "id int, syms array<string>"
    )
    for i, (syms, (a, b), want) in enumerate(cases):
        got = (
            df.filter(F.col("id") == i)
            .select(_merge_fold(F.col("syms"), a, b).alias("m"))
            .first()
            .m
        )
        assert got == want, (syms, (a, b), got, want)


def test_driver_merge_matches_fold_cases():
    from bigdata_pipelines_aws_glue_spark.operators.bpe import _merge

    for syms, (a, b), want in MERGE_CASES:
        assert _merge(syms, a, b) == want, (syms, (a, b))


def test_argmax_pair_tie_break_is_utf8_byte_order():
    """Equal counts fall to (a, b) ascending in UTF-8 bytes, as in
    Spark's and DuckDB's string ordering: 'Z' < 'a' < 'é'."""
    from bigdata_pipelines_aws_glue_spark.operators.bpe import _argmax_pair

    assert _argmax_pair({("é", "x"): 3, ("a", "x"): 3, ("Z", "y"): 2}) == (
        "a",
        "x",
    )
    assert _argmax_pair({("é", "x"): 3, ("a", "y"): 3, ("a", "x"): 3}) == (
        "a",
        "x",
    )
    assert _argmax_pair({("Z", "x"): 1, ("a", "x"): 1}) == ("Z", "x")


def test_bpe_training_audit_trail(spark, sf_dir):
    out = bpe_train_merges(spark, sf_dir).orderBy("merge_rank").collect()
    assert [r.merge_rank for r in out] == list(range(1, NUM_MERGES + 1))
    # every merge strictly shrinks the corpus symbol count, by at most
    # its pair_count (overlaps can make applied merges < counted pairs)
    for prev, cur in zip(out, out[1:]):
        assert cur.corpus_syms_after < prev.corpus_syms_after
        assert prev.corpus_syms_after - cur.corpus_syms_after <= cur.pair_count
    # merged symbols grow: later rounds may merge earlier outputs, and
    # every learned pair was seen at least once
    assert all(r.pair_count > 0 for r in out)
    # no pair is learned twice
    pairs = [(r.left_sym, r.right_sym) for r in out]
    assert len(set(pairs)) == len(pairs)


def test_train_merges_matches_three_job_form(spark, sf_dir):
    """r16 optimization pin: the one-collect-per-round training loop
    (lazy fold chain + pair-total identity for ``corpus_syms_after``)
    returns exactly the rows of the original form that ran a separate
    argmax job, eager checkpoint, and corpus-sum job every round."""
    from bigdata_pipelines_aws_glue_spark.operators.bpe import (
        _adjacent_pairs,
        _char_syms,
        _tokens,
    )
    from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("word", "freq", _char_syms(F.col("word")).alias("syms"))
        .localCheckpoint(eager=True)
    )
    old_rows = []
    for rank in range(1, NUM_MERGES + 1):
        best = (
            vocab.select(
                "freq", F.explode(_adjacent_pairs(F.col("syms"))).alias("p")
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .first()
        )
        vocab = vocab.withColumn(
            "syms", _merge_fold(F.col("syms"), best.a, best.b)
        ).localCheckpoint(eager=True)
        after = vocab.agg(
            F.sum(F.col("freq") * F.size(F.col("syms"))).alias("s")
        ).first()[0]
        old_rows.append((rank, best.a, best.b, int(best.cnt), int(after)))
    new_rows = [
        tuple(r)
        for r in bpe_train_merges(spark, sf_dir).orderBy("merge_rank").collect()
    ]
    assert new_rows == old_rows


def test_encode_totals_match_training_audit(spark, sf_dir):
    """Σ per-doc BPE tokens must equal the training audit's final
    corpus_syms_after — the encode join and the training fold agree
    on every word."""
    from bigdata_pipelines_aws_glue_spark.operators.bpe import (
        bpe_encode_corpus,
        bpe_train_merges,
    )

    final_syms = (
        bpe_train_merges(spark, sf_dir)
        .orderBy("merge_rank")
        .collect()[-1]["corpus_syms_after"]
    )
    enc = bpe_encode_corpus(spark, sf_dir).collect()
    assert sum(r["n_bpe_tokens"] for r in enc) == final_syms
    for r in enc:
        assert r["n_bpe_tokens"] <= r["n_char_syms"]  # merges only shrink
        assert r["n_bpe_tokens"] >= r["n_words"]  # at least 1 sym/word
        assert r["compression_ppm"] <= 1000000


def test_vocab_bound_raises_named_error(spark, sf_dir, monkeypatch):
    """Past ``MAX_VOCAB_WORDS`` distinct words the trainer refuses to
    collect the vocabulary, with a named error that states the bound."""
    import pytest

    from bigdata_pipelines_aws_glue_spark.operators import bpe

    monkeypatch.setattr(bpe, "MAX_VOCAB_WORDS", 5)
    with pytest.raises(bpe.VocabularyTooLarge) as err:
        bpe.train_bpe(spark, sf_dir)
    assert str(err.value) == (
        f"BPE training: the documents in {sf_dir} have more than 5 "
        "distinct words (MAX_VOCAB_WORDS); the trainer holds the whole "
        "vocabulary on the driver"
    )


def test_training_call_submits_one_job(spark, sf_dir):
    """One training call is one Spark job: the bounded vocabulary
    collect. AQE is off while counting because it submits each
    shuffle's map stage as a job of its own (two jobs here)."""
    from bigdata_pipelines_aws_glue_spark.operators.bpe import train_bpe
    from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

    # the first load of a table in a session runs a parquet footer job
    load_table(spark, sf_dir, "documents")
    sc = spark.sparkContext
    group = "bpe-train-one-call"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "one BPE training call")
    try:
        merges, vocab = train_bpe(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert merges.count() == NUM_MERGES
    assert vocab.count() > 0
