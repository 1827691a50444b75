"""Semantic checks for ``operators/classifier.py`` (the hash oracle
covers cross-engine value equality; these pin the learning contract:
the student must actually absorb the Gopher teacher)."""

from __future__ import annotations

from bigdata_pipelines_aws_glue_spark.operators.classifier import (
    FEATURES,
    GD_ROUNDS,
    quality_classifier_train,
    quality_classifier_weights,
)
from bigdata_pipelines_aws_glue_spark.operators.text import gopher_flags


def test_gd_loss_monotone_and_accuracy_improves(spark, sf_dir):
    hist = {
        r.round: r
        for r in quality_classifier_train(spark, sf_dir).collect()
    }
    assert set(hist) == set(range(1, GD_ROUNDS + 1))
    nlls = [hist[i].mean_nll for i in range(1, GD_ROUNDS + 1)]
    # Full-batch GD at this LR on a linearly-benign problem: strictly
    # decreasing NLL round over round.
    assert all(a > b for a, b in zip(nlls, nlls[1:])), nlls
    # Round 1 scores the zero-weight model: p == 0.5 for every doc, so
    # nll == ln 2 exactly and n_correct == #(y == 1) (0.5 >= 0.5 tie).
    assert abs(hist[1].mean_nll - 0.693147) < 1e-6
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_keep = gopher_flags(docs).filter("keep").count()
    assert hist[1].n_correct == n_keep
    # The trained model must beat the zero model on its training set.
    assert hist[GD_ROUNDS].n_correct > hist[1].n_correct


def test_weights_shape_and_signal(spark, sf_dir):
    rows = quality_classifier_weights(spark, sf_dir).collect()
    assert [r.feature for r in rows] == [name for name, _ in FEATURES]
    w = {r.feature: r.weight for r in rows}
    assert all(abs(v) > 0 for v in w.values())
    # Stopword density is the one feature that separates keeps from
    # drops without acting as a proxy bias (alpha ratio is ~1.0 for
    # nearly every doc, so with a minority keep class it — like the
    # bias — learns negative). It must carry the largest positive
    # weight.
    assert w["stop_hits_over_5"] > 0
    assert w["stop_hits_over_5"] == max(w.values())
    assert w["bias"] < 0  # keeps are the minority class


def test_training_deterministic_across_calls(spark, sf_dir):
    """Every consumer trains once per call, with no cache shared
    between calls; the quantized gradient sums make two runs agree
    bit-for-bit, weights and trajectory."""
    from bigdata_pipelines_aws_glue_spark.operators.classifier import _train

    w1, hist1 = _train(spark, sf_dir)
    w2, hist2 = _train(spark, sf_dir)
    assert w1 == w2
    assert hist1 == hist2


def test_calibration_replay_and_invariants(spark, sf_dir):
    """Independent replay of binning/ECE/weighted-PAV from the scored
    corpus, plus the calibration invariants (monotone isotonic output,
    ECE in [0,1], count conservation)."""
    import math

    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.classifier import (
        _CAL_BINS,
        classifier_calibration,
        quality_classifier_score,
    )

    got = sorted(
        classifier_calibration(spark, sf_dir).collect(),
        key=lambda r: r["bin"],
    )
    scored = quality_classifier_score(spark, sf_dir).collect()
    # scores are stable_round(p, 6); re-derive raw p is unnecessary —
    # bins from the rounded score can disagree with bins from raw p
    # only within 5e-7 of a boundary, so replay counts from the exact
    # per-doc agreement data instead:
    # agrees_teacher == (keep_pred == label) lets us recover label.
    ps = np.array([r["score"] for r in scored])
    label = np.array(
        [
            r["keep_pred"] == r["agrees_teacher"]
            for r in scored
        ]
    )
    bins = np.minimum((ps * _CAL_BINS).astype(int), _CAL_BINS - 1)
    n_total = 0
    for r in got:
        m = bins == r["bin"]
        assert r["n"] == int(m.sum())
        assert r["n_pos"] == int(label[m].sum())
        assert abs(r["accuracy"] - label[m].mean()) < 1e-6
        assert abs(r["confidence"] - ps[m].mean()) < 1e-5
        assert 0.0 <= r["isotonic_calibrated"] <= 1.0
        n_total += r["n"]
    assert n_total == len(scored)
    # isotonic output is monotone nondecreasing in bin
    iso = [r["isotonic_calibrated"] for r in got]
    assert all(a <= b + 1e-9 for a, b in zip(iso, iso[1:]))
    # weighted PAV replay over the bin aggregates
    ns = [r["n"] for r in got]
    pos = [r["n_pos"] for r in got]
    blocks = [[p, n] for p, n in zip(pos, ns)]
    merged = []
    for b in blocks:
        merged.append(list(b))
        while (
            len(merged) > 1
            and merged[-2][0] / merged[-2][1] >= merged[-1][0] / merged[-1][1]
        ):
            s, c = merged.pop()
            merged[-1][0] += s
            merged[-1][1] += c
    # expand merged blocks back onto the original bins
    expect = []
    for s, c in merged:
        # c is a sum of original bin counts — walk bins until consumed
        acc = 0
        while acc < c:
            acc += ns[len(expect)]
            expect.append(s / c)
    for g, e in zip(iso, expect):
        assert abs(g - e) < 1e-6
    # ECE replay
    ece = sum(
        math.floor(
            abs(r["n_pos"] / r["n"] - r["confidence"])
            * r["n"] * 1e9 / n_total + 0.5
        )
        for r in got
    ) / 1e9
    assert abs(got[0]["ece_total"] - ece) < 2e-5
    assert 0.0 <= got[0]["ece_total"] <= 1.0
