"""Distributed logistic-regression quality classifier.

The standard LLM-curation move (CCNet, GPT-3, Llama): distill an
expensive or rule-based quality gate into a cheap linear model that
scores the whole corpus. Here the teacher is the already-attested
Gopher keep/drop gate (``text.gopher_flags``); the student is
logistic regression over four cheap text features, trained by
full-batch gradient descent run AS SPARK AGGREGATIONS — the shape
that scales: each round is one map over the corpus producing five
quantized gradient sums (plus the round's loss and accuracy), i.e.
O(d) driver bytes per round, never a per-doc collect. The same
discipline as ``kmeans_fit`` / ``pagerank`` / ``bpe_train_merges``:
per-doc gradient addends quantize to 1e-9 longs before summing, so
every round's weight vector is bit-identical in any aggregation
order and the DuckDB twin replays all ``GD_ROUNDS`` rounds as
unrolled CTEs.

Features deliberately reuse expression forms whose cross-engine
replay is already proven by the Gopher oracle (token count, mean
word length, alpha-word ratio, stopword hits) with FIXED scale
divisors — a production run would z-score, but fixed constants keep
the replay surface minimal and the determinism argument one line.

100 TB posture: training is GD_ROUNDS scans of a checkpointed
feature projection (5 doubles + label per doc); each scan partial-
aggregates map-side to 7 longs per partition. Scoring
(``quality_classifier_weights`` consumers) is a map-only pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.functions.rounding import (
    dec_qsum,
    stable_round,
)
from bigdata_pipelines_aws_glue_spark.operators.text import (
    GOPHER_STOPWORDS,
    gopher_flags,
)
from bigdata_pipelines_aws_glue_spark.sources.local import local_frame
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

GD_ROUNDS = 8
GD_LR = 2.0  # exact in binary, so both engines scale identically
_Q9 = 1_000_000_000.0
#: (feature name, fixed scale divisor) in model order; x0 is the bias.
FEATURES = (
    ("bias", None),
    ("n_words_over_100", 100.0),
    ("mean_word_len_over_10", 10.0),
    ("alpha_word_ratio", None),
    ("stop_hits_over_5", 5.0),
)


def _feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, x1..x4, y): the scaled features + the Gopher teacher
    label. Token conventions mirror ``gopher_flags`` exactly (the
    oracle-proven forms): toks = split(trim(text), ' ') WITHOUT
    empty-filtering, n_words = size(toks)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " ")
    n_words = F.size(toks)
    mean_wl = (
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
        ).cast("double")
        / n_words
    )
    alpha_ratio = (
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double")
        / n_words
    )
    stop_hits = sum(
        (F.array_contains(toks, w).cast("int") for w in GOPHER_STOPWORDS),
        F.lit(0),
    )
    feats = docs.select(
        "doc_id",
        (n_words.cast("double") / F.lit(100.0)).alias("x1"),
        (mean_wl / F.lit(10.0)).alias("x2"),
        alpha_ratio.alias("x3"),
        (stop_hits.cast("double") / F.lit(5.0)).alias("x4"),
    )
    labels = gopher_flags(docs).select(
        "doc_id", F.col("keep").cast("double").alias("y")
    )
    return feats.join(labels, "doc_id")


def _train(spark: SparkSession, sf_dir: str) -> tuple[list[float], list[tuple]]:
    size = Observation()
    f = _feature_frame(spark, sf_dir).observe(size, F.count("*").alias("n"))
    f = f.localCheckpoint(eager=True)
    n = size.get["n"]
    w = [0.0] * len(FEATURES)
    hist: list[tuple] = []
    for rnd in range(1, GD_ROUNDS + 1):
        margin = (
            F.lit(w[0])
            + F.lit(w[1]) * F.col("x1")
            + F.lit(w[2]) * F.col("x2")
            + F.lit(w[3]) * F.col("x3")
            + F.lit(w[4]) * F.col("x4")
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
        err = p - F.col("y")
        # decimal(38,0)-carried: gradient sums of 1e9-quantized
        # addends wrap a long past ~9e9 documents
        q = lambda c: dec_qsum(c, _Q9)  # noqa: E731
        nll = -(
            F.col("y") * F.log(p)
            + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - p)
        )
        row = f.agg(
            q(err).alias("g0"),
            q(err * F.col("x1")).alias("g1"),
            q(err * F.col("x2")).alias("g2"),
            q(err * F.col("x3")).alias("g3"),
            q(err * F.col("x4")).alias("g4"),
            q(nll).alias("nllq"),
            F.sum(((p >= 0.5) == (F.col("y") >= 0.5)).cast("long")).alias(
                "n_correct"
            ),
        ).first()
        hist.append((rnd, (float(row["nllq"]) / _Q9) / n, row["n_correct"]))
        # identical operation order to the oracle's r{t} CTEs
        w = [
            w[j] - GD_LR * ((float(row[f"g{j}"]) / _Q9) / n)
            for j in range(len(FEATURES))
        ]
    return w, hist


def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GD trajectory: one row per round with the mean NLL and the
    exact number of documents the pre-update weights classify
    correctly (integer — immune to float ulps). The loss must fall
    and accuracy rise as the student absorbs the Gopher gate."""
    _, hist = _train(spark, sf_dir)
    df = local_frame(
        spark, hist, "round int, mean_nll double, n_correct long"
    )
    return df.select(
        "round", stable_round(F.col("mean_nll"), 6).alias("mean_nll"),
        "n_correct",
    )


def quality_classifier_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final model, one row per feature — the artifact a scoring pass
    would broadcast to grade the full corpus map-only."""
    w, _ = _train(spark, sf_dir)
    rows = [(name, w[j]) for j, (name, _s) in enumerate(FEATURES)]
    df = local_frame(spark, rows, "feature string, weight double")
    return df.select(
        "feature", stable_round(F.col("weight"), 6).alias("weight")
    )


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INFERENCE pass the distillation exists for (round 6): score
    every document with the trained model, map-only — the d+1 weights
    enter the plan as LITERALS in a codegen'd expression (no join, no
    shuffle, no Python), so at 100 TB this is a pure map over the
    corpus. Emits the sigmoid score, the keep decision, and per-doc
    agreement with the Gopher teacher (whose corpus-level rate is the
    distillation's quality metric). The DuckDB twin replays training
    (the proven ``_gd_ctes`` chain) and scores from its own r8
    weights — a hash match proves the Spark-held Python weights and
    the SQL replay agree doc-for-doc through the sigmoid, not just
    rounded to 6 places in the weights view."""
    w, _ = _train(spark, sf_dir)
    f = _feature_frame(spark, sf_dir)
    margin = (
        F.lit(w[0])
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
        + F.lit(w[4]) * F.col("x4")
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    return f.select(
        "doc_id",
        stable_round(p, 6).alias("score"),
        (p >= 0.5).alias("keep_pred"),
        ((p >= 0.5) == (F.col("y") >= 0.5)).alias("agrees_teacher"),
    )


def _gd_ctes() -> str:
    """Feature extraction + GD_ROUNDS unrolled GD rounds in DuckDB,
    bit-for-bit against :func:`_train` (same quantized gradient sums,
    same update expression order)."""
    stop_sql = " + ".join(
        f"CASE WHEN list_contains(toks, '{w}') THEN 1 ELSE 0 END"
        for w in GOPHER_STOPWORDS
    )
    # Every CTE is MATERIALIZED: the r{i} chain is referenced by both
    # g{i+1} and r{i+1} (and r8 once per weight row), so without it
    # DuckDB re-inlines the whole chain exponentially — the same
    # pitfall the PCA matvec oracle hit (linalg.py).
    ctes = [
        """t AS MATERIALIZED (
    SELECT doc_id, text,
           string_split(trim(text), ' ') AS toks,
           string_split(text, chr(10)) AS lines
    FROM documents
)""",
        f"""f AS MATERIALIZED (
    SELECT doc_id,
           CAST(len(toks) AS DOUBLE) / 100.0 AS x1,
           (list_sum(list_transform(toks, x -> length(x)))::DOUBLE
              / len(toks)) / 10.0 AS x2,
           len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
             / len(toks) AS x3,
           CAST(({stop_sql}) AS DOUBLE) / 5.0 AS x4,
           CASE WHEN
               len(toks) BETWEEN 20 AND 80
               AND (list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                      / len(toks)) BETWEEN 3.0 AND 10.0
               AND len(regexp_extract_all(text, '(#|\\.\\.\\.)'))::DOUBLE
                     / len(toks) < 0.1
               AND len(list_filter(lines,
                     x -> regexp_matches(x, '^\\s*[-*•]')))::DOUBLE
                     / len(lines) <= 0.1
               AND len(list_filter(lines, x -> x LIKE '%...'))::DOUBLE
                     / len(lines) <= 0.3
               AND len(list_filter(toks,
                     x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                     / len(toks) >= 0.7
               AND ({stop_sql}) >= 2
           THEN 1.0 ELSE 0.0 END AS y
    FROM t
)""",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM f)",
        "r0 AS MATERIALIZED "
        "(SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,"
        " CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3,"
        " CAST(0.0 AS DOUBLE) AS w4",
    ]
    # r0 needs closing paren; build rounds
    ctes[-1] += ")"
    qsum = (
        "sum(CAST(floor(({expr}) * 1000000000.0 + 0.5) AS BIGINT))"
    )
    for i in range(1, GD_ROUNDS + 1):
        p = (
            "(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-("
            "w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3"
            " + w.w4 * f.x4))))"
        )
        gsum = lambda x: qsum.format(expr=f"({p} - f.y){x}")  # noqa: E731
        nll = (
            f"-(f.y * ln({p}) + (CAST(1.0 AS DOUBLE) - f.y)"
            f" * ln(CAST(1.0 AS DOUBLE) - {p}))"
        )
        ctes.append(
            f"""g{i} AS MATERIALIZED (
    SELECT {gsum('')} AS g0,
           {gsum(' * f.x1')} AS g1,
           {gsum(' * f.x2')} AS g2,
           {gsum(' * f.x3')} AS g3,
           {gsum(' * f.x4')} AS g4,
           {qsum.format(expr=nll)} AS nllq,
           sum(CASE WHEN ({p} >= 0.5) = (f.y >= 0.5)
               THEN 1 ELSE 0 END) AS n_correct
    FROM f CROSS JOIN r{i - 1} w
)""",
        )
        upd = ", ".join(
            f"w.w{j} - {GD_LR!r} * ((CAST(g.g{j} AS DOUBLE)"
            f" / CAST(1000000000 AS DOUBLE)) / (SELECT n FROM nn)) AS w{j}"
            for j in range(len(FEATURES))
        )
        ctes.append(
            f"r{i} AS MATERIALIZED "
            f"(SELECT {upd} FROM r{i - 1} w CROSS JOIN g{i} g)"
        )
    return ",\n".join(ctes)


_TRAJ_ROWS = "\nUNION ALL\n".join(
    f"""SELECT CAST({i} AS INT) AS round,
       floor(((CAST(nllq AS DOUBLE) / CAST(1000000000 AS DOUBLE))
              / (SELECT n FROM nn)) * 1000000.0 + 0.5) / 1000000.0
         AS mean_nll,
       CAST(n_correct AS BIGINT) AS n_correct
FROM g{i}"""
    for i in range(1, GD_ROUNDS + 1)
)

CLASSIFIER_TRAIN_ORACLE = f"""WITH {_gd_ctes()}
{_TRAJ_ROWS}
"""

_WEIGHT_ROWS = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS feature,
       floor(w{j} * 1000000.0 + 0.5) / 1000000.0 AS weight
FROM r{GD_ROUNDS}"""
    for j, (name, _s) in enumerate(FEATURES)
)

CLASSIFIER_WEIGHTS_ORACLE = f"""WITH {_gd_ctes()}
{_WEIGHT_ROWS}
"""

#: scoring replay: same sigmoid, same operand order as the Spark
#: expression (w0 + w1*x1 + ...), from the replayed r8 weights.
_SCORE_P = (
    "(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-("
    "w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3 + w.w4 * f.x4))))"
)

CLASSIFIER_SCORE_ORACLE = f"""WITH {_gd_ctes()}
SELECT f.doc_id,
       floor({_SCORE_P} * 1000000.0 + 0.5) / 1000000.0 AS score,
       {_SCORE_P} >= 0.5 AS keep_pred,
       ({_SCORE_P} >= 0.5) = (f.y >= 0.5) AS agrees_teacher
FROM f CROSS JOIN r{GD_ROUNDS} w
"""




# ---------------------------------------------------------------------------
# Calibration: reliability diagram + ECE + isotonic recalibration
# ---------------------------------------------------------------------------

#: reliability-diagram bins over [0, 1].
_CAL_BINS = 20


def classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the distilled quality classifier — the
    step between "a score" and "a probability you can threshold":
    the reliability diagram (per-bin confidence vs empirical
    accuracy), the Expected Calibration Error
    ``ECE = sum_b n_b/N * |acc_b - conf_b|`` (Naeini et al., AAAI
    2015), and the ISOTONIC-recalibrated probability per bin
    (Zadrozny & Elkan, KDD 2002) via the same weighted max-min PAV
    characterization as ``isotonic_daily_revenue``:

        cal[i] = max_{j<=i} min_{k>=i}  (sum pos in bins j..k)
                                      / (sum n   in bins j..k)

    Distribution shape: scoring is the proven map-only literal-weight
    expression; binning is one shuffle onto the LITERAL ``_CAL_BINS``
    bins; everything after (prefix sums, the max-min lattice, ECE) is
    arithmetic on a 20-row broadcast table. Per-bin confidence sums
    are 1e-9-quantized integers in decimal (corpus-sized count times
    1e9 passes int64); the isotonic interval means are single
    exact-int divisions — identical doubles, identical lattice, both
    engines."""
    w, _ = _train(spark, sf_dir)
    f = _feature_frame(spark, sf_dir)
    margin = (
        F.lit(w[0])
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
        + F.lit(w[4]) * F.col("x4")
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    scored = f.select(
        p.alias("p"), (F.col("y") >= 0.5).cast("long").alias("pos")
    )
    b = F.least(
        F.floor(F.col("p") * _CAL_BINS).cast("long"),
        F.lit(_CAL_BINS - 1),
    )
    bins = scored.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        dec_qsum(F.col("p"), 1e9).alias("conf_q"),
    )
    ba, bb = bins.alias("ba"), F.broadcast(bins.alias("bb"))
    # inclusive prefix sums over the 20-row bin spine
    pre = ba.join(bb, F.col("bb.bin") <= F.col("ba.bin")).groupBy(
        "ba.bin", "ba.n", "ba.n_pos", "ba.conf_q"
    ).agg(
        F.sum("bb.n").cast("long").alias("cn"),
        F.sum("bb.n_pos").cast("long").alias("cp"),
    )
    pj, pk = pre.alias("pj"), F.broadcast(pre.alias("pk"))
    pairs = pj.join(pk, F.col("pj.bin") <= F.col("pk.bin")).select(
        F.col("pj.bin").alias("jb"),
        F.col("pk.bin").alias("kb"),
        (
            (F.col("pk.cp") - F.col("pj.cp") + F.col("pj.n_pos")).cast(
                "double"
            )
            / (F.col("pk.cn") - F.col("pj.cn") + F.col("pj.n")).cast(
                "double"
            )
        ).alias("m"),
    )
    wmin = Window.partitionBy("jb").orderBy(F.col("kb").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rm = pairs.select("jb", "kb", F.min("m").over(wmin).alias("rm"))
    iso = rm.groupBy(F.col("kb").alias("bin")).agg(
        F.max("rm").alias("iso_p")
    )
    tot = F.broadcast(bins.agg(F.sum("n").cast("long").alias("nt")))
    conf = F.col("conf_q").cast("double") / 1e9 / F.col("n").cast("double")
    acc = F.col("n_pos").cast("double") / F.col("n").cast("double")
    gap_q = F.floor(
        F.abs(acc - conf)
        * F.col("n").cast("double")
        * 1e9
        / F.col("nt").cast("double")
        + F.lit(0.5)
    ).cast("decimal(38,0)")
    per_bin = bins.crossJoin(tot).select(
        "bin",
        "n",
        "n_pos",
        stable_round(conf, 6).alias("confidence"),
        stable_round(acc, 6).alias("accuracy"),
        gap_q.alias("_gq"),
    )
    ece = F.broadcast(
        per_bin.agg(
            (F.sum("_gq").cast("double") / 1e9).alias("ece")
        )
    )
    return (
        per_bin.join(F.broadcast(iso), "bin")
        .crossJoin(ece)
        .select(
            "bin",
            "n",
            "n_pos",
            "confidence",
            "accuracy",
            stable_round(F.col("iso_p"), 6).alias("isotonic_calibrated"),
            stable_round(F.col("ece"), 9).alias("ece_total"),
        )
    )


CALIBRATION_ORACLE = f"""WITH {{gd}},
scored AS (
    SELECT {_SCORE_P.replace("w.w", "w.w").replace("f.x", "f.x")} AS p,
           CASE WHEN f.y >= 0.5 THEN 1 ELSE 0 END AS pos
    FROM f CROSS JOIN r{{rounds}} w
),
bins AS (
    SELECT least(CAST(floor(p * {_CAL_BINS}) AS BIGINT), {_CAL_BINS - 1})
             AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           sum(CAST(floor(p * 1000000000.0 + 0.5) AS HUGEINT)) AS conf_q
    FROM scored GROUP BY 1
),
pre AS (
    SELECT a.bin, a.n, a.n_pos, a.conf_q,
           CAST(sum(b.n) AS BIGINT) AS cn,
           CAST(sum(b.n_pos) AS BIGINT) AS cp
    FROM bins a JOIN bins b ON b.bin <= a.bin
    GROUP BY 1, 2, 3, 4
),
pairs AS (
    SELECT pj.bin AS jb, pk.bin AS kb,
           CAST(pk.cp - pj.cp + pj.n_pos AS DOUBLE)
             / CAST(pk.cn - pj.cn + pj.n AS DOUBLE) AS m
    FROM pre pj JOIN pre pk ON pj.bin <= pk.bin
),
rm AS (
    SELECT jb, kb,
           min(m) OVER (PARTITION BY jb ORDER BY kb DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
    FROM pairs
),
iso AS (SELECT kb AS bin, max(rm) AS iso_p FROM rm GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM bins),
per_bin AS (
    SELECT bin, n, n_pos,
           CAST(conf_q AS DOUBLE) / 1e9 / CAST(n AS DOUBLE) AS conf,
           CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
           CAST(floor(abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
               - CAST(conf_q AS DOUBLE) / 1e9 / CAST(n AS DOUBLE))
               * CAST(n AS DOUBLE) * 1e9 / CAST(nt AS DOUBLE) + 0.5)
               AS HUGEINT) AS gq
    FROM bins CROSS JOIN tot
),
ece AS (SELECT CAST(sum(gq) AS DOUBLE) / 1e9 AS ece FROM per_bin)
SELECT p.bin, p.n, p.n_pos,
       floor(p.conf * 1000000.0 + 0.5) / 1000000.0 AS confidence,
       floor(p.acc * 1000000.0 + 0.5) / 1000000.0 AS accuracy,
       floor(i.iso_p * 1000000.0 + 0.5) / 1000000.0
           AS isotonic_calibrated,
       floor(e.ece * 1000000000.0 + 0.5) / 1000000000.0 AS ece_total
FROM per_bin p JOIN iso i USING (bin) CROSS JOIN ece e
"""


def _register() -> None:
    registry.register(
        "quality_classifier_train",
        quality_classifier_train,
        CLASSIFIER_TRAIN_ORACLE,
    )
    registry.register(
        "quality_classifier_weights",
        quality_classifier_weights,
        CLASSIFIER_WEIGHTS_ORACLE,
    )
    registry.register(
        "quality_classifier_score",
        quality_classifier_score,
        CLASSIFIER_SCORE_ORACLE,
    )
    registry.register(
        "classifier_calibration",
        classifier_calibration,
        CALIBRATION_ORACLE.format(gd=_gd_ctes(), rounds=GD_ROUNDS),
    )
