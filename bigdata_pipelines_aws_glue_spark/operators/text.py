"""Text-analysis operators ([north-star] N5, BASELINE.json:6).

Quality scoring, token statistics, language tagging, and document
fingerprinting over the ``documents`` corpus — the per-document
feature pass of an LLM-data pipeline. Every operator here is
oracle-checked, including the two non-obvious ones: the pandas-UDF
token counter (RE2 twin) and the rolling fingerprint (cross-engine
md5-derived token hash).

All stats are native column expressions / higher-order functions —
embarrassingly parallel per-row map work: no shuffle at all, which is
exactly what a 100 TB feature pass must be. The one Python-worker
operator (``token_count_bpe``) is an Arrow-batched pandas UDF, not a
row-at-a-time UDF.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.functions.rounding import stable_round
from bigdata_pipelines_aws_glue_spark.operators.dedup import _tokens
from bigdata_pipelines_aws_glue_spark.operators.graph import (
    PAGERANK_CTES,
    PR_ITERS,
    PR_TOPN,
    pagerank,
    top_ranked,
)
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

STOPWORDS = ("the", "a", "and", "of", "to")


def _count_token(tokens: Column, word: str) -> Column:
    return F.size(F.filter(tokens, lambda t: t == F.lit(word)))


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: char/token counts, average token
    length, stopword ratio, distinct-token ratio, and a composite
    quality score — the filter basis for corpus curation."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = _tokens(F.col("text"))
    n_tokens = F.size(tokens)
    n_chars = F.length("text")
    stop_hits = sum(
        (_count_token(tokens, w) for w in STOPWORDS), F.lit(0)
    )
    distinct_ratio = F.size(F.array_distinct(tokens)).cast("double") / n_tokens
    stop_ratio = stop_hits.cast("double") / n_tokens
    avg_tok = (
        F.aggregate(
            tokens, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).cast("double")
        / n_tokens
    )
    quality = (
        F.when((n_tokens >= 20) & (n_tokens <= 80), 0.5).otherwise(0.0)
        + F.when(stop_ratio < 0.3, 0.25).otherwise(0.0)
        + F.when(distinct_ratio > 0.5, 0.25).otherwise(0.0)
    )
    return docs.select(
        "doc_id",
        "lang",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        stable_round(avg_tok, 6).alias("avg_token_len"),
        stable_round(stop_ratio, 6).alias("stopword_ratio"),
        stable_round(distinct_ratio, 6).alias("distinct_ratio"),
        quality.alias("quality_score"),
    )


TEXT_STATS_ORACLE = f"""
WITH t AS (
    SELECT doc_id, lang, text,
           string_split(trim(text), ' ') AS toks,
           len(string_split(trim(text), ' ')) AS n_tokens
    FROM documents
),
s AS (
    SELECT doc_id, lang,
           CAST(length(text) AS INT) AS n_chars,
           n_tokens,
           list_sum(list_transform(toks, x -> length(x)))::DOUBLE
             / n_tokens AS avg_tok,
           ({" + ".join(f"len(list_filter(toks, x -> x = '{w}'))" for w in STOPWORDS)}
           )::DOUBLE / n_tokens AS stop_ratio,
           len(list_distinct(toks))::DOUBLE / n_tokens AS distinct_ratio
    FROM t
)
SELECT doc_id, lang,
       n_chars,
       CAST(n_tokens AS INT) AS n_tokens,
       floor((avg_tok) * 1000000.0 + 0.5) / 1000000.0 AS avg_token_len,
       floor((stop_ratio) * 1000000.0 + 0.5) / 1000000.0 AS stopword_ratio,
       floor((distinct_ratio) * 1000000.0 + 0.5) / 1000000.0 AS distinct_ratio,
       CAST(CASE WHEN n_tokens BETWEEN 20 AND 80 THEN 0.5 ELSE 0.0 END
        + CASE WHEN stop_ratio < 0.3 THEN 0.25 ELSE 0.0 END
        + CASE WHEN distinct_ratio > 0.5 THEN 0.25 ELSE 0.0 END
        AS DOUBLE) AS quality_score
FROM s
"""

#: Marker-word profiles for the heuristic language tagger. (The corpus
#: text is synthetic shared-vocabulary, so this demonstrates the
#: *operator* — argmax over per-language evidence — with exact oracle
#: parity, not linguistic accuracy.)
LANG_MARKERS = {
    "en": ("the", "a", "and"),
    "de": ("data", "row", "table"),
    "es": ("column", "line", "part"),
    "fr": ("query", "filter", "sort"),
    "zh": ("hash", "join", "merge"),
}


def lang_id_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N5 language tagging: score each language by marker-token hits,
    predict the argmax (deterministic tie-break by language order)."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = _tokens(F.col("text"))
    scores = {
        lang: sum((_count_token(tokens, w) for w in ws), F.lit(0))
        for lang, ws in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    predicted = F.coalesce(
        *[
            F.when(scores[lang] == best, F.lit(lang))
            for lang in LANG_MARKERS  # first max wins (dict order = fixed)
        ]
    )
    out = docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        predicted.alias("predicted_lang"),
        best.alias("best_score"),
    )
    return out


def _lang_sql_score(ws: tuple[str, ...]) -> str:
    return " + ".join(f"len(list_filter(toks, x -> x = '{w}'))" for w in ws)


LANG_ID_ORACLE = f"""
WITH t AS (
    SELECT doc_id, lang, string_split(trim(text), ' ') AS toks FROM documents
),
s AS (
    SELECT doc_id, lang,
           {", ".join(f"({_lang_sql_score(ws)}) AS s_{lang}"
                      for lang, ws in LANG_MARKERS.items())},
           greatest({", ".join(f"({_lang_sql_score(ws)})"
                               for ws in LANG_MARKERS.values())}) AS best
    FROM t
)
SELECT doc_id, lang AS actual_lang,
       CASE {" ".join(f"WHEN s_{lang} = best THEN '{lang}'"
                      for lang in LANG_MARKERS)} END AS predicted_lang,
       CAST(best AS INT) AS best_score
FROM s
"""

#: BPE-ish subword pattern: word pieces of <=4 chars, digits, or
#: punctuation runs (a simplification of byte-pair tokenizer output
#: granularity for counting purposes).
_BPE_RE = re.compile(r"[A-Za-z]{1,4}|\d+|[^\sA-Za-z\d]+")


def _bpe_count_series(text: pd.Series) -> pd.Series:
    """Arrow-batched subword token counter kernel."""
    return text.fillna("").map(lambda s: len(_BPE_RE.findall(s))).astype("int32")


def make_bpe_token_count():
    """Build the pandas UDF lazily — decorating at module import time
    would require an active SparkContext (DDL type-string parsing),
    which breaks importing this package before the session exists
    (e.g. a driver that calls ``queries()`` first)."""
    return pandas_udf(_bpe_count_series, "int")


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count (native) vs BPE-ish subword count
    (Arrow-batched pandas UDF). Oracle-checked: the pattern's
    alternatives are start-disjoint (letter / digit / other), so
    Python's leftmost-first findall and RE2's regexp_extract_all
    agree on the match count."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    bpe_token_count = make_bpe_token_count()
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.size(_tokens(F.col("text"))).alias("n_ws_tokens"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


BPE_COUNT_ORACLE = r"""
SELECT doc_id,
       CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|\d+|[^\sA-Za-z\d]+'))
            AS INTEGER) AS n_bpe_tokens
FROM documents
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial fingerprint over token hashes — order-
    sensitive, so unlike set-based MinHash it distinguishes permuted
    documents. The per-token hash is the first 60 bits of md5 (both
    engines agree bit-for-bit: Spark ``conv(substring(md5,1,15),16,10)``
    == DuckDB ``('0x'||substring(md5,1,15))::BIGINT``), which makes
    the whole fingerprint oracle-checkable; swap in ``crc32`` for a
    cheaper JVM hash where cross-engine checkability isn't needed.
    Modulus keeps ``acc*31 + h`` inside a signed long (Spark 4 runs
    ANSI mode: overflow raises instead of wrapping)."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = _tokens(F.col("text"))
    mod = F.lit(1_000_000_007)
    tok_h = (
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long") % mod
    )
    fp = F.aggregate(
        tokens,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + tok_h(t)) % mod,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


FINGERPRINT_ORACLE = """
SELECT doc_id,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(trim(text), ' '),
                   t -> ('0x' || substring(md5(t), 1, 15))::BIGINT % 1000000007)),
           (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
FROM documents
"""


def _bigrams(tokens: Column) -> Column:
    """Space-joined adjacent-token bigrams (empty array below 2
    tokens) — the shared recipe behind ``doc_repetition_stats`` and
    ``doc_compression_ratio``'s bounds; their DuckDB twins replay the
    same construction, so the two MUST NOT diverge."""
    return F.when(
        F.size(tokens) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(tokens) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(tokens, i + 1), F.element_at(tokens, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filters (the Gopher-rule family):
    repeated-bigram fraction and the frequency share of the single most
    common bigram. Explode → two keyed aggregations — both shuffles are
    hash-partitioned on doc_id, so the pattern holds at corpus scale
    (no per-doc driver work, no array materialization beyond one doc's
    grams per row)."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id", F.explode(_bigrams(_tokens(F.col("text")))).alias("gram")
    )
    per_gram = g.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.max("c").alias("top_gram_count"),
            F.count(F.lit(1)).alias("n_distinct_bigrams"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            stable_round(
                F.col("top_gram_count").cast("double") / F.col("n_bigrams"), 6
            ).alias("top_bigram_share"),
            stable_round(
                (F.col("n_bigrams") - F.col("n_distinct_bigrams")).cast("double")
                / F.col("n_bigrams"),
                6,
            ).alias("repeated_bigram_frac"),
        )
    )


DOC_REPETITION_ORACLE = """
WITH t AS (
    SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
),
g AS (
    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i+1])) AS gram
    FROM t WHERE len(toks) >= 2
),
per_gram AS (
    SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_bigrams,
       floor((CAST(max(c) AS DOUBLE) / sum(c)) * 1000000.0 + 0.5) / 1000000.0
           AS top_bigram_share,
       floor((CAST(sum(c) - count(*) AS DOUBLE) / sum(c)) * 1000000.0 + 0.5) / 1000000.0
           AS repeated_bigram_frac
FROM per_gram
GROUP BY doc_id
"""


def top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: the 10 most frequent terms per
    language, with occurrence and document frequencies — the
    term-statistics pass behind TF-IDF weighting and stopword
    discovery in corpus curation pipelines.

    Scale posture: the explode fans out to one row per token, but the
    (lang, term) groupBy partial-aggregates map-side, so the shuffle
    carries at most |vocab| rows per partition, not |tokens|. The
    ranking window partitions by language over ALREADY-aggregated
    vocab-sized data — the low partition cardinality is fine because
    the heavy reduction happened in the agg, and at 100 TB the window
    input is bounded by vocabulary size, not corpus size. Ties broken
    by term so the top-k is fully deterministic cross-engine.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = (
        docs.select(
            "doc_id", "lang", F.explode(_tokens(F.col("text"))).alias("term")
        )
        .filter(F.length("term") > 0)
    )
    per_term = terms.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("n_occurrences"), F.asc("term")
    )
    return (
        per_term.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 10)
        .select("lang", "term", "n_occurrences", "n_docs", "rn")
    )


TOP_TERMS_ORACLE = """
WITH terms AS (
  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS term
  FROM documents
),
per_term AS (
  SELECT lang, term,
         CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM terms WHERE length(term) > 0
  GROUP BY lang, term
)
SELECT lang, term, n_occurrences, n_docs, rn FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY lang ORDER BY n_occurrences DESC, term ASC) AS INT) AS rn
  FROM per_term
)
WHERE rn <= 10
"""


#: Corpus-adapted thresholds for the Gopher-style document quality
#: rules (Rae et al. 2021, "Scaling Language Models: ... Gopher",
#: App. A — public heuristics; the paper's 50..100k word bound is
#: scaled to this corpus' 10..99-word documents). Each rule is a
#: registered boolean so downstream mixes can re-weight instead of
#: re-scanning.
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 80
GOPHER_MIN_MEAN_WL = 3.0
GOPHER_MAX_MEAN_WL = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_RATIO = 0.1
GOPHER_MAX_ELLIPSIS_RATIO = 0.3
GOPHER_MIN_ALPHA_RATIO = 0.7
GOPHER_MIN_STOP_HITS = 2
GOPHER_STOPWORDS = ("the", "a", "and", "of", "to")


def gopher_rules(text: Column) -> "tuple[Column, dict[str, Column]]":
    """(n_words, rule-name -> boolean) for ANY text column — the
    Gopher heuristics as reusable expressions, so composed pipelines
    (``operators/funnel.py``) apply the identical gate the attested
    ``gopher_quality_filter`` emits."""
    tokens = _tokens(text)
    n_words = F.size(tokens)
    mean_wl = (
        F.aggregate(
            tokens, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
        ).cast("double")
        / n_words
    )
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    bullet_ratio = (
        F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]")))
        .cast("double")
        / n_lines
    )
    ellipsis_ratio = (
        F.size(F.filter(lines, lambda l: l.endswith("...")))
        .cast("double")
        / n_lines
    )
    alpha_ratio = (
        F.size(F.filter(tokens, lambda t: t.rlike("[A-Za-z]")))
        .cast("double")
        / n_words
    )
    symbol_ratio = (
        F.regexp_count(text, F.lit(r"(#|\.\.\.)")).cast("double")
        / n_words
    )
    stop_hits = sum(
        (
            F.array_contains(tokens, w).cast("int")
            for w in GOPHER_STOPWORDS
        ),
        F.lit(0),
    )
    rules = {
        "r_word_count": (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS),
        "r_mean_word_len": (mean_wl >= GOPHER_MIN_MEAN_WL)
        & (mean_wl <= GOPHER_MAX_MEAN_WL),
        "r_symbol_ratio": symbol_ratio < GOPHER_MAX_SYMBOL_RATIO,
        "r_bullet_lines": bullet_ratio <= GOPHER_MAX_BULLET_RATIO,
        "r_ellipsis_lines": ellipsis_ratio <= GOPHER_MAX_ELLIPSIS_RATIO,
        "r_alpha_words": alpha_ratio >= GOPHER_MIN_ALPHA_RATIO,
        "r_stopwords": stop_hits >= GOPHER_MIN_STOP_HITS,
    }
    return n_words, rules


def gopher_keep(text: Column) -> Column:
    """The composed keep/drop gate: AND of every Gopher rule."""
    _, rules = gopher_rules(text)
    keep = None
    for c in rules.values():
        keep = c if keep is None else (keep & c)
    return keep


def gopher_flags(docs: DataFrame) -> DataFrame:
    """Gopher-rule document filter — the composed keep/drop gate a
    pretraining pipeline runs after dedup: word-count bounds, mean
    word length, symbol-to-word ratio (# and ellipsis), bullet-line
    and ellipsis-line ratios, alphabetic-word ratio, and a minimum
    count of distinct stopwords present. Pure column expressions
    (split + higher-order filters + regexp_count), one scan, no
    shuffle — at 100 TB this is a map-only pass whose flags write
    beside the corpus for later mix-weighting."""
    n_words, rules = gopher_rules(F.col("text"))
    keep = None
    for c in rules.values():
        keep = c if keep is None else (keep & c)
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        *[c.alias(name) for name, c in rules.items()],
        keep.alias("keep"),
    )


def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry: :func:`gopher_flags` over the corpus."""
    return gopher_flags(load_table(spark, sf_dir, "documents"))


GOPHER_FILTER_ORACLE = f"""
WITH t AS (
    SELECT doc_id, text,
           string_split(trim(text), ' ') AS toks,
           string_split(text, chr(10)) AS lines
    FROM documents
),
m AS (
    SELECT doc_id,
           len(toks) AS n_words,
           list_sum(list_transform(toks, x -> length(x)))::DOUBLE
             / len(toks) AS mean_wl,
           len(regexp_extract_all(text, '(#|\\.\\.\\.)'))::DOUBLE
             / len(toks) AS symbol_ratio,
           len(list_filter(lines, x -> regexp_matches(x, '^\\s*[-*•]')))::DOUBLE
             / len(lines) AS bullet_ratio,
           len(list_filter(lines, x -> x LIKE '%...'))::DOUBLE
             / len(lines) AS ellipsis_ratio,
           len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
             / len(toks) AS alpha_ratio,
           ({" + ".join(f"CASE WHEN list_contains(toks, '{w}') THEN 1 ELSE 0 END" for w in GOPHER_STOPWORDS)})
             AS stop_hits
    FROM t
)
SELECT doc_id,
       CAST(n_words AS INT) AS n_words,
       n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} AS r_word_count,
       mean_wl >= {GOPHER_MIN_MEAN_WL} AND mean_wl <= {GOPHER_MAX_MEAN_WL} AS r_mean_word_len,
       symbol_ratio < {GOPHER_MAX_SYMBOL_RATIO} AS r_symbol_ratio,
       bullet_ratio <= {GOPHER_MAX_BULLET_RATIO} AS r_bullet_lines,
       ellipsis_ratio <= {GOPHER_MAX_ELLIPSIS_RATIO} AS r_ellipsis_lines,
       alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO} AS r_alpha_words,
       stop_hits >= {GOPHER_MIN_STOP_HITS} AS r_stopwords,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
         AND (mean_wl >= {GOPHER_MIN_MEAN_WL} AND mean_wl <= {GOPHER_MAX_MEAN_WL})
         AND (symbol_ratio < {GOPHER_MAX_SYMBOL_RATIO})
         AND (bullet_ratio <= {GOPHER_MAX_BULLET_RATIO})
         AND (ellipsis_ratio <= {GOPHER_MAX_ELLIPSIS_RATIO})
         AND (alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO})
         AND (stop_hits >= {GOPHER_MIN_STOP_HITS}) AS keep
FROM m
"""


def _compression_ratio_series(text: pd.Series) -> pd.Series:
    """Arrow-batched kernel: zlib-compressed size over raw UTF-8 size.
    Low ratio = highly repetitive/templated text (the cheap
    perplexity proxy real curation pipelines use as a dup/boilerplate
    signal); ratio near or above 1 = high-entropy text."""
    import zlib

    def _ratio(s: str) -> float:
        b = (s or "").encode()
        return len(zlib.compress(b, 6)) / max(len(b), 1)

    return text.map(_ratio).astype("float64")


def make_compression_ratio():
    """Lazy pandas UDF (same SparkContext-at-import constraint as
    :func:`make_bpe_token_count`)."""
    return pandas_udf(_compression_ratio_series, "double")


def doc_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal per document, attested via a
    BOUNDS-BOOLEAN oracle (the ``hll_vocab_rollup`` contract): no SQL
    engine exposes deflate, so instead of the raw ratio the row
    carries per-doc bounds [ratio_lo, ratio_hi] derived from
    cross-engine-exact text statistics (char length + repeated-bigram
    fraction, the ``doc_repetition_stats`` recipe) plus the boolean
    that the zlib ratio lands inside them. DuckDB recomputes doc_id /
    n_chars / rep_frac / bounds exactly and asserts TRUE — a hash
    match therefore proves the deterministic stats AND that every
    document's measured ratio obeyed its bounds.

    Bounds (validated with ~1.7x margin at sf0.001/0.01/0.1):
    ``lo = max(8/n_chars, 0.25*(1-rep_frac))`` — word-salad text
    can't compress below ~0.4, discounted as repetition rises;
    ``hi = 1 + 64/n_chars - 0.45*rep_frac`` — zlib overhead shrinks
    with doc size, and repetitive text MUST compress. The raw ratio
    stays available via :func:`make_compression_ratio`. At 100 TB
    this is an Arrow-batched map-only pass, typically fused with the
    other per-doc feature kernels."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    ratio = make_compression_ratio()
    docs = spread(load_table(spark, sf_dir, "documents"))
    bigrams = _bigrams(_tokens(F.col("text")))
    n_big = F.size(bigrams)
    rep = F.when(
        n_big > 0,
        (n_big - F.size(F.array_distinct(bigrams))).cast("double") / n_big,
    ).otherwise(F.lit(0.0))
    staged = docs.select(
        "doc_id",
        F.length(F.col("text")).alias("n_chars"),
        stable_round(rep, 6).alias("rep_frac"),
        ratio(F.col("text")).alias("_ratio"),
    )
    n_safe = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    lo = stable_round(
        F.greatest(
            F.lit(8.0) / n_safe, F.lit(0.25) * (F.lit(1.0) - F.col("rep_frac"))
        ),
        6,
    )
    hi = stable_round(
        F.lit(1.0) + F.lit(64.0) / n_safe - F.lit(0.45) * F.col("rep_frac"), 6
    )
    return staged.select(
        "doc_id",
        "n_chars",
        "rep_frac",
        lo.alias("ratio_lo"),
        hi.alias("ratio_hi"),
        (
            (F.col("_ratio") >= lo) & (F.col("_ratio") <= hi)
        ).alias("ratio_in_bounds"),
    )


COMPRESSION_BOUNDS_ORACLE = """
WITH t AS (
    SELECT doc_id, length(text) AS n_chars,
           string_split(trim(text), ' ') AS toks
    FROM documents
),
b AS (
    SELECT doc_id, n_chars,
           CASE WHEN len(toks) >= 2
                THEN list_transform(range(1, len(toks)),
                                    i -> toks[i] || ' ' || toks[i+1])
                ELSE [] END AS bigs
    FROM t
),
r AS (
    SELECT doc_id, CAST(n_chars AS INT) AS n_chars,
           CASE WHEN len(bigs) > 0
                THEN floor(((len(bigs) - len(list_distinct(bigs)))::DOUBLE
                            / len(bigs)) * 1000000.0 + 0.5) / 1000000.0
                ELSE 0.0 END AS rep_frac
    FROM b
)
SELECT doc_id, n_chars, rep_frac,
       floor(greatest(8.0 / greatest(n_chars, 1),
                      0.25 * (1.0 - rep_frac)) * 1000000.0 + 0.5)
           / 1000000.0 AS ratio_lo,
       floor((1.0 + 64.0 / greatest(n_chars, 1) - 0.45 * rep_frac)
             * 1000000.0 + 0.5) / 1000000.0 AS ratio_hi,
       TRUE AS ratio_in_bounds
FROM r
"""


#: Small AFINN-style valence lexicon (public-domain word list style;
#: SURVEY §2.12 N5 names sentiment as the pandas-UDF candidate — a
#: lexicon scorer needs no Python at all: higher-order filters only).
SENTIMENT_POS = ("good", "fast", "small", "big")
SENTIMENT_NEG = ("slow", "error", "late", "bad")


def doc_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon sentiment score per document: (pos_hits - neg_hits) /
    n_tokens in [-1, 1], with the hit counts emitted for
    auditability. Pure column expressions — the map-only shape; a
    model-based classifier slots in behind the same output contract
    as a pandas UDF at deploy time."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = _tokens(F.col("text"))
    n_tokens = F.size(tokens)
    pos = sum((_count_token(tokens, w) for w in SENTIMENT_POS), F.lit(0))
    neg = sum((_count_token(tokens, w) for w in SENTIMENT_NEG), F.lit(0))
    return docs.select(
        "doc_id",
        pos.alias("pos_hits"),
        neg.alias("neg_hits"),
        stable_round(
            (pos - neg).cast("double") / n_tokens, 6
        ).alias("sentiment"),
    )


def _lex_sql(ws: tuple[str, ...]) -> str:
    return " + ".join(f"len(list_filter(toks, x -> x = '{w}'))" for w in ws)


SENTIMENT_ORACLE = f"""
WITH t AS (
    SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
)
SELECT doc_id,
       CAST(({_lex_sql(SENTIMENT_POS)}) AS INT) AS pos_hits,
       CAST(({_lex_sql(SENTIMENT_NEG)}) AS INT) AS neg_hits,
       floor(((({_lex_sql(SENTIMENT_POS)}) - ({_lex_sql(SENTIMENT_NEG)}))::DOUBLE
              / len(toks)) * 1000000.0 + 0.5) / 1000000.0 AS sentiment
FROM t
"""


#: words per pseudo-sentence for readability on the unpunctuated
#: corpus (the standard fallback for ASR-transcript-style text with
#: no sentence delimiters; documented convention, not a guess).
READABILITY_WPS = 20


def _syllables(w: Column) -> Column:
    """Heuristic syllable count: number of vowel groups (incl. y) —
    the classic dictionary-free approximation behind automated
    readability scoring."""
    return F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0)))


def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document readability profile: word/syllable/polysyllable
    counts, Flesch reading ease, and Flesch–Kincaid grade — the
    classic curation filter for targeting a corpus at a difficulty
    band. Sentence boundaries don't exist in this corpus (no
    punctuation), so the sentence unit is a fixed ``READABILITY_WPS``
    -word span (rounded, min 1) — the documented fallback.

    Map-only column expressions end-to-end (zero shuffle): at 100 TB
    this is a pure scan pass, and Catalyst prunes to (doc_id, text).
    Doubles are ratios of exact integers, so the DuckDB twin matches
    bit-for-bit; scores are stable-rounded on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(_tokens(F.col("text")), lambda w: F.length(w) > 0)
    m = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            F.transform(toks, _syllables), F.lit(0), lambda a, x: a + x
        )
        .cast("long")
        .alias("n_syllables"),
        F.size(F.filter(toks, lambda w: _syllables(w) >= 3))
        .cast("long")
        .alias("n_polysyllabic"),
    ).filter(F.col("n_words") > 0)
    n_sent = F.greatest(
        F.lit(1).cast("long"),
        F.floor(F.col("n_words") / F.lit(float(READABILITY_WPS)) + F.lit(0.5)),
    )
    m = m.withColumn("n_sentences", n_sent)
    wps = F.col("n_words").cast("double") / F.col("n_sentences")
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    return m.select(
        "doc_id",
        "n_words",
        "n_syllables",
        "n_polysyllabic",
        "n_sentences",
        stable_round(spw, 6).alias("avg_syllables"),
        stable_round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4
        ).alias("flesch_ease"),
        stable_round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 4
        ).alias("fk_grade"),
    )


READABILITY_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split(trim(text), ' '),
                       w -> length(w) > 0) AS toks
    FROM documents
),
m AS (
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(coalesce(list_sum(list_transform(toks,
                w -> len(regexp_extract_all(w, '[aeiouy]+')))), 0)
               AS BIGINT) AS n_syllables,
           CAST(len(list_filter(toks,
                w -> len(regexp_extract_all(w, '[aeiouy]+')) >= 3))
               AS BIGINT) AS n_polysyllabic
    FROM t
),
s AS (
    SELECT *,
           greatest(CAST(1 AS BIGINT),
                    CAST(floor(n_words / {float(READABILITY_WPS)} + 0.5)
                         AS BIGINT)) AS n_sentences
    FROM m WHERE n_words > 0
)
SELECT doc_id, n_words, n_syllables, n_polysyllabic, n_sentences,
       floor((CAST(n_syllables AS DOUBLE) / n_words) * 1000000.0 + 0.5)
           / 1000000.0 AS avg_syllables,
       floor((206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
              - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words))
             * 10000.0 + 0.5) / 10000.0 AS flesch_ease,
       floor((0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
              + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59)
             * 10000.0 + 0.5) / 10000.0 AS fk_grade
FROM s
"""


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by pointwise mutual information —
    the classic collocation detector (Church & Hanks 1990):
    PMI(a,b) = ln(c_ab * N / (c_a * c_b)) over bigram INSTANCES,
    where c_a / c_b are the left / right marginal counts and N the
    total bigram count. A min-count floor (c_ab >= 10) screens the
    unstable low-frequency tail, the standard practice.

    Plan: one explode of the shared ``_bigrams`` recipe, three
    vocab-sized keyed aggregations joined back on the marginals, a
    1-row N cross join (whitelisted scalar broadcast), and a global
    top-k (TakeOrdered — no full sort). Determinism: counts are
    exact ints; the ln argument is one int-ratio division (exact
    below 2^53 — at a 100 TB N the PRODUCT c_ab*N leaves the exact
    range, which shifts PMI by <1e-6 nats and is statistically
    irrelevant; the oracle gate runs at exact scales); ln output is
    1e-9-quantized (libm-safety precedent: BM25/zipf), ties broken
    by gram text."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(_bigrams(_tokens(F.col("text")))).alias("gram")
    ).select(
        "gram",
        F.substring_index("gram", " ", 1).alias("w1"),
        F.substring_index("gram", " ", -1).alias("w2"),
    )
    cab = grams.groupBy("gram", "w1", "w2").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    ca = grams.groupBy("w1").agg(F.count(F.lit(1)).alias("n_left"))
    cb = grams.groupBy("w2").agg(F.count(F.lit(1)).alias("n_right"))
    n_tot = grams.agg(F.count(F.lit(1)).alias("n_total"))
    joined = (
        cab.join(ca, "w1")
        .join(cb, "w2")
        .crossJoin(n_tot)
        .filter(F.col("n_pair") >= 10)
    )
    pmi = F.log(
        (F.col("n_pair") * F.col("n_total")).cast("double")
        / (F.col("n_left") * F.col("n_right")).cast("double")
    )
    out = joined.select(
        "gram",
        "n_pair",
        "n_left",
        "n_right",
        stable_round(pmi, 9).alias("pmi"),
    )
    return out.orderBy(F.col("pmi").desc(), F.col("gram").asc()).limit(20)


PMI_ORACLE = """
WITH t AS (
    SELECT string_split(trim(text), ' ') AS toks FROM documents
),
g AS (
    SELECT unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i+1])) AS gram
    FROM t WHERE len(toks) >= 2
),
p AS (
    SELECT gram, split_part(gram, ' ', 1) AS w1,
           split_part(gram, ' ', 2) AS w2
    FROM g
),
cab AS (SELECT gram, w1, w2, count(*) AS n_pair FROM p GROUP BY gram, w1, w2),
ca AS (SELECT w1, count(*) AS n_left FROM p GROUP BY w1),
cb AS (SELECT w2, count(*) AS n_right FROM p GROUP BY w2),
nt AS (SELECT count(*) AS n_total FROM p)
SELECT gram,
       CAST(n_pair AS BIGINT) AS n_pair,
       CAST(n_left AS BIGINT) AS n_left,
       CAST(n_right AS BIGINT) AS n_right,
       floor(ln(CAST(n_pair * n_total AS DOUBLE)
                / CAST(n_left * n_right AS DOUBLE))
             * 1000000000.0 + 0.5) / 1000000000.0 AS pmi
FROM cab JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN nt
WHERE n_pair >= 10
ORDER BY pmi DESC, gram ASC
LIMIT 20
"""




# ---------------------------------------------------------------------------
# TextRank keyword extraction (graph-based ranking over co-occurrence)
# ---------------------------------------------------------------------------


def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    :func:`pagerank` over the undirected word co-occurrence graph
    (adjacent token pairs, the window-2 form, weighted by pair count),
    top-``PR_TOPN`` terms. Self-loops (w1 = w2) are excluded,
    the standard TextRank convention.

    Plan: one explode of the shared ``_bigrams`` recipe aggregates
    the co-occurrence graph — VOCAB²-bounded whatever the corpus
    size, so every PageRank round is a join between vocab-sized
    tables (the volume-scaling stage is only the bigram count)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.explode(_bigrams(_tokens(F.col("text")))).alias("gram")
    ).select(
        F.substring_index("gram", " ", 1).alias("w1"),
        F.substring_index("gram", " ", -1).alias("w2"),
    ).filter(F.col("w1") != F.col("w2"))
    und = pairs.select(
        F.col("w1").alias("src"), F.col("w2").alias("dst")
    ).unionAll(
        pairs.select(F.col("w2").alias("src"), F.col("w1").alias("dst"))
    )
    edges = und.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    return top_ranked(pagerank(edges)).select(
        "pos",
        F.col("node").alias("term"),
        stable_round(F.col("r"), 9).alias("textrank"),
    )


TEXTRANK_ORACLE = f"""
WITH t AS (
    SELECT string_split(trim(text), ' ') AS toks FROM documents
),
g AS (
    SELECT unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i+1])) AS gram
    FROM t WHERE len(toks) >= 2
),
p AS (
    SELECT split_part(gram, ' ', 1) AS w1,
           split_part(gram, ' ', 2) AS w2
    FROM g
    WHERE split_part(gram, ' ', 1) <> split_part(gram, ' ', 2)
),
und AS (
    SELECT w1 AS src, w2 AS dst FROM p
    UNION ALL
    SELECT w2 AS src, w1 AS dst FROM p
),
edges AS (
    SELECT src, dst, CAST(count(*) AS BIGINT) AS w
    FROM und GROUP BY 1, 2
),
{PAGERANK_CTES}
SELECT CAST(row_number() OVER (ORDER BY r DESC, node) AS INT) AS pos,
       node AS term,
       floor(r * 1000000000.0 + 0.5) / 1000000000.0 AS textrank
FROM r{PR_ITERS}
ORDER BY r DESC, node
LIMIT {PR_TOPN}
"""


def _register() -> None:
    registry.register("pmi_collocations", pmi_collocations, PMI_ORACLE)
    registry.register("doc_readability", doc_readability, READABILITY_ORACLE)
    registry.register("text_stats", text_stats, TEXT_STATS_ORACLE)
    registry.register(
        "doc_compression_ratio", doc_compression_ratio, COMPRESSION_BOUNDS_ORACLE
    )
    registry.register(
        "doc_sentiment_lexicon", doc_sentiment_lexicon, SENTIMENT_ORACLE
    )
    registry.register(
        "gopher_quality_filter", gopher_quality_filter, GOPHER_FILTER_ORACLE
    )
    registry.register("top_terms_per_lang", top_terms_per_lang, TOP_TERMS_ORACLE)
    registry.register(
        "doc_repetition_stats", doc_repetition_stats, DOC_REPETITION_ORACLE
    )
    registry.register("lang_id_markers", lang_id_markers, LANG_ID_ORACLE)
    registry.register("token_count_bpe", token_count_bpe, BPE_COUNT_ORACLE)
    registry.register("doc_fingerprint", doc_fingerprint, FINGERPRINT_ORACLE)
    registry.register(
        "textrank_keywords", textrank_keywords, TEXTRANK_ORACLE
    )
