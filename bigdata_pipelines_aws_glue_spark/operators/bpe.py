"""Distributed BPE tokenizer training ([north-star], BASELINE.json:6)
— learn byte-pair-encoding merges FROM the corpus, the step upstream
of ``token_count_bpe`` (which applies a fixed tokenizer).

Algorithm (Sennrich et al. 2016): collapse the corpus to its word
VOCABULARY with frequencies (one corpus-sized shuffle); represent each
word as a character sequence plus a ``</w>`` terminal; then per merge
round (a) count adjacent symbol pairs by position, weighted by word
frequency, (b) take the argmax pair (ties: count desc, pair asc in
UTF-8 byte order), (c) apply the merge greedily left-to-right to every
vocab word.

Scale posture: Spark does the corpus-sized work — the word count
before training, and applying the trained vocabulary to the corpus
(a broadcast join in every consumer). Training touches only the
vocabulary, so :func:`train_bpe` collects it ONCE (one bounded
collect, one Spark action) and runs all ``NUM_MERGES`` rounds on the
driver; per-round Spark jobs would each pay a driver<->JVM round trip
for a few kilobytes of pair counts. The collect is capped at
``MAX_VOCAB_WORDS`` distinct words. The trainer's Python heap peaks at
about 0.75 KB per word while a merge is applied (tracemalloc over
200,000 random words of 3-12 letters: 0.5 KB for the collected rows
and symbol lists, plus the merged copy), so about 0.75 GB at the cap.
A larger vocabulary raises :class:`VocabularyTooLarge` instead of
spilling: the trainer has no out-of-core form. The trained merges and
vocabulary re-enter Spark as Arrow-backed ``LocalRelation``s
(``sources.local``), so no Python worker runs when consumers read
them.

Cross-engine determinism: all counts are exact integers; the DuckDB
oracle replays the merge rounds as unrolled CTEs, applying each merge
via greedy-position selection (match positions, split into runs of
consecutive indices — only possible when left==right — and keep the
1st, 3rd, ... of each run), which is equivalent to the left-to-right
fold. ``corpus_syms_after`` attests the merge APPLICATION, not just
the pair counting: both engines must shrink the corpus symbol count
identically every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.hints import maybe_broadcast
from bigdata_pipelines_aws_glue_spark.operators.dedup import _tokens
from bigdata_pipelines_aws_glue_spark.sources.local import local_frame
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

#: merge rounds to learn. Small because the synthetic corpus has a
#: ~31-word vocabulary; real runs set hundreds/thousands — each round
#: is one pass over the driver-held vocabulary.
NUM_MERGES = 8

#: end-of-word marker (standard BPE — lets merges learn suffixes
#: without crossing word boundaries).
EOW = "</w>"

#: most distinct words :func:`train_bpe` brings to the driver (module
#: doc: about 0.75 KB of driver memory each at peak).
MAX_VOCAB_WORDS = 1_000_000

_MERGES_SCHEMA = (
    "merge_rank int, left_sym string, right_sym string, "
    "pair_count long, corpus_syms_after long"
)
_VOCAB_SCHEMA = "word string, freq long, syms array<string>"


class VocabularyTooLarge(RuntimeError):
    """The corpus has more distinct words than ``MAX_VOCAB_WORDS``,
    the bound on what the BPE trainer holds on the driver."""


# JVM-side forms of the symbol split, pair enumeration and merge.
# The trainer runs on the driver; tests pin it to these folds.


def _char_syms(word):
    """Character list + terminal marker, via substring (identical in
    Spark and DuckDB; empty-separator split differs across engines)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: word.substr(i, F.lit(1)),
    )
    return F.concat(chars, F.array(F.lit(EOW)))


def _adjacent_pairs(syms):
    """structs (a, b) for each adjacent position (size >= 2 always:
    one char + EOW)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(syms) - 1),
        lambda i: F.struct(
            F.element_at(syms, i).alias("a"),
            F.element_at(syms, i + 1).alias("b"),
        ),
    )


def _merge_fold(syms, a: str, b: str):
    """Greedy left-to-right merge of adjacent (a, b) -> ab, as a
    JVM-side fold. ``F.get`` (0-based) returns NULL out of bounds, so
    the empty-accumulator case falls through under ANSI mode."""
    a, b = F.lit(a), F.lit(b)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.get(acc, F.size(acc) - 1) == a) & (x == b),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.concat(a, b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


# The driver trainer.


def _collect_vocab(spark: SparkSession, sf_dir: str) -> list:
    """``documents.text`` collapsed to its (word, freq) vocabulary on
    the driver, at most ``MAX_VOCAB_WORDS`` rows. The top-k form is one
    result job (AQE submits the word count's shuffle map stage as a
    second) whose per-partition heaps, and the driver's merge of them,
    hold at most ``MAX_VOCAB_WORDS + 1`` rows each."""
    docs = load_table(spark, sf_dir, "documents")
    rows = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy("word")
        .limit(MAX_VOCAB_WORDS + 1)
        .collect()
    )
    if len(rows) > MAX_VOCAB_WORDS:
        raise VocabularyTooLarge(
            f"BPE training: the documents in {sf_dir} have more than "
            f"{MAX_VOCAB_WORDS:,} distinct words (MAX_VOCAB_WORDS); the "
            "trainer holds the whole vocabulary on the driver"
        )
    return rows


def _pair_counts(vocab) -> dict[tuple[str, str], int]:
    """Adjacent-pair frequencies: each position of each word counts
    once, weighted by the word's frequency."""
    counts: dict[tuple[str, str], int] = {}
    for _, freq, syms in vocab:
        for pair in zip(syms, syms[1:]):
            counts[pair] = counts.get(pair, 0) + freq
    return counts


def _argmax_pair(counts: dict[tuple[str, str], int]) -> tuple[str, str]:
    """Replica of ``orderBy(cnt desc, a asc, b asc).first()``: UTF-8
    byte comparison == Spark's UTF8String binary string ordering (and
    DuckDB's), so the selected merge is identical."""
    return min(
        counts,
        key=lambda p: (-counts[p], p[0].encode("utf-8"), p[1].encode("utf-8")),
    )


def _merge(syms: list[str], a: str, b: str) -> list[str]:
    """:func:`_merge_fold` on the driver."""
    out: list[str] = []
    for x in syms:
        if out and out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return out


def train_bpe(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Learn ``NUM_MERGES`` BPE merges from ``documents.text``.

    Returns ``(merges, vocab)``. ``merges`` has one row per round: the
    merged pair, its (position-counted) frequency at selection time,
    and the corpus-wide symbol count after applying it — a strict
    audit trail of the training run. ``vocab`` is the final
    ``(word, freq, syms)`` vocabulary. Training stops early, like the
    oracle, if every word has become a single symbol. A query that
    needs both frames calls this once."""
    vocab = [
        (r.word, r.freq, [*r.word, EOW]) for r in _collect_vocab(spark, sf_dir)
    ]
    merges = []
    for rank in range(1, NUM_MERGES + 1):
        counts = _pair_counts(vocab)
        if not counts:
            break
        a, b = _argmax_pair(counts)
        vocab = [(w, f, _merge(s, a, b)) for w, f, s in vocab]
        after = sum(f * len(s) for _, f, s in vocab)
        merges.append((rank, a, b, counts[(a, b)], after))
    return (
        local_frame(spark, merges, _MERGES_SCHEMA),
        local_frame(spark, vocab, _VOCAB_SCHEMA),
    )


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training audit trail (:func:`train_bpe`'s ``merges``)."""
    return train_bpe(spark, sf_dir)[0]


def _bpe_ctes() -> list[str]:
    """Unrolled DuckDB replay of the merge rounds (see module doc),
    as the shared CTE list behind BOTH oracles (training audit and
    corpus encode)."""
    ctes = [
        """v1 AS MATERIALIZED (
    SELECT word, CAST(count(*) AS BIGINT) AS freq,
           list_append(list_transform(range(1, length(word) + 1),
                       i -> substr(word, CAST(i AS INT), 1)), '</w>') AS syms
    FROM (SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents)
    WHERE length(word) > 0
    GROUP BY word
)"""
    ]
    for k in range(1, NUM_MERGES + 1):
        ctes.append(
            f"""p{k} AS MATERIALIZED (
    SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT freq,
               unnest(list_transform(range(1, len(syms)), i -> syms[i])) AS a,
               unnest(list_transform(range(1, len(syms)), i -> syms[i + 1])) AS b
        FROM v{k}
    ) GROUP BY a, b
),
best{k} AS MATERIALIZED (SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
pos{k} AS MATERIALIZED (
    SELECT word, freq, syms, len(syms) AS L,
           unnest(range(1, len(syms) + 1)) AS i
    FROM v{k}
),
mm{k} AS MATERIALIZED (
    SELECT p.word, p.freq, p.syms, p.i,
           CASE WHEN p.i < p.L AND p.syms[p.i] = bb.a
                     AND p.syms[p.i + 1] = bb.b THEN 1 ELSE 0 END AS is_match
    FROM pos{k} p CROSS JOIN best{k} bb
),
fl{k} AS MATERIALIZED (
    SELECT word, freq, syms, i, is_match,
           CASE WHEN is_match = 1 THEN
               i - row_number() OVER (PARTITION BY word, is_match ORDER BY i)
           END AS grp
    FROM mm{k}
),
se{k} AS MATERIALIZED (
    SELECT word, freq, syms, i, is_match,
           CASE WHEN is_match = 1 AND
                (row_number() OVER (PARTITION BY word, grp ORDER BY i)) % 2 = 1
           THEN 1 ELSE 0 END AS selected
    FROM fl{k}
),
fi{k} AS MATERIALIZED (
    SELECT word, freq, syms, i, selected,
           coalesce(lag(selected) OVER (PARTITION BY word ORDER BY i), 0)
               AS consumed
    FROM se{k}
),
v{k + 1} AS MATERIALIZED (
    SELECT word, min(freq) AS freq,
           list(CASE WHEN selected = 1 THEN syms[i] || syms[i + 1]
                     ELSE syms[i] END ORDER BY i) AS syms
    FROM fi{k} WHERE consumed = 0 GROUP BY word
),
o{k} AS MATERIALIZED (
    SELECT {k} AS merge_rank, bb.a AS left_sym, bb.b AS right_sym,
           bb.cnt AS pair_count,
           (SELECT CAST(sum(freq * len(syms)) AS BIGINT) FROM v{k + 1})
               AS corpus_syms_after
    FROM best{k} bb
)"""
        )
    return ctes


_BPE_UNIONS = "\nUNION ALL\n".join(
    f"SELECT * FROM o{k}" for k in range(1, NUM_MERGES + 1)
)

BPE_ORACLE = "WITH " + ",\n".join(_bpe_ctes()) + "\n" + _BPE_UNIONS


def _vocab_words(
    docs: DataFrame, text: str, vocab: DataFrame, how: str = "inner"
) -> DataFrame:
    """The apply step every learned-BPE consumer shares: the non-empty
    whitespace words of ``docs``' ``text`` column, one row per
    (doc_id, word) occurrence, joined on ``word`` to the trained
    ``vocab`` (bounded by ``MAX_VOCAB_WORDS``, so broadcast). ``how``
    is the caller's: ``inner`` drops words the vocabulary never saw,
    ``left`` keeps them with NULL vocab columns."""
    words = docs.select(
        "doc_id", F.explode(_tokens(F.col(text))).alias("word")
    ).filter(F.length("word") > 0)
    return words.join(maybe_broadcast(vocab), "word", how)


def _vocab_words_sql(src: str, text: str, join: str = "JOIN") -> str:
    """DuckDB twin of :func:`_vocab_words`: the FROM/WHERE clause over
    ``{src}``'s words (alias ``w``) joined to the final vocab
    ``v{NUM_MERGES + 1}`` (alias ``v``); the caller adds its SELECT
    and GROUP BY."""
    return f"""FROM (
    SELECT doc_id, unnest(string_split(trim({text}), ' ')) AS word
    FROM {src}
) w
{join} v{NUM_MERGES + 1} v ON w.word = v.word
WHERE length(w.word) > 0"""


def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close the train->apply loop: ENCODE every document with the
    merges just learned from this corpus (``token_count_bpe`` applies
    a FIXED tokenizer; this applies the trained one). Application is
    a broadcast join of the doc word stream against the final
    (word -> symbols) vocabulary — the 100 TB shape: the vocab is
    bounded (``MAX_VOCAB_WORDS`` rows), the corpus never carries
    symbol arrays, and encoding adds zero extra shuffles beyond the
    word explode's per-doc re-aggregation.

    Emits per document: word count, the char-level symbol count the
    words started from (chars + one ``</w>`` terminal per word), the
    BPE token count after the learned merges, and the compression in
    exact integer ppm — all integers, hash-exact across engines."""
    vocab = train_bpe(spark, sf_dir)[1].select(
        "word", F.size("syms").alias("n_syms"), F.length("word").alias("wlen")
    )
    docs = load_table(spark, sf_dir, "documents")
    enc = _vocab_words(docs, "text", vocab)
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.col("wlen") + F.lit(1)).cast("long").alias("n_char_syms"),
        F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
        F.floor(
            F.sum("n_syms").cast("double")
            * F.lit(1000000.0)
            / F.sum(F.col("wlen") + F.lit(1)).cast("double")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("compression_ppm"),
    )


#: same unrolled CTE chain as BPE_ORACLE (the o{k} audit CTEs are
#: simply unused); the final vocab v{NUM_MERGES+1} is joined back to
#: the per-document word stream.
BPE_ENCODE_ORACLE = (
    "WITH "
    + ",\n".join(_bpe_ctes())
    + f"""
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(length(w.word) + 1) AS BIGINT) AS n_char_syms,
       CAST(sum(len(v.syms)) AS BIGINT) AS n_bpe_tokens,
       CAST(floor(sum(len(v.syms)) * 1000000.0
                  / sum(length(w.word) + 1) + 0.5) AS BIGINT)
           AS compression_ppm
{_vocab_words_sql("documents", "text")}
GROUP BY doc_id
"""
)


def _register() -> None:
    registry.register("bpe_train_merges", bpe_train_merges, BPE_ORACLE)
    registry.register(
        "bpe_encode_corpus", bpe_encode_corpus, BPE_ENCODE_ORACLE
    )
