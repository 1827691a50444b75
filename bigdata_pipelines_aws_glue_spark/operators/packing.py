"""Sequence packing for LLM pretraining ([north-star],
BASELINE.json:6 adjacency; no reference citation — the reference has
no documents). The step between ``bpe_encode_corpus``
(``operators/bpe.py``) and a training batch: bin the per-document
token streams into fixed token-budget context windows.

Semantics — TWO deterministic oracle-checkable forms, both visiting
documents in ``doc_id`` order:

* ``pack_training_sequences`` — greedy NEXT-FIT: each doc goes into
  the CURRENT (open) sequence if its token count still fits the
  ``SEQ_BUDGET``, else the sequence closes forever and a new one
  starts. Sequences emit in doc order and state is one open bin —
  the streaming form a sharded writer actually uses.
* ``pack_sequences_firstfit`` — greedy FIRST-FIT: every sequence in
  the shard stays open; each doc scans them in creation order and
  joins the FIRST with room, opening a new one only when none fits.
  Classic bin packing (never worse than next-fit, ≤ 1.7x OPT);
  state is the shard's bin list — affordable exactly because the
  shard bounds it.
* ``pack_sequences_ffd`` — FIRST-FIT-DECREASING: the shard's docs
  are first sorted by token count DESCENDING (doc_id ascending as
  the tiebreak), then the same first-fit fold runs. The classic
  fill-maximizing offline heuristic (11/9·OPT + 1 bound) — the one
  a batch writer uses when it holds the whole shard before packing.
  ``packing_fill_compare`` quantifies the fill gap across all
  three on this corpus in one audit row (FFD ≤ FF ≤ NF sequence
  counts, identical token totals).

In both forms a document longer
than the budget is TRUNCATED to the budget (it fills its own
sequence exactly; the clipped tokens are accounted, never silently
dropped). Documents are never split across sequences — the
boundary-respecting packing used when attention must not cross
document boundaries. (The concat-and-chunk alternative — docs DO
split at window boundaries, ``chunk_id = floor(start_offset /
budget)`` — already ships as ``curation.sequence_pack_chunks`` /
``chunk_fill_report`` over whitespace token counts; this module is
the other half of the packing design space, driven by the LEARNED
tokenizer's counts and with explicit truncation conservation.)

Sharding: packing state is inherently sequential, so at 100 TB the
unit of packing is the SHARD (``DOCS_PER_SHARD`` consecutive
doc_ids — the file/partition a real pipeline packs within), and
shards pack independently in parallel: one ``groupBy(shard)``
shuffle carrying only (doc_id, token_count) pairs — the corpus text
never moves — then the greedy fold runs as a single JVM
``F.aggregate`` expression per shard (the ``warc.py`` fold
pattern; no Python workers). Sequences never cross shard
boundaries, so the result is deterministic AND embarrassingly
parallel; the shard list is bounded (<= DOCS_PER_SHARD structs) by
doc_id arithmetic, not by trust.

Token counts are the LEARNED-BPE stream: ``bpe.train_bpe``'s final
vocabulary, trained once per query call, applied via the bounded
vocab broadcast join (the ``bpe_encode_corpus`` shape). The DuckDB
oracle replays BPE training through the shared ``_bpe_ctes()``
chain, then unrolls the greedy fold ``DOCS_PER_SHARD`` times as
chained CTEs (the established unrolled-replay pattern) — the hash
match proves tokenization AND the packing recurrence are
engine-exact.

Conservation (pinned by pytest, visible in ``packing_stats``):
``n_packed_tokens + n_truncated_tokens == n_input_tokens`` — the
audit row computes the input total INDEPENDENTLY from the token
table, so the emitted row itself exposes any leak.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.hints import maybe_broadcast
from bigdata_pipelines_aws_glue_spark.operators.bpe import (
    NUM_MERGES,
    _bpe_ctes,
    train_bpe,
)
from bigdata_pipelines_aws_glue_spark.operators.dedup import _tokens
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

#: fixed context-window token budget. 512 against this corpus's
#: 38-463 learned-BPE tokens per document packs 1-2 docs per
#: sequence with occasional near-exact fills; real runs set 2k-8k.
SEQ_BUDGET = 512

#: consecutive doc_ids per packing shard. Shards are EXACTLY
#: <= DOCS_PER_SHARD docs by construction (``doc_id //
#: DOCS_PER_SHARD``), which is what lets the oracle unroll the fold
#: a fixed number of steps.
DOCS_PER_SHARD = 16

_SEQ_TYPE = (
    "array<struct<seq_idx:int,n_docs:int,n_tokens:int,"
    "n_trunc:int,first_doc:bigint,last_doc:bigint>>"
)


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok): learned-BPE token count per document — the
    ``bpe_encode_corpus`` apply step reduced to the one column
    packing needs."""
    vocab = train_bpe(spark, sf_dir)[1].select(
        "word", F.size("syms").alias("n_syms")
    )
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("word")
    ).filter(F.length("word") > 0)
    return (
        words.join(maybe_broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(F.sum("n_syms").cast("long").alias("tok"))
    )


def _pack_fold(lst: Column) -> Column:
    """Greedy next-fit over a doc_id-sorted array of (doc_id, tok)
    structs, as one JVM ``aggregate`` fold. ``F.get`` returns NULL on
    the empty accumulator, so the first doc falls through to the
    new-sequence branch (the ``bpe._merge_fold`` trick)."""

    def step(acc: Column, x: Column) -> Column:
        ctok = F.least(x["tok"], F.lit(SEQ_BUDGET)).cast("int")
        trunc = (x["tok"] - ctok).cast("int")
        last = F.get(acc, F.size(acc) - 1)
        fits = (last["n_tokens"] + ctok) <= F.lit(SEQ_BUDGET)
        grown = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(
                F.struct(
                    last["seq_idx"].alias("seq_idx"),
                    (last["n_docs"] + F.lit(1)).cast("int").alias("n_docs"),
                    (last["n_tokens"] + ctok).cast("int").alias("n_tokens"),
                    (last["n_trunc"] + trunc).cast("int").alias("n_trunc"),
                    last["first_doc"].alias("first_doc"),
                    x["doc_id"].cast("long").alias("last_doc"),
                )
            ),
        )
        fresh = F.concat(
            acc,
            F.array(
                F.struct(
                    (F.size(acc) + 1).cast("int").alias("seq_idx"),
                    F.lit(1).cast("int").alias("n_docs"),
                    ctok.alias("n_tokens"),
                    trunc.alias("n_trunc"),
                    x["doc_id"].cast("long").alias("first_doc"),
                    x["doc_id"].cast("long").alias("last_doc"),
                )
            ),
        )
        return F.when(fits, grown).otherwise(fresh)

    return F.aggregate(lst, F.array().cast(_SEQ_TYPE), step)


def _packed(toks: DataFrame) -> DataFrame:
    """(shard, q) next-fit sequence structs of a (doc_id, tok) table.
    Shards may be sparse (doc_id gaps) but never exceed
    DOCS_PER_SHARD entries."""
    shards = (
        toks.select(
            F.floor(F.col("doc_id") / F.lit(DOCS_PER_SHARD))
            .cast("long")
            .alias("shard"),
            F.struct(F.col("doc_id"), F.col("tok")).alias("s"),
        )
        .groupBy("shard")
        .agg(F.array_sort(F.collect_list("s")).alias("lst"))
    )
    return shards.select(
        "shard", F.explode(_pack_fold(F.col("lst"))).alias("q")
    )


def pack_training_sequences(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One row per packed context window: shard, within-shard
    sequence index, how many docs it holds, packed token count,
    clipped-token count, integer-ppm fill rate, and the doc_id span
    — the manifest a downstream batch loader consumes."""
    return _packed(_doc_tokens(spark, sf_dir)).select(
        "shard",
        F.col("q.seq_idx").alias("seq_idx"),
        F.col("q.n_docs").alias("n_docs"),
        F.col("q.n_tokens").alias("n_tokens"),
        F.col("q.n_trunc").alias("n_trunc_tokens"),
        F.floor(
            F.col("q.n_tokens") * F.lit(1000000.0) / F.lit(SEQ_BUDGET)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("fill_ppm"),
        F.col("q.first_doc").alias("first_doc_id"),
        F.col("q.last_doc").alias("last_doc_id"),
    )


def packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus audit. ``n_input_tokens`` comes from the token
    table DIRECTLY (not from the sequences), so conservation
    (``n_packed_tokens + n_truncated_tokens == n_input_tokens``) is
    checkable from the emitted row alone."""
    toks = _doc_tokens(spark, sf_dir)
    seqs = _packed(toks)
    a = toks.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("n_input_tokens"),
    )
    b = seqs.agg(
        F.count(F.lit(1)).cast("long").alias("n_sequences"),
        F.sum("q.n_tokens").cast("long").alias("n_packed_tokens"),
        F.sum("q.n_trunc").cast("long").alias("n_truncated_tokens"),
        F.sum(
            (F.col("q.n_tokens") == F.lit(SEQ_BUDGET)).cast("long")
        ).alias("n_exact_full"),
        F.floor(
            F.sum("q.n_tokens") * F.lit(1000000.0)
            / (F.count(F.lit(1)) * F.lit(SEQ_BUDGET))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("avg_fill_ppm"),
    )
    # two 1-row aggregates: the same bounded crossJoin shape as
    # warc_roundtrip_audit (metadata-sized by construction).
    return a.crossJoin(b)


def _firstfit_fold(lst: Column) -> Column:
    """Greedy FIRST-FIT over the same doc_id-sorted array: every
    sequence stays open; the doc joins the first one with room
    (``fidx``), found by an enumerate-filter over the accumulator —
    still one JVM fold, state bounded by the shard. ``F.get`` on the
    empty filtered list returns NULL, so no-fit falls through to the
    new-sequence branch."""

    def step(acc: Column, x: Column) -> Column:
        ctok = F.least(x["tok"], F.lit(SEQ_BUDGET)).cast("int")
        trunc = (x["tok"] - ctok).cast("int")
        fidx = F.get(
            F.filter(
                F.transform(
                    acc,
                    lambda s, i: F.when(
                        (s["n_tokens"] + ctok) <= F.lit(SEQ_BUDGET),
                        i + F.lit(1),
                    ),
                ),
                lambda v: v.isNotNull(),
            ),
            0,
        )
        joined = F.transform(
            acc,
            lambda s, i: F.when(
                (i + F.lit(1)) == fidx,
                F.struct(
                    s["seq_idx"].alias("seq_idx"),
                    (s["n_docs"] + F.lit(1)).cast("int").alias("n_docs"),
                    (s["n_tokens"] + ctok).cast("int").alias("n_tokens"),
                    (s["n_trunc"] + trunc).cast("int").alias("n_trunc"),
                    s["first_doc"].alias("first_doc"),
                    x["doc_id"].cast("long").alias("last_doc"),
                ),
            ).otherwise(s),
        )
        fresh = F.concat(
            acc,
            F.array(
                F.struct(
                    (F.size(acc) + 1).cast("int").alias("seq_idx"),
                    F.lit(1).cast("int").alias("n_docs"),
                    ctok.alias("n_tokens"),
                    trunc.alias("n_trunc"),
                    x["doc_id"].cast("long").alias("first_doc"),
                    x["doc_id"].cast("long").alias("last_doc"),
                )
            ),
        )
        return F.when(fidx.isNotNull(), joined).otherwise(fresh)

    return F.aggregate(lst, F.array().cast(_SEQ_TYPE), step)


def _packed_ff(toks: DataFrame) -> DataFrame:
    """(shard, q) first-fit sequence structs of a (doc_id, tok)
    table."""
    shards = (
        toks.select(
            F.floor(F.col("doc_id") / F.lit(DOCS_PER_SHARD))
            .cast("long")
            .alias("shard"),
            F.struct(F.col("doc_id"), F.col("tok")).alias("s"),
        )
        .groupBy("shard")
        .agg(F.array_sort(F.collect_list("s")).alias("lst"))
    )
    return shards.select(
        "shard", F.explode(_firstfit_fold(F.col("lst"))).alias("q")
    )


def pack_sequences_firstfit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The first-fit manifest: same columns as
    ``pack_training_sequences`` except ``last_doc_id`` is the last
    doc ASSIGNED (first-fit doc spans interleave across sequences,
    so [first_doc_id, last_doc_id] is an assignment span, not a
    contiguous range)."""
    return _packed_ff(_doc_tokens(spark, sf_dir)).select(
        "shard",
        F.col("q.seq_idx").alias("seq_idx"),
        F.col("q.n_docs").alias("n_docs"),
        F.col("q.n_tokens").alias("n_tokens"),
        F.col("q.n_trunc").alias("n_trunc_tokens"),
        F.floor(
            F.col("q.n_tokens") * F.lit(1000000.0) / F.lit(SEQ_BUDGET)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("fill_ppm"),
        F.col("q.first_doc").alias("first_doc_id"),
        F.col("q.last_doc").alias("last_doc_id"),
    )


def _packed_ffd(toks: DataFrame) -> DataFrame:
    """First-fit over the shard's docs sorted by tok DESC, doc_id ASC
    — the decreasing visit order is the only difference from
    ``_packed_ff``. The sort key rides inside the collected struct
    (``negtok`` first, so the plain lexicographic ``array_sort``
    realizes (tok desc, doc_id asc)); the fold itself is unchanged."""
    shards = (
        toks.select(
            F.floor(F.col("doc_id") / F.lit(DOCS_PER_SHARD))
            .cast("long")
            .alias("shard"),
            F.struct(
                (-F.col("tok")).alias("negtok"),
                F.col("doc_id"),
                F.col("tok"),
            ).alias("s"),
        )
        .groupBy("shard")
        .agg(F.array_sort(F.collect_list("s")).alias("lst0"))
        .select(
            "shard",
            F.transform(
                F.col("lst0"),
                lambda s: F.struct(
                    s["doc_id"].alias("doc_id"), s["tok"].alias("tok")
                ),
            ).alias("lst"),
        )
    )
    return shards.select(
        "shard", F.explode(_firstfit_fold(F.col("lst"))).alias("q")
    )


def pack_sequences_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first-fit-decreasing manifest: same columns as
    ``pack_sequences_firstfit``; ``first_doc_id``/``last_doc_id`` are
    the first/last docs ASSIGNED in the decreasing visit order (an
    assignment span, not a doc_id range)."""
    return _packed_ffd(_doc_tokens(spark, sf_dir)).select(
        "shard",
        F.col("q.seq_idx").alias("seq_idx"),
        F.col("q.n_docs").alias("n_docs"),
        F.col("q.n_tokens").alias("n_tokens"),
        F.col("q.n_trunc").alias("n_trunc_tokens"),
        F.floor(
            F.col("q.n_tokens") * F.lit(1000000.0) / F.lit(SEQ_BUDGET)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("fill_ppm"),
        F.col("q.first_doc").alias("first_doc_id"),
        F.col("q.last_doc").alias("last_doc_id"),
    )


def packing_fill_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One audit row: next-fit vs first-fit vs first-fit-decreasing
    on the identical corpus — sequence counts, average fills, and the
    sequences each richer heuristic saves over next-fit (the numbers
    that justify carrying open-bin state / a shard pre-sort). Token
    totals are conserved identically by construction (same truncation
    rule), so one token column + one conservation bit are emitted."""

    def fills(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias(f"{tag}_sequences"),
            F.floor(
                F.sum("q.n_tokens") * F.lit(1000000.0)
                / (F.count(F.lit(1)) * F.lit(SEQ_BUDGET))
                + F.lit(0.5)
            )
            .cast("long")
            .alias(f"{tag}_avg_fill_ppm"),
            F.sum("q.n_tokens").cast("long").alias(f"{tag}_packed_tokens"),
        )

    toks = _doc_tokens(spark, sf_dir)
    nf = fills(_packed(toks), "nf")
    ff = fills(_packed_ff(toks), "ff")
    ffd = fills(_packed_ffd(toks), "ffd")
    # chained 1-row x 1-row scalar crossJoins (the packing_stats
    # shape — metadata-sized by construction).
    return nf.crossJoin(ff).crossJoin(ffd).select(
        "nf_sequences",
        "ff_sequences",
        "ffd_sequences",
        (F.col("nf_sequences") - F.col("ff_sequences"))
        .cast("long")
        .alias("ff_saved"),
        (F.col("nf_sequences") - F.col("ffd_sequences"))
        .cast("long")
        .alias("ffd_saved"),
        "nf_avg_fill_ppm",
        "ff_avg_fill_ppm",
        "ffd_avg_fill_ppm",
        F.col("nf_packed_tokens").alias("n_packed_tokens"),
        (
            (F.col("ff_packed_tokens") == F.col("nf_packed_tokens"))
            & (F.col("ffd_packed_tokens") == F.col("nf_packed_tokens"))
        ).alias("tokens_conserved"),
    )


# ------------------------------------------------ DuckDB twins

#: per-doc learned-BPE token counts off the shared BPE replay chain
#: (v{NUM_MERGES+1} is the final vocab, exactly as BPE_ENCODE_ORACLE
#: consumes it).
_DTOK_CTE = f"""dtok AS MATERIALIZED (
    SELECT doc_id, CAST(sum(len(v.syms)) AS BIGINT) AS tok
    FROM (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
        FROM documents
    ) w
    JOIN v{NUM_MERGES + 1} v ON w.word = v.word
    WHERE length(w.word) > 0
    GROUP BY doc_id
),
sh AS MATERIALIZED (
    SELECT CAST(doc_id // {DOCS_PER_SHARD} AS BIGINT) AS shard,
           list(struct_pack(doc_id := doc_id, tok := tok)
                ORDER BY doc_id) AS lst
    FROM dtok
    GROUP BY 1
),
k0 AS MATERIALIZED (
    SELECT shard, lst,
           CAST([] AS STRUCT(seq_idx INT, n_docs INT, n_tokens INT,
                             n_trunc INT, first_doc BIGINT,
                             last_doc BIGINT)[]) AS seqs
    FROM sh
)"""


def _pack_step(i: int) -> str:
    """One unrolled greedy-fit step: the DuckDB twin of the fold
    body (two CTEs: extract element ``i``, then update the seqs)."""
    b = SEQ_BUDGET
    last = "seqs[-1]"
    return f"""t{i} AS MATERIALIZED (
    SELECT shard, lst, seqs,
        CASE WHEN len(lst) >= {i}
             THEN struct_extract(lst[{i}], 'doc_id') END AS did,
        CASE WHEN len(lst) >= {i}
             THEN CAST(least(struct_extract(lst[{i}], 'tok'), {b})
                       AS INT) END AS ctok,
        CASE WHEN len(lst) >= {i}
             THEN CAST(struct_extract(lst[{i}], 'tok')
                       - least(struct_extract(lst[{i}], 'tok'), {b})
                       AS INT) END AS tr
    FROM k{i - 1}
),
k{i} AS MATERIALIZED (
    SELECT shard, lst,
        CASE
        WHEN did IS NULL THEN seqs
        WHEN len(seqs) > 0
             AND struct_extract({last}, 'n_tokens') + ctok <= {b}
        THEN seqs[1:len(seqs) - 1] || [struct_pack(
             seq_idx := struct_extract({last}, 'seq_idx'),
             n_docs := CAST(struct_extract({last}, 'n_docs') + 1 AS INT),
             n_tokens := CAST(struct_extract({last}, 'n_tokens')
                              + ctok AS INT),
             n_trunc := CAST(struct_extract({last}, 'n_trunc')
                             + tr AS INT),
             first_doc := struct_extract({last}, 'first_doc'),
             last_doc := CAST(did AS BIGINT))]
        ELSE list_append(seqs, struct_pack(
             seq_idx := CAST(len(seqs) + 1 AS INT),
             n_docs := CAST(1 AS INT),
             n_tokens := ctok,
             n_trunc := tr,
             first_doc := CAST(did AS BIGINT),
             last_doc := CAST(did AS BIGINT)))
        END AS seqs
    FROM t{i}
)"""


_PACK_CTES = (
    "WITH "
    + ",\n".join(_bpe_ctes())
    + ",\n"
    + _DTOK_CTE
    + ",\n"
    + ",\n".join(_pack_step(i) for i in range(1, DOCS_PER_SHARD + 1))
)


PACK_SEQUENCES_ORACLE = (
    _PACK_CTES
    + f""",
seq AS (SELECT shard, unnest(seqs) AS q FROM k{DOCS_PER_SHARD})
SELECT shard,
       struct_extract(q, 'seq_idx') AS seq_idx,
       struct_extract(q, 'n_docs') AS n_docs,
       struct_extract(q, 'n_tokens') AS n_tokens,
       struct_extract(q, 'n_trunc') AS n_trunc_tokens,
       CAST(floor(struct_extract(q, 'n_tokens') * 1000000.0
                  / {SEQ_BUDGET} + 0.5) AS BIGINT) AS fill_ppm,
       struct_extract(q, 'first_doc') AS first_doc_id,
       struct_extract(q, 'last_doc') AS last_doc_id
FROM seq
"""
)


PACKING_STATS_ORACLE = (
    _PACK_CTES
    + f""",
seq AS (SELECT shard, unnest(seqs) AS q FROM k{DOCS_PER_SHARD}),
ia AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS n_input_tokens
    FROM dtok
),
sa AS (
    SELECT CAST(count(*) AS BIGINT) AS n_sequences,
           CAST(sum(struct_extract(q, 'n_tokens')) AS BIGINT)
               AS n_packed_tokens,
           CAST(sum(struct_extract(q, 'n_trunc')) AS BIGINT)
               AS n_truncated_tokens,
           CAST(sum(CASE WHEN struct_extract(q, 'n_tokens')
                              = {SEQ_BUDGET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_full,
           CAST(floor(sum(struct_extract(q, 'n_tokens')) * 1000000.0
                      / (count(*) * {SEQ_BUDGET}) + 0.5) AS BIGINT)
               AS avg_fill_ppm
    FROM seq
)
SELECT ia.n_docs, ia.n_input_tokens, sa.n_sequences,
       sa.n_packed_tokens, sa.n_truncated_tokens, sa.n_exact_full,
       sa.avg_fill_ppm
FROM ia, sa
"""
)


def _ff_start(m: str, src: str) -> str:
    """First-fit chain start: empty accumulator named ``{m}0`` off the
    given shard-list CTE (``sh`` for doc_id order, ``shd`` for the
    decreasing order)."""
    return f"""{m}0 AS MATERIALIZED (
    SELECT shard, lst,
           CAST([] AS STRUCT(seq_idx INT, n_docs INT, n_tokens INT,
                             n_trunc INT, first_doc BIGINT,
                             last_doc BIGINT)[]) AS seqs
    FROM {src}
)"""


#: first-fit chain start: same empty accumulator off the shared sh.
_FF_START = _ff_start("m", "sh")

#: the decreasing-order shard lists (FFD's only difference): same
#: (doc_id, tok) structs, visit order tok DESC, doc_id ASC.
_SHD_CTE = f"""shd AS MATERIALIZED (
    SELECT CAST(doc_id // {DOCS_PER_SHARD} AS BIGINT) AS shard,
           list(struct_pack(doc_id := doc_id, tok := tok)
                ORDER BY tok DESC, doc_id) AS lst
    FROM dtok
    GROUP BY 1
)"""


def _ff_step(i: int, m: str = "m", g: str = "g", h: str = "h") -> str:
    """One unrolled FIRST-FIT step (three CTEs: extract element,
    find the first open sequence with room, update it in place).
    CTE-name prefixes are parameterized so the FFD chain can unroll
    the identical step alongside the FF chain in one oracle."""
    b = SEQ_BUDGET
    return f"""{g}{i} AS MATERIALIZED (
    SELECT shard, lst, seqs,
        CASE WHEN len(lst) >= {i}
             THEN struct_extract(lst[{i}], 'doc_id') END AS did,
        CASE WHEN len(lst) >= {i}
             THEN CAST(least(struct_extract(lst[{i}], 'tok'), {b})
                       AS INT) END AS ctok,
        CASE WHEN len(lst) >= {i}
             THEN CAST(struct_extract(lst[{i}], 'tok')
                       - least(struct_extract(lst[{i}], 'tok'), {b})
                       AS INT) END AS tr
    FROM {m}{i - 1}
),
{h}{i} AS MATERIALIZED (
    SELECT shard, lst, seqs, did, ctok, tr,
        (list_filter(list_transform(range(1, len(seqs) + 1),
             j -> CASE WHEN struct_extract(seqs[j], 'n_tokens') + ctok
                            <= {b} THEN j END),
             v -> v IS NOT NULL))[1] AS fidx
    FROM {g}{i}
),
{m}{i} AS MATERIALIZED (
    SELECT shard, lst,
        CASE
        WHEN did IS NULL THEN seqs
        WHEN fidx IS NOT NULL THEN
            list_transform(range(1, len(seqs) + 1), j ->
                CASE WHEN j = fidx THEN struct_pack(
                    seq_idx := struct_extract(seqs[j], 'seq_idx'),
                    n_docs := CAST(struct_extract(seqs[j], 'n_docs')
                                   + 1 AS INT),
                    n_tokens := CAST(struct_extract(seqs[j], 'n_tokens')
                                     + ctok AS INT),
                    n_trunc := CAST(struct_extract(seqs[j], 'n_trunc')
                                    + tr AS INT),
                    first_doc := struct_extract(seqs[j], 'first_doc'),
                    last_doc := CAST(did AS BIGINT))
                ELSE seqs[j] END)
        ELSE list_append(seqs, struct_pack(
             seq_idx := CAST(len(seqs) + 1 AS INT),
             n_docs := CAST(1 AS INT),
             n_tokens := ctok,
             n_trunc := tr,
             first_doc := CAST(did AS BIGINT),
             last_doc := CAST(did AS BIGINT)))
        END AS seqs
    FROM {h}{i}
)"""


_FF_CTES = (
    "WITH "
    + ",\n".join(_bpe_ctes())
    + ",\n"
    + _DTOK_CTE
    + ",\n"
    + _FF_START
    + ",\n"
    + ",\n".join(_ff_step(i) for i in range(1, DOCS_PER_SHARD + 1))
)


PACK_FF_ORACLE = (
    _FF_CTES
    + f""",
seq AS (SELECT shard, unnest(seqs) AS q FROM m{DOCS_PER_SHARD})
SELECT shard,
       struct_extract(q, 'seq_idx') AS seq_idx,
       struct_extract(q, 'n_docs') AS n_docs,
       struct_extract(q, 'n_tokens') AS n_tokens,
       struct_extract(q, 'n_trunc') AS n_trunc_tokens,
       CAST(floor(struct_extract(q, 'n_tokens') * 1000000.0
                  / {SEQ_BUDGET} + 0.5) AS BIGINT) AS fill_ppm,
       struct_extract(q, 'first_doc') AS first_doc_id,
       struct_extract(q, 'last_doc') AS last_doc_id
FROM seq
"""
)


#: the FFD chain: the identical first-fit step unrolled off the
#: decreasing-order shard lists (prefixes fg/fh/f keep it disjoint
#: from the FF chain's g/h/m so both can coexist in one oracle).
_FFD_CHAIN = (
    _SHD_CTE
    + ",\n"
    + _ff_start("f", "shd")
    + ",\n"
    + ",\n".join(
        _ff_step(i, m="f", g="fg", h="fh")
        for i in range(1, DOCS_PER_SHARD + 1)
    )
)


_FFD_CTES = (
    "WITH "
    + ",\n".join(_bpe_ctes())
    + ",\n"
    + _DTOK_CTE
    + ",\n"
    + _FFD_CHAIN
)


PACK_FFD_ORACLE = (
    _FFD_CTES
    + f""",
seq AS (SELECT shard, unnest(seqs) AS q FROM f{DOCS_PER_SHARD})
SELECT shard,
       struct_extract(q, 'seq_idx') AS seq_idx,
       struct_extract(q, 'n_docs') AS n_docs,
       struct_extract(q, 'n_tokens') AS n_tokens,
       struct_extract(q, 'n_trunc') AS n_trunc_tokens,
       CAST(floor(struct_extract(q, 'n_tokens') * 1000000.0
                  / {SEQ_BUDGET} + 0.5) AS BIGINT) AS fill_ppm,
       struct_extract(q, 'first_doc') AS first_doc_id,
       struct_extract(q, 'last_doc') AS last_doc_id
FROM seq
"""
)


#: all three chains share the BPE replay + dtok, then aggregate each.
FILL_COMPARE_ORACLE = (
    _PACK_CTES
    + ",\n"
    + _FF_START
    + ",\n"
    + ",\n".join(_ff_step(i) for i in range(1, DOCS_PER_SHARD + 1))
    + ",\n"
    + _FFD_CHAIN
    + f""",
nfq AS (SELECT unnest(seqs) AS q FROM k{DOCS_PER_SHARD}),
ffq AS (SELECT unnest(seqs) AS q FROM m{DOCS_PER_SHARD}),
fdq AS (SELECT unnest(seqs) AS q FROM f{DOCS_PER_SHARD}),
nfa AS (
    SELECT CAST(count(*) AS BIGINT) AS nf_sequences,
           CAST(floor(sum(struct_extract(q, 'n_tokens')) * 1000000.0
                      / (count(*) * {SEQ_BUDGET}) + 0.5) AS BIGINT)
               AS nf_avg_fill_ppm,
           CAST(sum(struct_extract(q, 'n_tokens')) AS BIGINT)
               AS n_packed_tokens
    FROM nfq
),
ffa AS (
    SELECT CAST(count(*) AS BIGINT) AS ff_sequences,
           CAST(floor(sum(struct_extract(q, 'n_tokens')) * 1000000.0
                      / (count(*) * {SEQ_BUDGET}) + 0.5) AS BIGINT)
               AS ff_avg_fill_ppm,
           CAST(sum(struct_extract(q, 'n_tokens')) AS BIGINT)
               AS ff_packed_tokens
    FROM ffq
),
fda AS (
    SELECT CAST(count(*) AS BIGINT) AS ffd_sequences,
           CAST(floor(sum(struct_extract(q, 'n_tokens')) * 1000000.0
                      / (count(*) * {SEQ_BUDGET}) + 0.5) AS BIGINT)
               AS ffd_avg_fill_ppm,
           CAST(sum(struct_extract(q, 'n_tokens')) AS BIGINT)
               AS ffd_packed_tokens
    FROM fdq
)
SELECT nfa.nf_sequences, ffa.ff_sequences, fda.ffd_sequences,
       CAST(nfa.nf_sequences - ffa.ff_sequences AS BIGINT) AS ff_saved,
       CAST(nfa.nf_sequences - fda.ffd_sequences AS BIGINT) AS ffd_saved,
       nfa.nf_avg_fill_ppm, ffa.ff_avg_fill_ppm, fda.ffd_avg_fill_ppm,
       nfa.n_packed_tokens,
       ffa.ff_packed_tokens = nfa.n_packed_tokens
         AND fda.ffd_packed_tokens = nfa.n_packed_tokens
           AS tokens_conserved
FROM nfa, ffa, fda
"""
)


def _register() -> None:
    registry.register(
        "pack_training_sequences",
        pack_training_sequences,
        PACK_SEQUENCES_ORACLE,
    )
    registry.register("packing_stats", packing_stats, PACKING_STATS_ORACLE)
    registry.register(
        "pack_sequences_firstfit", pack_sequences_firstfit, PACK_FF_ORACLE
    )
    registry.register(
        "pack_sequences_ffd", pack_sequences_ffd, PACK_FFD_ORACLE
    )
    registry.register(
        "packing_fill_compare", packing_fill_compare, FILL_COMPARE_ORACLE
    )
