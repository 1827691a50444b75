"""Sequence packing for LLM pretraining ([north-star],
BASELINE.json:6 adjacency; no reference citation — the reference has
no documents). The step between ``bpe_encode_corpus``
(``operators/bpe.py``) and a training batch: bin the per-document
token streams into fixed token-budget context windows.

Semantics — THREE deterministic oracle-checkable forms (next-fit and
first-fit visit each shard's documents in ``doc_id`` order):

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

In all three forms a document longer than the budget is TRUNCATED
to the budget (it fills its own sequence exactly; the clipped tokens
are accounted, never silently dropped). Documents are never split
across sequences — the boundary-respecting packing used when
attention must not cross document boundaries. (The concat-and-chunk
alternative — docs DO split at window boundaries, ``chunk_id =
floor(start_offset / budget)`` — already ships as ``curation.sequence_pack_chunks`` /
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
pattern; no Python workers). The three forms share that fold: they
differ only in the shard's visit order and in the SLOT PICKER that
names the open sequence a doc joins (``_next_fit``: the last one;
``_first_fit``: the first with room). Sequences never cross shard
boundaries, so the result is deterministic AND embarrassingly
parallel; the shard list is bounded (<= DOCS_PER_SHARD structs) by
doc_id arithmetic, not by trust.

Token counts are the LEARNED-BPE stream: ``bpe.train_bpe``'s final
vocabulary, trained once per query call, applied via the bounded
vocab broadcast join (the ``bpe_encode_corpus`` shape). The DuckDB
oracle replays BPE training through the shared ``_bpe_ctes()``
chain, then unrolls the greedy fold ``DOCS_PER_SHARD`` times as
chained CTEs (the established unrolled-replay pattern), with one
SQL generator per kernel piece (shard list, fold chain with a SQL
slot picker, manifest, totals) — the hash match proves
tokenization AND the packing recurrence are engine-exact.

Conservation (pinned by pytest, visible in ``packing_stats``):
``n_packed_tokens + n_truncated_tokens == n_input_tokens`` — the
audit row computes the input total INDEPENDENTLY from the token
table, so the emitted row itself exposes any leak.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.operators.bpe import (
    _bpe_ctes,
    _vocab_words,
    _vocab_words_sql,
    train_bpe,
)
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
    return (
        _vocab_words(docs, "text", vocab)
        .groupBy("doc_id")
        .agg(F.sum("n_syms").cast("long").alias("tok"))
    )


# ------------------------------------------------ Spark kernel


def _next_fit(acc: Column, ctok: Column) -> Column:
    """Next-fit slot picker: the last (open) sequence if the doc still
    fits it. ``F.get`` returns NULL on the empty accumulator, so the
    first doc opens a sequence (the ``bpe._merge_fold`` trick)."""
    last = F.get(acc, F.size(acc) - 1)
    return F.when(last["n_tokens"] + ctok <= F.lit(SEQ_BUDGET), F.size(acc))


def _first_fit(acc: Column, ctok: Column) -> Column:
    """First-fit slot picker: every sequence stays open; the doc joins
    the first one, in creation order, with room — an enumerate-filter
    over the accumulator, state bounded by the shard. ``F.get`` on the
    empty filtered list returns NULL, so no-fit opens a sequence."""
    return F.get(
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


def _fold(lst: Column, pick: Callable[[Column, Column], Column]) -> Column:
    """Greedy packing of one shard's visit-ordered array of structs
    (read by name: ``doc_id``, ``tok``) as one JVM ``aggregate`` fold.
    ``pick(acc, ctok)`` gives the 1-based slot of the open sequence
    that takes the doc, or NULL to open a new one — the only
    difference between strategies. The rest is shared: the doc is
    truncated to the budget, then grows the picked sequence in place
    or opens the next one."""

    def step(acc: Column, x: Column) -> Column:
        ctok = F.least(x["tok"], F.lit(SEQ_BUDGET)).cast("int")
        trunc = (x["tok"] - ctok).cast("int")
        slot = pick(acc, ctok)
        grown = F.transform(
            acc,
            lambda s, i: F.when(
                (i + F.lit(1)) == slot,
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
        return F.when(slot.isNotNull(), grown).otherwise(fresh)

    return F.aggregate(lst, F.array().cast(_SEQ_TYPE), step)


def _packed(
    toks: DataFrame, pick: Callable[[Column, Column], Column], *lead: Column
) -> DataFrame:
    """(shard, q) sequence structs of a (doc_id, tok) table, packed by
    ``pick``. Each shard visits its docs in ascending (``*lead``,
    doc_id) order: the lead keys ride first inside the collected
    struct, so the plain lexicographic ``array_sort`` realizes the
    order, and the fold ignores them. Shards may be sparse (doc_id
    gaps) but never exceed DOCS_PER_SHARD entries."""
    keys = [k.alias(f"k{j}") for j, k in enumerate(lead)]
    shards = (
        toks.select(
            F.floor(F.col("doc_id") / F.lit(DOCS_PER_SHARD))
            .cast("long")
            .alias("shard"),
            F.struct(*keys, F.col("doc_id"), F.col("tok")).alias("s"),
        )
        .groupBy("shard")
        .agg(F.array_sort(F.collect_list("s")).alias("lst"))
    )
    return shards.select(
        "shard", F.explode(_fold(F.col("lst"), pick)).alias("q")
    )


def _manifest(packed: DataFrame) -> DataFrame:
    """One row per packed context window: shard, within-shard
    sequence index, how many docs it holds, packed token count,
    clipped-token count, integer-ppm fill rate, and the doc_id span
    — the manifest a downstream batch loader consumes."""
    return packed.select(
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


def _totals(packed: DataFrame) -> DataFrame:
    """One row of sequence totals; callers select the columns they
    emit (the optimizer prunes the rest)."""
    return packed.agg(
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


# ------------------------------------------------ attested queries


def pack_training_sequences(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The next-fit manifest (:func:`_manifest`): sequences emit in
    doc order, so [first_doc_id, last_doc_id] is a contiguous range."""
    return _manifest(_packed(_doc_tokens(spark, sf_dir), _next_fit))


def packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus audit. ``n_input_tokens`` comes from the token
    table DIRECTLY (not from the sequences), so conservation
    (``n_packed_tokens + n_truncated_tokens == n_input_tokens``) is
    checkable from the emitted row alone."""
    toks = _doc_tokens(spark, sf_dir)
    a = toks.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("n_input_tokens"),
    )
    # two 1-row aggregates: the same bounded crossJoin shape as
    # warc_roundtrip_audit (metadata-sized by construction).
    return a.crossJoin(_totals(_packed(toks, _next_fit)))


def pack_sequences_firstfit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The first-fit manifest: same columns as
    ``pack_training_sequences`` except ``last_doc_id`` is the last
    doc ASSIGNED (first-fit doc spans interleave across sequences,
    so [first_doc_id, last_doc_id] is an assignment span, not a
    contiguous range)."""
    return _manifest(_packed(_doc_tokens(spark, sf_dir), _first_fit))


def pack_sequences_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first-fit-decreasing manifest: same columns as
    ``pack_sequences_firstfit``; each shard is visited in (tok DESC,
    doc_id ASC) order, so ``first_doc_id``/``last_doc_id`` are the
    first/last docs ASSIGNED in that order (an assignment span, not
    a doc_id range)."""
    toks = _doc_tokens(spark, sf_dir)
    return _manifest(_packed(toks, _first_fit, -F.col("tok")))


def packing_fill_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One audit row: next-fit vs first-fit vs first-fit-decreasing
    on the identical corpus — sequence counts, average fills, and the
    sequences each richer heuristic saves over next-fit (the numbers
    that justify carrying open-bin state / a shard pre-sort). Token
    totals are conserved identically by construction (same truncation
    rule), so one token column + one conservation bit are emitted."""

    def fills(packed: DataFrame, tag: str) -> DataFrame:
        return _totals(packed).select(
            F.col("n_sequences").alias(f"{tag}_sequences"),
            F.col("avg_fill_ppm").alias(f"{tag}_avg_fill_ppm"),
            F.col("n_packed_tokens").alias(f"{tag}_packed_tokens"),
        )

    toks = _doc_tokens(spark, sf_dir)
    nf = fills(_packed(toks, _next_fit), "nf")
    ff = fills(_packed(toks, _first_fit), "ff")
    ffd = fills(_packed(toks, _first_fit, -F.col("tok")), "ffd")
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
#
# One generator per kernel piece, mirroring the Spark kernel. A fold
# chain with CTE prefix ``p`` runs ``{p}0`` .. ``{p}{DOCS_PER_SHARD}``:
# an empty accumulator per shard, then one visit-ordered doc per step.
# A SQL slot picker ``pick(seqs, ctok)`` is the only difference
# between strategies.


def _next_fit_sql(seqs: str, ctok: str) -> str:
    """Twin of :func:`_next_fit` (``seqs[-1]`` is NULL on the empty
    list, so the first doc opens a sequence)."""
    return (
        f"CASE WHEN struct_extract({seqs}[-1], 'n_tokens') + {ctok}"
        f" <= {SEQ_BUDGET} THEN len({seqs}) END"
    )


def _first_fit_sql(seqs: str, ctok: str) -> str:
    """Twin of :func:`_first_fit`."""
    return f"""(list_filter(list_transform(range(1, len({seqs}) + 1),
             j -> CASE WHEN struct_extract({seqs}[j], 'n_tokens')
                            + {ctok} <= {SEQ_BUDGET} THEN j END),
             v -> v IS NOT NULL))[1]"""


def _shard_list_sql(name: str, src: str, order: str = "doc_id") -> str:
    """Twin of :func:`_packed`'s shard builder: ``{name}`` holds each
    shard's (doc_id, tok) structs of ``{src}`` in ``order``."""
    return f"""{name} AS MATERIALIZED (
    SELECT CAST(doc_id // {DOCS_PER_SHARD} AS BIGINT) AS shard,
           list(struct_pack(doc_id := doc_id, tok := tok)
                ORDER BY {order}) AS lst
    FROM {src}
    GROUP BY 1
)"""


def _fold_step_sql(i: int, p: str, pick: Callable[[str, str], str]) -> str:
    """Fold step ``i`` (twin of :func:`_fold`'s body): ``{p}x{i}``
    extracts element ``i`` (NULL past the shard's end) and picks its
    slot, ``{p}{i}`` grows the picked sequence or opens the next."""
    b = SEQ_BUDGET
    return f"""{p}x{i} AS MATERIALIZED (
    SELECT *, {pick("seqs", "ctok")} AS slot FROM (
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
        FROM {p}{i - 1}
    )
),
{p}{i} AS MATERIALIZED (
    SELECT shard, lst,
        CASE
        WHEN did IS NULL THEN seqs
        WHEN slot IS NOT NULL THEN
            list_transform(range(1, len(seqs) + 1), j ->
                CASE WHEN j = slot THEN struct_pack(
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
    FROM {p}x{i}
)"""


def _fold_chain_sql(
    p: str, src: str, pick: Callable[[str, str], str]
) -> str:
    """The whole fold over shard-list CTE ``{src}``: the chain start
    ``{p}0`` (an empty accumulator per shard), then
    ``DOCS_PER_SHARD`` steps."""
    start = f"""{p}0 AS MATERIALIZED (
    SELECT shard, lst,
           CAST([] AS STRUCT(seq_idx INT, n_docs INT, n_tokens INT,
                             n_trunc INT, first_doc BIGINT,
                             last_doc BIGINT)[]) AS seqs
    FROM {src}
)"""
    steps = (_fold_step_sql(i, p, pick) for i in range(1, DOCS_PER_SHARD + 1))
    return ",\n".join([start, *steps])


def _manifest_sql(p: str) -> str:
    """Twin of :func:`_manifest` over chain ``p``'s sequences."""
    return f"""SELECT shard,
       struct_extract(q, 'seq_idx') AS seq_idx,
       struct_extract(q, 'n_docs') AS n_docs,
       struct_extract(q, 'n_tokens') AS n_tokens,
       struct_extract(q, 'n_trunc') AS n_trunc_tokens,
       CAST(floor(struct_extract(q, 'n_tokens') * 1000000.0
                  / {SEQ_BUDGET} + 0.5) AS BIGINT) AS fill_ppm,
       struct_extract(q, 'first_doc') AS first_doc_id,
       struct_extract(q, 'last_doc') AS last_doc_id
FROM (SELECT shard, unnest(seqs) AS q FROM {p}{DOCS_PER_SHARD})
"""


def _totals_sql(p: str) -> str:
    """Twin of :func:`_totals` over chain ``p``'s sequences."""
    n_tokens = "struct_extract(q, 'n_tokens')"
    return f"""SELECT CAST(count(*) AS BIGINT) AS n_sequences,
       CAST(sum({n_tokens}) AS BIGINT) AS n_packed_tokens,
       CAST(sum(struct_extract(q, 'n_trunc')) AS BIGINT)
           AS n_truncated_tokens,
       CAST(sum(CASE WHEN {n_tokens} = {SEQ_BUDGET} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_exact_full,
       CAST(floor(sum({n_tokens}) * 1000000.0
                  / (count(*) * {SEQ_BUDGET}) + 0.5) AS BIGINT)
           AS avg_fill_ppm
FROM (SELECT unnest(seqs) AS q FROM {p}{DOCS_PER_SHARD})"""


def _pack_ctes(*chains: str) -> str:
    """``WITH`` the BPE replay, the per-doc learned-BPE token counts
    ``dtok`` (v{NUM_MERGES+1} is the final vocab, exactly as
    BPE_ENCODE_ORACLE consumes it), the doc_id-ordered shard lists
    ``sh``, then ``chains``."""
    dtok = f"""dtok AS MATERIALIZED (
    SELECT doc_id, CAST(sum(len(v.syms)) AS BIGINT) AS tok
    {_vocab_words_sql("documents", "text")}
    GROUP BY doc_id
)"""
    ctes = [*_bpe_ctes(), dtok, _shard_list_sql("sh", "dtok"), *chains]
    return "WITH " + ",\n".join(ctes)


#: the FFD chain: the first-fit fold off the decreasing-order shard
#: lists ``shd`` (tok DESC, doc_id ASC) — its only difference from FF.
_FFD_CHAIN = (
    _shard_list_sql("shd", "dtok", "tok DESC, doc_id")
    + ",\n"
    + _fold_chain_sql("f", "shd", _first_fit_sql)
)


PACK_SEQUENCES_ORACLE = (
    _pack_ctes(_fold_chain_sql("k", "sh", _next_fit_sql))
    + "\n"
    + _manifest_sql("k")
)


PACKING_STATS_ORACLE = (
    _pack_ctes(_fold_chain_sql("k", "sh", _next_fit_sql))
    + f""",
ia AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS n_input_tokens
    FROM dtok
),
sa AS ({_totals_sql("k")})
SELECT ia.n_docs, ia.n_input_tokens, sa.n_sequences,
       sa.n_packed_tokens, sa.n_truncated_tokens, sa.n_exact_full,
       sa.avg_fill_ppm
FROM ia, sa
"""
)


PACK_FF_ORACLE = (
    _pack_ctes(_fold_chain_sql("m", "sh", _first_fit_sql))
    + "\n"
    + _manifest_sql("m")
)


PACK_FFD_ORACLE = _pack_ctes(_FFD_CHAIN) + "\n" + _manifest_sql("f")


#: all three chains share the BPE replay + dtok, then total each.
FILL_COMPARE_ORACLE = (
    _pack_ctes(
        _fold_chain_sql("k", "sh", _next_fit_sql),
        _fold_chain_sql("m", "sh", _first_fit_sql),
        _FFD_CHAIN,
    )
    + f""",
nfa AS ({_totals_sql("k")}),
ffa AS ({_totals_sql("m")}),
fda AS ({_totals_sql("f")})
SELECT nfa.n_sequences AS nf_sequences,
       ffa.n_sequences AS ff_sequences,
       fda.n_sequences AS ffd_sequences,
       CAST(nfa.n_sequences - ffa.n_sequences AS BIGINT) AS ff_saved,
       CAST(nfa.n_sequences - fda.n_sequences AS BIGINT) AS ffd_saved,
       nfa.avg_fill_ppm AS nf_avg_fill_ppm,
       ffa.avg_fill_ppm AS ff_avg_fill_ppm,
       fda.avg_fill_ppm AS ffd_avg_fill_ppm,
       nfa.n_packed_tokens,
       ffa.n_packed_tokens = nfa.n_packed_tokens
         AND fda.n_packed_tokens = nfa.n_packed_tokens
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
