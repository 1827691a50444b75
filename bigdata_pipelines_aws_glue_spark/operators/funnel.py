"""End-to-end corpus funnel ([north-star]): ONE hash-attested
composition of the individually attested families —

    warc.gz bytes  ->  per-member bounded inflate   (``warcgz.py``)
    -> Content-Length record parse                  (``warc.py``)
    -> boilerplate-filtered main content            (``markup.py``)
    -> canonical-URL dedup + host source cap        (``urls.py``)
    -> Gopher quality gate                          (``text.py``)
    -> learned-BPE tokenization (char fallback)     (``bpe.py``)
    -> next-fit sequence packing                    (``packing.py``)

Every stage exists and is individually attested; this module chains
them so cross-family schema drift fails the hash check the moment it
happens, and emits the per-stage funnel counts a pipeline owner
actually watches (``corpus_funnel_stats``) plus the final packed
manifest a batch loader consumes (``corpus_funnel_manifest``).

Two deliberate composition semantics (both mirrored exactly by the
oracle):

* **OOV character fallback** — the funnel's content includes words
  the BPE vocab (trained on ``documents.text``) never saw (title,
  heading, anchor-trail words). Instead of the inner join's silent
  drop, unknown words decompose to their character symbols —
  ``length(word) + 1`` (chars + the ``</w>`` terminal, exactly
  ``bpe._char_syms``'s pre-merge cost) — and the OOV word count is
  emitted in the stats row so the seam is loud, not silent.
* **Quality on the EXTRACTED text** — the Gopher gate scores the
  boilerplate-stripped content (title + heading + paragraphs +
  anchor trails), not the original ``text`` column, so the word-count
  bounds genuinely re-bite (~12 extra words per doc push long docs
  over ``GOPHER_MAX_WORDS``).

Scale posture: the expensive stages keep their attested shapes —
warc.gz inflate is Arrow-batched per member, content extraction is
per-row JVM higher-order work (transform/filter/aggregate over the
block array — NO explode, zero shuffle), URL dedup and the host cap
are two windows over metadata-width rows, the vocab join is a
bounded broadcast, and packing shuffles only (doc_id, tok) pairs
into per-shard folds (``packing.py``'s next-fit kernel, reused).
``corpus_funnel_stats`` checkpoints the parsed, the URL-deduped and
the token frames so the zlib chain runs ONCE, and every stage count
it can rides, as an observed metric, the checkpoint that already
scans those rows; only the host-cap count and the packing totals
are aggregates, joined by one 1-row scalar crossJoin.

The DuckDB twin replays the chain from ``documents`` without gzip
(the ``warcgz.py`` oracle pattern: DuckDB cannot gunzip, so the hash
match proves Spark's compress -> split -> inflate -> parse ->
extract -> curate -> encode -> pack equals the direct replay), with
every multiply-referenced CTE ``MATERIALIZED`` (DuckDB inlines a
plain CTE into each reference, so an unmaterialized one would replay
the chain once per consumer).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.operators.bpe import (
    _bpe_ctes,
    _vocab_words,
    _vocab_words_sql,
    train_bpe,
)
from bigdata_pipelines_aws_glue_spark.operators.markup import (
    _ANCHOR_TEXT_RE,
    _strip_sql,
    BOILER_DENSITY,
    strip_markup,
)
from bigdata_pipelines_aws_glue_spark.operators.packing import (
    _fold_chain_sql,
    _manifest,
    _manifest_sql,
    _next_fit,
    _next_fit_sql,
    _packed,
    _shard_list_sql,
    _totals,
    _totals_sql,
)
from bigdata_pipelines_aws_glue_spark.operators.text import (
    GOPHER_MAX_BULLET_RATIO,
    GOPHER_MAX_ELLIPSIS_RATIO,
    GOPHER_MAX_MEAN_WL,
    GOPHER_MAX_SYMBOL_RATIO,
    GOPHER_MAX_WORDS,
    GOPHER_MIN_ALPHA_RATIO,
    GOPHER_MIN_MEAN_WL,
    GOPHER_MIN_STOP_HITS,
    GOPHER_MIN_WORDS,
    GOPHER_STOPWORDS,
    gopher_keep,
)
from bigdata_pipelines_aws_glue_spark.operators.urls import (
    _CANON_PARTS,
    _CRAWL_URL_SQL,
    MAX_PER_HOST,
    canonical_host,
    canonical_url,
    synth_crawl_url,
)
from bigdata_pipelines_aws_glue_spark.operators.warc import (
    _BLOB_CTE,
    _CLEN_RE,
    _CRLF,
    _DOC_RE,
    _URI_RE,
)
from bigdata_pipelines_aws_glue_spark.operators.warcgz import (
    _gz_members_udf,
    warc_gz_blobs,
)
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table


# ------------------------------------------------ Spark stages


def _parsed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload): compress -> split -> bounded-inflate ->
    Content-Length parse, one record per gz member (the warcgz
    construction). The header block ends at the first CRLF CRLF; the
    payload is EXACTLY the declared Content-Length span — nothing
    splits on payload content."""
    blobs = warc_gz_blobs(load_table(spark, sf_dir, "documents"))
    members = blobs.select(
        F.explode(_gz_members_udf()(F.col("blob"))).alias("m")
    )
    txt = F.col("m.txt")
    hdr_end = F.instr(txt, _CRLF + _CRLF)
    clen = F.regexp_extract(txt, _CLEN_RE, 1).cast("int")
    return members.select(
        F.regexp_extract(
            F.regexp_extract(txt, _URI_RE, 1), _DOC_RE, 1
        )
        .cast("long")
        .alias("doc_id"),
        txt.substr(hdr_end + F.lit(4), clen).alias("payload"),
    )


def _content(payload: Column) -> Column:
    """Boilerplate-filtered main content: split the recovered HTML
    into its newline blocks, strip each, drop blocks that are empty
    or anchor-dominated (``markup.boilerplate_density``'s rule), and
    re-join the survivors. Pure JVM higher-order expressions over the
    block array — no explode, zero shuffle."""
    blocks = F.split(payload, "\n")
    scored = F.transform(
        blocks,
        lambda b: F.struct(
            strip_markup(b).alias("t"),
            F.aggregate(
                F.regexp_extract_all(
                    b, F.lit(_ANCHOR_TEXT_RE), F.lit(1)
                ),
                F.lit(0),
                lambda acc, t: acc + F.length(t),
            ).alias("ac"),
        ),
    )
    kept = F.filter(
        scored,
        lambda s: ~(
            (F.length(s["t"]) == F.lit(0))
            | (
                s["ac"].cast("double")
                > F.lit(BOILER_DENSITY) * F.length(s["t"]).cast("double")
            )
        ),
    )
    return F.array_join(F.transform(kept, lambda s: s["t"]), " ")


def _base_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, host, canonical_url, content): the parsed + extracted
    + URL-normalized frame every later stage consumes."""
    parsed = _parsed_docs(spark, sf_dir)
    raw = synth_crawl_url(F.col("doc_id"))
    return parsed.select(
        "doc_id",
        canonical_host(raw).alias("host"),
        canonical_url(raw).alias("canonical_url"),
        _content(F.col("payload")).alias("content"),
    )


def _dedup_urls(base: DataFrame) -> DataFrame:
    """Keep-first per canonical URL (lowest doc_id — the
    ``dedup_exact``/``url_dedup_hostcap`` convention)."""
    w = Window.partitionBy("canonical_url").orderBy("doc_id")
    return (
        base.withColumn("url_rank", F.row_number().over(w))
        .filter(F.col("url_rank") == 1)
        .drop("url_rank")
    )


def _host_cap(deduped: DataFrame) -> DataFrame:
    """At most ``MAX_PER_HOST`` docs per host, lowest doc_ids first."""
    w = Window.partitionBy("host").orderBy("doc_id")
    return (
        deduped.withColumn("host_rank", F.row_number().over(w))
        .filter(F.col("host_rank") <= MAX_PER_HOST)
        .drop("host_rank")
    )


def _survivor_tokens(
    spark: SparkSession, sf_dir: str, curated: DataFrame
) -> DataFrame:
    """(doc_id, tok, n_oov): learned-BPE token counts of the
    quality-surviving docs' CONTENT, with the loud character fallback
    for OOV words (module doc)."""
    vocab = train_bpe(spark, sf_dir)[1].select(
        "word", F.size("syms").alias("n_syms")
    )
    kept = curated.filter(gopher_keep(F.col("content")))
    enc = _vocab_words(kept, "content", vocab, "left")
    return enc.groupBy("doc_id").agg(
        F.sum(
            F.coalesce(F.col("n_syms"), F.length("word") + F.lit(1))
        )
        .cast("long")
        .alias("tok"),
        F.sum(F.col("n_syms").isNull().cast("long"))
        .cast("long")
        .alias("n_oov"),
    )


# ------------------------------------------------ attested queries


def corpus_funnel_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packed-sequence manifest of the FULL funnel output — the
    ``pack_training_sequences`` shape, but every doc in it got there
    through inflate -> parse -> extract -> URL-curate -> quality ->
    encode. One linear plan, no branching."""
    curated = _host_cap(_dedup_urls(_base_frame(spark, sf_dir)))
    toks = _survivor_tokens(spark, sf_dir, curated)
    return _manifest(_packed(toks, _next_fit))


def corpus_funnel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One funnel-audit row: per-stage survivor counts (records ->
    unique URLs -> host cap -> quality), the OOV word count, and the
    packing totals with visible conservation (``n_packed_tokens +
    n_truncated_tokens == n_input_tokens``). The zlib chain runs once
    (checkpointed); each stage count rides the checkpoint that scans
    its rows as an observed metric (merged from per-task
    accumulators, so independent of partitioning). The host-capped
    frame is never checkpointed, so its count and the packing totals
    stay 1-row aggregates."""
    n = F.count(F.lit(1)).cast("long")
    records, urls, kept = Observation(), Observation(), Observation()
    base = (
        _base_frame(spark, sf_dir)
        .observe(records, n.alias("n_records"))
        .localCheckpoint(eager=True)
    )
    deduped = (
        _dedup_urls(base)
        .observe(urls, n.alias("n_unique_urls"))
        .localCheckpoint(eager=True)
    )
    curated = _host_cap(deduped)
    toks = (
        _survivor_tokens(spark, sf_dir, curated)
        .observe(
            kept,
            n.alias("n_quality_kept"),
            F.sum("n_oov").cast("long").alias("n_oov_words"),
            F.sum("tok").cast("long").alias("n_input_tokens"),
        )
        .localCheckpoint(eager=True)
    )
    got = {**records.get, **urls.get, **kept.get}
    host = curated.agg(n.alias("n_after_host_cap"))
    pack = _totals(_packed(toks, _next_fit))

    def lit(name: str) -> Column:
        return F.lit(got[name]).cast("long").alias(name)

    def total(name: str) -> Column:
        # a SUM over no rows is NULL, so the column stays nullable
        any_kept = F.lit(got["n_quality_kept"]) > 0
        return F.when(any_kept, F.lit(got[name]).cast("long")).alias(name)

    return host.crossJoin(pack).select(
        lit("n_records"),
        lit("n_unique_urls"),
        "n_after_host_cap",
        lit("n_quality_kept"),
        total("n_oov_words"),
        total("n_input_tokens"),
        "n_sequences",
        "n_packed_tokens",
        "n_truncated_tokens",
    )


# ------------------------------------------------ DuckDB twins


def _gopher_keep_sql(text: str) -> str:
    """The Gopher gate over a content expression — the identical
    predicate ``text.gopher_keep`` composes (constants shared;
    expression shapes mirror ``text.GOPHER_FILTER_ORACLE``)."""
    toks = f"string_split(trim({text}), ' ')"
    lines = f"string_split({text}, chr(10))"
    stop = " + ".join(
        f"CASE WHEN list_contains({toks}, '{w}') THEN 1 ELSE 0 END"
        for w in GOPHER_STOPWORDS
    )
    return f"""(
        len({toks}) BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
        AND list_sum(list_transform({toks}, x -> length(x)))::DOUBLE
              / len({toks}) >= {GOPHER_MIN_MEAN_WL}
        AND list_sum(list_transform({toks}, x -> length(x)))::DOUBLE
              / len({toks}) <= {GOPHER_MAX_MEAN_WL}
        AND len(regexp_extract_all({text}, '(#|\\.\\.\\.)'))::DOUBLE
              / len({toks}) < {GOPHER_MAX_SYMBOL_RATIO}
        AND len(list_filter({lines},
                x -> regexp_matches(x, '^\\s*[-*•]')))::DOUBLE
              / len({lines}) <= {GOPHER_MAX_BULLET_RATIO}
        AND len(list_filter({lines}, x -> x LIKE '%...'))::DOUBLE
              / len({lines}) <= {GOPHER_MAX_ELLIPSIS_RATIO}
        AND len(list_filter({toks},
                x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
              / len({toks}) >= {GOPHER_MIN_ALPHA_RATIO}
        AND ({stop}) >= {GOPHER_MIN_STOP_HITS}
    )"""


#: the shared replay chain: records rebuilt from documents (the
#: warcgz-oracle pattern — DuckDB cannot gunzip), then extract ->
#: curate -> quality -> encode -> pack, all MATERIALIZED.
_FUNNEL_CTES = (
    _BLOB_CTE
    + f""",
fb AS (
    SELECT doc_id, string_split(payload, chr(10)) AS bl FROM pay
),
cdoc AS MATERIALIZED (
    SELECT doc_id,
           array_to_string(
             list_transform(
               list_filter(
                 list_transform(bl, b -> struct_pack(
                     t := {_strip_sql('b')},
                     ac := CAST(coalesce(list_sum(list_transform(
                         regexp_extract_all(b, '{_ANCHOR_TEXT_RE}', 1),
                         x -> length(x))), 0) AS BIGINT))),
                 s -> NOT (length(struct_extract(s, 't')) = 0
                       OR CAST(struct_extract(s, 'ac') AS DOUBLE)
                          > {BOILER_DENSITY}
                            * CAST(length(struct_extract(s, 't'))
                                   AS DOUBLE))),
               s -> struct_extract(s, 't')),
             ' ') AS content
    FROM fb
),
raw AS (
    SELECT doc_id, {_CRAWL_URL_SQL} AS raw_url FROM cdoc
),
{_CANON_PARTS},
curx AS MATERIALIZED (
    SELECT c.doc_id, cu.canonical_url, cu.host, c.content,
           row_number() OVER (PARTITION BY cu.canonical_url
                              ORDER BY c.doc_id) AS url_rank
    FROM cdoc c JOIN cu ON cu.doc_id = c.doc_id
),
dd AS MATERIALIZED (
    SELECT doc_id, canonical_url, host, content
    FROM curx WHERE url_rank = 1
),
hc AS MATERIALIZED (
    SELECT doc_id, canonical_url, host, content FROM (
        SELECT *, row_number() OVER (PARTITION BY host
                                     ORDER BY doc_id) AS host_rank
        FROM dd
    ) WHERE host_rank <= {MAX_PER_HOST}
),
gq AS MATERIALIZED (
    SELECT doc_id, content FROM hc
    WHERE {_gopher_keep_sql('content')}
),
"""
    + ",\n".join(_bpe_ctes())
    + f""",
fdt AS MATERIALIZED (
    SELECT w.doc_id,
           CAST(sum(coalesce(len(v.syms), length(w.word) + 1))
                AS BIGINT) AS tok,
           CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov
    {_vocab_words_sql("gq", "content", "LEFT JOIN")}
    GROUP BY w.doc_id
),
{_shard_list_sql("fsh", "fdt")},
{_fold_chain_sql("k", "fsh", _next_fit_sql)}
"""
)


FUNNEL_MANIFEST_ORACLE = _FUNNEL_CTES + _manifest_sql("k")


FUNNEL_STATS_ORACLE = (
    _FUNNEL_CTES
    + f""",
sa AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM cdoc),
ua AS (SELECT CAST(count(*) AS BIGINT) AS n_unique_urls FROM dd),
ha AS (SELECT CAST(count(*) AS BIGINT) AS n_after_host_cap FROM hc),
qa AS (
    SELECT CAST(count(*) AS BIGINT) AS n_quality_kept,
           CAST(sum(n_oov) AS BIGINT) AS n_oov_words,
           CAST(sum(tok) AS BIGINT) AS n_input_tokens
    FROM fdt
),
pa AS ({_totals_sql("k")})
SELECT sa.n_records, ua.n_unique_urls, ha.n_after_host_cap,
       qa.n_quality_kept, qa.n_oov_words, qa.n_input_tokens,
       pa.n_sequences, pa.n_packed_tokens, pa.n_truncated_tokens
FROM sa, ua, ha, qa, pa
"""
)


def _register() -> None:
    registry.register(
        "corpus_funnel_manifest",
        corpus_funnel_manifest,
        FUNNEL_MANIFEST_ORACLE,
    )
    registry.register(
        "corpus_funnel_stats", corpus_funnel_stats, FUNNEL_STATS_ORACLE
    )
