"""Deduplication operators ([north-star] N1/N2, BASELINE.json:6).

No reference implementation exists (the reference is a currency-ETL
job); these are the driver-mandated LLM-training-data operators,
designed Spark-first for 100 TB corpora:

- exact dedup: hash-groupBy — one shuffle on the content hash, never
  on the full text (project to hash first).
- near-dup: MinHash + banded LSH entirely in native expressions
  (``xxhash64`` is a JVM function — no Python worker on the path).
  Candidate generation is a self-join *within LSH buckets*, avoiding
  the O(n²) cross join; exact-Jaccard verification runs only on
  candidates.
- SimHash: 60-bit signatures from per-token md5-prefix hash bit
  votes (cross-engine reproducible, hash-checked oracle).

Shared tokenization (``_tokens``): split on single spaces of trimmed
text — mirrored exactly by the DuckDB oracles (``string_split``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.functions.rounding import stable_round
from bigdata_pipelines_aws_glue_spark.hints import maybe_broadcast
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table


def _tokens(text: Column) -> Column:
    return F.split(F.trim(text), " ")


def _shingles(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-grams. size<n docs yield an empty array (guard:
    Spark's ``sequence(0, -1)`` would count *down*, not empty)."""
    idx = F.sequence(F.lit(0), F.size(tokens) - n)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(tokens, i + k + 1) for k in range(n)]
    )
    return F.when(
        F.size(tokens) >= n, F.array_distinct(F.transform(idx, gram))
    ).otherwise(F.array().cast("array<string>"))


#: DuckDB twin of ``_shingles(_tokens(text), 3)``: ``d(doc_id, sh)``,
#: each document's distinct word trigrams. A document with fewer than
#: three tokens has no row, as the Spark side's ``size(sh) > 0`` filter
#: (or the ``explode`` of its empty array) drops it. Every oracle over
#: shingle sets reads this one CTE.
SHINGLES_CTE = """d AS MATERIALIZED (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
    FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents)
    WHERE len(t) >= 3
)"""


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """N1: one surviving row per distinct content value (min id wins),
    with multiplicity. GroupBy on the *content hash* so the shuffle key
    is 32 bytes regardless of document size."""
    return (
        df.select(
            F.col(id_col),
            F.col(content_col),
            F.sha2(F.col(content_col), 256).alias("content_hash"),
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a simulated double-ingestion (corpus ∪ corpus):
    every text collapses back to one keeper with n_copies=2."""
    docs = load_table(spark, sf_dir, "documents")
    doubled = docs.unionByName(docs)
    return exact_dedup(doubled, "text", "doc_id")


DEDUP_EXACT_ORACLE = """
WITH doubled AS (
    SELECT * FROM documents UNION ALL SELECT * FROM documents
)
SELECT sha256(text) AS content_hash,
       min(doc_id) AS keeper_id,
       count(*) AS n_copies
FROM doubled
GROUP BY 1
"""


def dedup_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1 variant: per-document fingerprint + keep/drop decision via
    window over the hash (row_number==1 keeps the lowest doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        docs.withColumn("content_hash", F.sha2(F.col("text"), 256))
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "content_hash", "keep")
    )


DEDUP_HASH_ORACLE = """
SELECT doc_id, sha256(text) AS content_hash,
       row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1 AS keep
FROM documents
"""


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    max_df: int | None = 500,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs above threshold,
    via an **inverted shingle index**: explode each document's distinct
    shingles, equi-join postings on the shingle to count shared
    shingles per pair, then jaccard = inter / (|a| + |b| − inter).

    Output is IDENTICAL to the naive all-pairs form for any
    threshold > 0 (a pair sharing zero shingles cannot clear it), but
    the plan is equi-join + partial-aggregating groupBy — no
    BroadcastNestedLoopJoin / cartesian anywhere, so it scales with
    the number of *co-occurring* shingles instead of n².

    ``max_df`` is the 100 TB guard: a shingle with document frequency
    df yields O(df²) join pairs, so one boilerplate stop-shingle
    ("all rights reserved …") is a quadratic hot key. Postings for
    shingles with ``df > max_df`` are dropped *before* the self-join
    (the filter sits on the shuffle-by-shingle side, so the blowup
    never materializes — bounded-candidates property asserted in
    tests/test_range_neardup.py). Denominators keep the FULL shingle
    set sizes, so for pairs untouched by a capped shingle the jaccard
    is exact; pairs sharing a capped shingle are slightly
    underestimated — the standard IR trade: stop-shingles contribute
    candidates, not near-dup evidence. ``max_df=None`` restores the
    exact form. The DuckDB oracle is the exact all-pairs form; it
    hash-matches because no shingle in the frozen corpus reaches df
    500 at sf0.01 (asserted in the same test).
    """
    d = docs.select(
        F.col("doc_id"), _shingles(_tokens(F.col("text")), n).alias("sh")
    ).filter(F.size("sh") > 0)
    posts = d.select(
        "doc_id", F.size("sh").alias("nsh"), F.explode("sh").alias("s")
    )
    if max_df is not None:
        w_df = Window.partitionBy("s")
        posts = (
            posts.withColumn("_df", F.count(F.lit(1)).over(w_df))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    a, b = posts.alias("a"), posts.alias("b")
    inter = F.count(F.lit(1))
    return (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.nsh").alias("nsh_a"),
            F.col("b.nsh").alias("nsh_b"),
        )
        .agg(inter.alias("inter"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("nsh_a") + F.col("nsh_b") - F.col("inter")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.8)


NGRAM_JACCARD_ORACLE = f"""
WITH {SHINGLES_CTE}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       len(list_intersect(a.sh, b.sh))::DOUBLE
         / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS jaccard
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
        / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= 0.8
"""

# MinHash/LSH parameters: 16 hashes in 4 bands of 4 — candidate
# threshold ≈ (1/4)^(1/4) ≈ 0.71 Jaccard.
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS


#: Odd multipliers/offsets deriving the 16 hash family members from one
#: base hash: h_i = (a_i * h + b_i) mod 2^64 mod 2^61-1 (Carter-Wegman
#: style; the mod-2^64 step is numpy's native uint64 wrap, replicated
#: exactly by the oracle's HUGEINT arithmetic). Module-level so the
#: kernel and the SQL-twin builder share one definition.
_MERSENNE_61 = (1 << 61) - 1


def _mh_consts():
    import numpy as np

    rng = np.random.RandomState(42)
    a = (rng.randint(1, _MERSENNE_61, size=N_HASHES, dtype=np.int64) | 1).astype(
        np.uint64
    )
    b = rng.randint(0, _MERSENNE_61, size=N_HASHES, dtype=np.int64).astype(
        np.uint64
    )
    return a, b


def minhash_signatures_pandas(docs: DataFrame, n: int = 3) -> DataFrame:
    """N2 (performance form): per-document MinHash signatures via an
    Arrow-batched ``mapInPandas`` kernel — one C-speed base hash per
    shingle (the md5-prefix 60-bit construction every cross-engine
    hash in this repo uses), then the 16 family hashes by vectorized
    numpy affine mixing. Input: (doc_id, text); output: (doc_id, sig
    array<long>). PYTHONHASHSEED-independent, partition-count
    independent, and ENGINE independent: the DuckDB oracle replays
    base hash, mixing, banding, and pairing bit-for-bit."""
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    A, B = _mh_consts()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = []
            for text in pdf["text"]:
                toks = (text or "").strip().split(" ")
                if len(toks) < n:
                    sigs.append([])
                    continue
                grams = {
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                }
                base = np.fromiter(
                    (
                        int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                        for g in grams
                    ),
                    dtype=np.uint64,
                    count=len(grams),
                )
                # h_i = (a_i * h + b_i) mod 2^61-1, vectorized (16, n_grams)
                mixed = (A[:, None] * base[None, :] + B[:, None]) % _MERSENNE_61
                sigs.append(mixed.min(axis=1).astype(np.int64).tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": sigs})

    return docs.select("doc_id", "text").mapInPandas(
        kernel, schema="doc_id long, sig array<long>"
    )


def _bands(sigs: DataFrame, *cols: str) -> DataFrame:
    """One row per (document, band) of a frame with a ``sig`` column:
    ``cols``, then ``band`` and ``bucket``, the 60-bit md5 prefix of
    the band's comma-joined signature slice (replayed by the ``bands``
    CTE of :func:`_minhash_ctes`). Two documents are LSH candidates
    when they share a (band, bucket)."""
    bucket = lambda b: F.conv(  # noqa: E731
        F.substring(
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(
                            F.col("sig"), b * ROWS_PER_BAND + 1, ROWS_PER_BAND
                        ),
                        lambda x: x.cast("string"),
                    ),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    bk = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
            lambda b: F.struct(b.alias("band"), bucket(b).alias("bucket")),
        )
    ).alias("bk")
    return sigs.select(*cols, bk).select(*cols, "bk.band", "bk.bucket")


def _verify(
    cands: DataFrame,
    a: str,
    b: str,
    docs_a: DataFrame,
    docs_b: DataFrame,
    threshold: float,
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard of the candidate pairs ``(a, b)`` only:
    each side's shingle set (``a`` ids from ``docs_a``, ``b`` ids from
    ``docs_b``) equi-joins on its id, and ``array_intersect`` counts
    the shared shingles. Returns ``(a, b, jaccard)`` for pairs at or
    above ``threshold``; the SQL twin is :func:`_verified_sql`."""

    def sets(docs: DataFrame, col: str) -> DataFrame:
        return docs.select(
            F.col("doc_id").alias(col),
            _shingles(_tokens(F.col("text")), n).alias(f"sh_{col}"),
        ).filter(F.size(f"sh_{col}") > 0)

    inter = F.size(F.array_intersect(F.col(f"sh_{a}"), F.col(f"sh_{b}")))
    union = F.size(F.col(f"sh_{a}")) + F.size(F.col(f"sh_{b}")) - inter
    return (
        cands.join(sets(docs_a, a), a)
        .join(sets(docs_b, b), b)
        .select(
            a,
            b,
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _verified_sql(cands: str, a: str, b: str) -> str:
    """DuckDB twin of :func:`_verify` at the registered queries'
    threshold 0.8: ``(a, b, jaccard)`` for the pairs of the relation
    ``cands`` whose shingle sets (CTE ``d``) reach it."""
    j = (
        "len(list_intersect(x.sh, y.sh))::DOUBLE\n"
        "         / (len(x.sh) + len(y.sh)"
        " - len(list_intersect(x.sh, y.sh)))::DOUBLE"
    )
    return f"""SELECT {a}, {b}, {j} AS jaccard
FROM {cands}
JOIN d x ON x.doc_id = {a}
JOIN d y ON y.doc_id = {b}
WHERE {j} >= 0.8"""


def minhash_lsh_candidates(docs: DataFrame) -> DataFrame:
    """Banded-LSH candidate pairs: explode signatures into band keys,
    self-join per bucket. The join key is (band_idx, band_hash) — at
    100 TB this shuffles only (doc_id, 16×8B signature), and buckets
    bound the pair blowup. Estimated Jaccard = fraction of equal
    minhashes."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    sig = minhash_signatures_pandas(spread(docs)).filter(F.size("sig") > 0)
    # Both sides of the banded self-join below read one signature
    # frame: one eager checkpoint, so the scan, the spread exchange and
    # the Arrow kernel run once (one MapInPandas in the plan), not once
    # per join side.
    sig = sig.localCheckpoint(eager=True)

    bands = _bands(sig, "doc_id", "sig")
    a, b = bands.alias("a"), bands.alias("b")
    est = (
        F.size(
            F.filter(
                F.zip_with(
                    F.col("a.sig"), F.col("b.sig"), lambda x, y: (x == y).cast("int")
                ),
                lambda v: v == 1,
            )
        ).cast("double")
        / F.lit(float(N_HASHES))
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            est.alias("est_jaccard"),
        )
        .distinct()
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidates with estimated Jaccard >= 0.5 —
    hash-checked: the md5-prefix base hash + numpy-wrap affine family
    is replayed bit-for-bit by the DuckDB twin."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_candidates(docs).filter(F.col("est_jaccard") >= 0.5)


def _minhash_ctes() -> str:
    """SQL replay of the MinHash pipeline through candidate pairs:
    shingles -> md5-prefix base hash -> HUGEINT affine mix (mod 2^64
    replicating numpy's uint64 wrap, then mod 2^61-1) -> per-(doc, i)
    min -> band buckets (md5-prefix of the joined slice) -> distinct
    bucket-sharing pairs."""
    a, b = _mh_consts()
    consts = ", ".join(
        f"({i}, {int(a[i])}::HUGEINT, {int(b[i])}::HUGEINT)"
        for i in range(N_HASHES)
    )
    band_key = (
        "('0x' || substring(md5(array_to_string(list_transform("
        "sig[bd.b * {r} + 1 : bd.b * {r} + {r}], "
        "x -> CAST(x AS VARCHAR)), ',')), 1, 15))::BIGINT"
    ).format(r=ROWS_PER_BAND)
    return f"""
consts(i, a, b) AS (VALUES {consts}),
{SHINGLES_CTE},
base AS (
    SELECT doc_id,
           (('0x' || substring(md5(g), 1, 15))::BIGINT)::HUGEINT AS h
    FROM (SELECT doc_id, unnest(sh) AS g FROM d)
),
mixed AS (
    SELECT doc_id, c.i AS i,
           min(CAST(((c.a * h + c.b) % 18446744073709551616::HUGEINT)
                    % {_MERSENNE_61}::HUGEINT AS BIGINT)) AS mh
    FROM base CROSS JOIN consts c
    GROUP BY doc_id, c.i
),
sigs AS (
    SELECT doc_id, list(mh ORDER BY i) AS sig FROM mixed GROUP BY doc_id
),
bands AS (
    SELECT doc_id, bd.b AS band, {band_key} AS bucket
    FROM sigs CROSS JOIN
         (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS b) bd
),
cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM bands x JOIN bands y
      ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
)"""


MINHASH_LSH_ORACLE = f"""
WITH {_minhash_ctes()}
SELECT doc_a, doc_b,
       len(list_filter(list_transform(generate_series(1, {N_HASHES}),
               j -> CASE WHEN sa.sig[j] = sb.sig[j] THEN 1 ELSE 0 END),
           x -> x = 1))::DOUBLE / {N_HASHES}.0::DOUBLE AS est_jaccard
FROM cand
JOIN sigs sa ON sa.doc_id = doc_a
JOIN sigs sb ON sb.doc_id = doc_b
WHERE len(list_filter(list_transform(generate_series(1, {N_HASHES}),
              j -> CASE WHEN sa.sig[j] = sb.sig[j] THEN 1 ELSE 0 END),
          x -> x = 1))::DOUBLE / {N_HASHES}.0::DOUBLE >= 0.5
"""


def neardup_verified_pairs(
    docs: DataFrame, threshold: float = 0.8, n: int = 3
) -> DataFrame:
    """The composed 100 TB near-dup pipeline: banded-LSH candidate
    generation (:func:`minhash_lsh_candidates` — equi-join on (band,
    bucket)) followed by exact n-gram Jaccard verification on the
    candidate pairs only (equi-joins back to each side's shingle set,
    then ``array_intersect``). Precision is exact by construction;
    recall is the LSH recall (≥0.9 at threshold 0.8 for the 16/4
    banding, asserted in tests/test_northstar.py). Nothing in the
    plan enumerates all pairs."""
    cands = minhash_lsh_candidates(docs).select("doc_a", "doc_b")
    return _verify(cands, "doc_a", "doc_b", docs, docs, threshold, n)


def dedup_neardup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline near-dup entry: LSH candidates -> exact verify — now
    hash-checked end-to-end (candidate generation AND verification
    replayed in the DuckDB twin); subset-of-exact-pairs + recall
    remain asserted in tests."""
    docs = load_table(spark, sf_dir, "documents")
    return neardup_verified_pairs(docs, threshold=0.8)


NEARDUP_PIPELINE_ORACLE = f"""
WITH {_minhash_ctes()}
{_verified_sql("cand", "doc_a", "doc_b")}
"""


def incremental_neardup_pairs(
    new_docs: DataFrame, corpus: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """INCREMENTAL near-dup — the shape curation actually runs at
    100 TB: a new ingest batch dedups against the existing corpus
    without ever self-joining the corpus. Candidates come from the
    banded-LSH bucket join of NEW x CORPUS (cost ∝ |new| x bucket
    density, not |corpus|²); exact Jaccard verifies candidates only.
    At scale the corpus side's signatures/buckets are the persisted
    sidecar index written at ingest — recomputed here because the
    frozen test corpus ships none; the join shape is identical.
    Output: (new_id, corpus_id, jaccard >= threshold)."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    def bands(docs: DataFrame, col: str) -> DataFrame:
        sig = minhash_signatures_pandas(spread(docs)).filter(F.size("sig") > 0)
        return _bands(sig.withColumnRenamed("doc_id", col), col)

    cand = (
        bands(new_docs, "new_id")
        .join(bands(corpus, "corpus_id"), ["band", "bucket"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    return _verify(cand, "new_id", "corpus_id", new_docs, corpus, threshold)


def dedup_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered incremental form: every fifth document plays the
    new ingest batch, the rest the standing corpus (the planted
    near-dups cross that boundary)."""
    docs = load_table(spark, sf_dir, "documents")
    return incremental_neardup_pairs(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
    )


def _incremental_oracle() -> str:
    """Reuses the full-corpus MinHash CTE replay, then restricts the
    bucket join to the NEW x CORPUS sides."""
    return f"""
WITH {_minhash_ctes()},
inc AS (
    SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
    FROM bands n JOIN bands c
      ON n.band = c.band AND n.bucket = c.bucket
    WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
)
{_verified_sql("inc", "new_id", "corpus_id")}
"""


def simhash_signature(tokens: Column, bits: int = 60) -> Column:
    """SimHash: per-token hashes vote per bit position; the signature
    packs the majority sign of each bit. Pure expressions, no UDF.

    Token hashes are the md5-prefix 60-bit construction (same
    cross-engine pattern as ``sampling.shuffle_key``), NOT xxhash64 —
    so the signature, and therefore the whole near-dup index, is
    bit-identical in any engine and ``dedup_simhash`` is hash-checked
    against a full SQL replay instead of rows-only.

    One ``aggregate`` walks the token hashes once, carrying all vote
    counters as an ``array<bigint>`` accumulator (``zip_with`` per
    token); a second pass packs the signs. Keep it a single fold: one
    aggregate per bit walks the token-hash array ``bits`` times per
    document."""
    if bits > 60:
        raise ValueError("md5-prefix hash carries 60 bits")
    hashes = F.transform(
        tokens,
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    )
    # column-valued shift amounts need call_function: the pyspark
    # shiftright/shiftleft wrappers only accept a literal int numBits
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda a, b: a
            + F.when(
                F.call_function("shiftright", h, b).bitwiseAND(F.lit(1))
                == 1,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, i: F.when(
                v > 0,
                F.call_function("shiftleft", F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, b: acc.bitwiseOR(b),
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 60-bit SimHash. Near-dup candidates = signatures
    within small Hamming distance; the pairing reuses the
    banded-bucket pattern of MinHash on signature chunks."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        simhash_signature(_tokens(F.col("text"))).alias("simhash"),
    )


#: DuckDB twin of ``simhash_signature(_tokens(text))``: ``sigs(doc_id,
#: sig)`` for every document.
SIMHASH_SIGS_CTE = """toks AS (
    SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
    FROM documents
),
h AS (
    SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS hv
    FROM toks
),
votes AS (
    SELECT doc_id, b.b AS b,
           sum(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) b
    GROUP BY doc_id, b.b
),
sigs AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b)
                         ELSE 0::BIGINT END) AS BIGINT) AS sig
    FROM votes GROUP BY doc_id
)"""

SIMHASH_ORACLE = f"""
WITH {SIMHASH_SIGS_CTE}
SELECT doc_id, sig AS simhash FROM sigs
"""


#: Manku et al. (WWW'07) block geometry for the corpus-scale SimHash
#: near-dup SELF-join: the 60-bit signature splits into 4 blocks of
#: 15 bits, so by pigeonhole any pair within Hamming distance 3
#: shares at least one block EXACTLY — block equality is a lossless
#: candidate filter at the production radius Manku ran 64-bit
#: simhash at (pinned by pytest on constructed flips).
SIMHASH_BLOCKS = 4
SIMHASH_BLOCK_BITS = 15
SIMHASH_HAMMING_RADIUS = SIMHASH_BLOCKS - 1  # 3
#: Block-key frequency cap (spandedup's df-cap pattern,
#: spandedup.py): a degenerate corpus — thousands of identical or
#: template-identical docs voting the same bits — concentrates one
#: (block, key) bucket and would make the self-join quadratic. Keys
#: above the cap propose NO pairs: exact duplicates are dedup_exact's
#: job, and a >64-doc template cluster is corpus-level duplication,
#: not a pairwise near-dup question. Measured on this corpus: the cap
#: never engages at sf0.01 (13/13 pairs kept); at sf0.1 it drops 21
#: hot keys and keeps 378 of 512 radius-3 pairs — the documented
#: recall cost of staying sub-quadratic on hot keys.
SIMHASH_BLOCK_DF_CAP = 64


def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale binary near-dup SELF-join: all document
    pairs within SimHash Hamming distance <= 3 — the integer-exact
    complement to ``dedup_minhash_lsh`` (no Jaccard threshold float
    anywhere; the signature, blocks, and distance are all integer
    arithmetic, so the oracle replays bit-for-bit).

    100 TB posture: signatures are map-side (pure expressions per
    doc, 8 bytes out); candidates come from a (block, 15-bit key)
    EQUI-join — bucketed and shuffle-partitionable, never all-pairs;
    the df-cap above bounds any one bucket's fan-out at
    C(64,2) pairs so a hot template key cannot go quadratic. The
    per-key frequency is a window count over the SAME (blk, bkey)
    partitioning the join shuffles on."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    # localCheckpoint (the repo's standard lineage truncation, see
    # setsim.py): the 60-vote signature expression is the expensive
    # stage, and a self-join would otherwise execute it once PER
    # side. Checkpointing materializes 12 bytes/doc once; both join
    # sides then read the materialized signatures.
    sigs = docs.select(
        "doc_id",
        simhash_signature(_tokens(F.col("text"))).alias("sig"),
    ).localCheckpoint(eager=True)
    mask = (1 << SIMHASH_BLOCK_BITS) - 1
    blocks = (
        sigs.select(
            "doc_id",
            "sig",
            F.explode(
                F.sequence(F.lit(0), F.lit(SIMHASH_BLOCKS - 1))
            ).alias("blk"),
        )
        .withColumn(
            "bkey",
            F.expr(
                f"shiftright(sig, blk * {SIMHASH_BLOCK_BITS}) & {mask}"
            ),
        )
        .withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("blk", "bkey"))
        )
        .filter(F.col("df") <= SIMHASH_BLOCK_DF_CAP)
        .drop("df")
    )
    left = blocks.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("sig").alias("sig_a"),
        "blk",
        "bkey",
    )
    return (
        left.join(blocks, ["blk", "bkey"])
        .filter(F.col("doc_id_a") < F.col("doc_id"))
        .select(
            "doc_id_a",
            F.col("doc_id").alias("doc_id_b"),
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_RADIUS)
        .distinct()
    )


#: Replays the whole pipeline: signature, block keys, df-cap, block
#: equi-join, radius filter, distinct (a pair sharing several blocks
#: emits once).
SIMHASH_HAMMING_ORACLE = f"""
WITH {SIMHASH_SIGS_CTE},
blocks0 AS (
    SELECT doc_id, sig, b.blk,
           (sig >> (b.blk * {SIMHASH_BLOCK_BITS}))
           & {(1 << SIMHASH_BLOCK_BITS) - 1} AS bkey
    FROM sigs CROSS JOIN
         (SELECT unnest(generate_series(0, {SIMHASH_BLOCKS - 1})) AS blk) b
),
keyfreq AS (
    SELECT blk, bkey, count(*) AS df FROM blocks0 GROUP BY blk, bkey
),
blocks AS (
    SELECT b0.* FROM blocks0 b0
    JOIN keyfreq k USING (blk, bkey)
    WHERE k.df <= {SIMHASH_BLOCK_DF_CAP}
)
SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       bit_count(xor(a.sig, b.sig))::INT AS hamming
FROM blocks a JOIN blocks b
  ON a.blk = b.blk AND a.bkey = b.bkey AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= {SIMHASH_HAMMING_RADIUS}
"""


def decontaminate_against_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents whose
    distinct 3-gram shingles overlap an evaluation set (here the
    'src0' source plays the held-out benchmark) above 5% — the
    standard pre-training hygiene pass that removes eval leakage.

    Scale posture: a REAL eval set is tiny (MBs at any corpus
    size), so its distinct-shingle membership join broadcasts. The
    stand-in here ('src0' slice) grows WITH the corpus, so the hint
    is size-gated (maybe_broadcast): planner+AQE take over past the
    threshold. The per-doc overlap fraction partial-aggregates on
    doc_id; the corpus side never self-joins — cost is O(|corpus
    shingles|), one shuffle (doc_id agg).
    """
    docs = load_table(spark, sf_dir, "documents")
    shingled = docs.select(
        "doc_id",
        "source",
        F.explode(_shingles(_tokens(F.col("text")))).alias("sh"),
    )
    bench = (
        shingled.filter(F.col("source") == "src0").select("sh").distinct()
        .withColumn("hit", F.lit(1))
    )
    per_doc = (
        shingled.filter(F.col("source") != "src0")
        .join(maybe_broadcast(bench), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_overlap"),
        )
    )
    frac = F.col("n_overlap") / F.col("n_shingles")
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        stable_round(frac, 6).alias("overlap_frac"),
        (frac >= 0.05).alias("contaminated"),
    )


DECONTAMINATE_ORACLE = f"""
WITH {SHINGLES_CTE},
g AS (
  SELECT d.doc_id, x.source, unnest(d.sh) AS sh
  FROM d JOIN documents x ON x.doc_id = d.doc_id
),
bench AS (SELECT DISTINCT sh FROM g WHERE source = 'src0'),
per_doc AS (
  SELECT c.doc_id, count(*) AS n_shingles,
         CAST(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
  FROM g c LEFT JOIN bench b ON c.sh = b.sh
  WHERE c.source <> 'src0'
  GROUP BY c.doc_id
)
SELECT doc_id, n_shingles, n_overlap,
       floor((CAST(n_overlap AS DOUBLE) / n_shingles) * 1000000.0 + 0.5) / 1000000.0 AS overlap_frac,
       CAST(n_overlap AS DOUBLE) / n_shingles >= 0.05 AS contaminated
FROM per_doc
"""


def lsh_candidate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality audit of the MinHash-LSH banding:
    candidate-set PRECISION and RECALL against the exact
    Jaccard>=0.8 ground truth — the S-curve of the chosen 16/4
    banding measured on real data rather than quoted from theory.
    Counts are exact integers (hash-checked); precision and recall
    are their stable-rounded ratios. This is the number that tells a
    100 TB operator whether the banding wastes verification work
    (low precision) or silently drops near-dups (low recall)."""
    docs = load_table(spark, sf_dir, "documents")
    # cands and true_pairs each have two consumers (a count and the
    # hits join) and stay lazy: the signature checkpoint inside
    # minhash_lsh_candidates runs the kernel once, and the duplicate
    # subtrees share their shuffles through ReusedExchange.
    cands = minhash_lsh_candidates(docs).select("doc_a", "doc_b")
    true_pairs = ngram_jaccard_pairs(docs, threshold=0.8).select(
        "doc_a", "doc_b"
    )
    hits = cands.join(true_pairs, ["doc_a", "doc_b"], "inner")
    n_c = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_t = true_pairs.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    n_h = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        n_c.crossJoin(F.broadcast(n_t))
        .crossJoin(F.broadcast(n_h))
        .select(
            "n_candidates",
            "n_true_pairs",
            "n_hits",
            stable_round(
                F.col("n_hits").cast("double")
                / F.greatest(F.col("n_candidates").cast("double"), F.lit(1.0)),
                6,
            ).alias("precision"),
            stable_round(
                F.col("n_hits").cast("double")
                / F.greatest(F.col("n_true_pairs").cast("double"), F.lit(1.0)),
                6,
            ).alias("recall"),
        )
    )


#: ground-truth pairs via the inverted shingle index (exact — a pair
#: at Jaccard >= 0.8 must share a shingle; same construction as the
#: Spark side and the sf0.1 scale twins), df-capped identically. Reads
#: the shingle sets ``d`` that :func:`_minhash_ctes` defines.
_TRUE_PAIRS_CTE = """
inv AS MATERIALIZED (
    SELECT doc_id, s FROM (SELECT doc_id, unnest(sh) AS s FROM d)
    QUALIFY count(*) OVER (PARTITION BY s) <= 500
),
tcand AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
true_pairs AS (
    SELECT c.doc_a, c.doc_b
    FROM tcand c
    JOIN d da ON da.doc_id = c.doc_a
    JOIN d db ON db.doc_id = c.doc_b
    WHERE c.n_shared::DOUBLE
            / (len(da.sh) + len(db.sh) - c.n_shared)::DOUBLE >= 0.8
)"""

LSH_QUALITY_ORACLE = f"""
WITH {_minhash_ctes()},
{_TRUE_PAIRS_CTE},
hits AS (
    SELECT t.doc_a FROM true_pairs t
    JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
       (SELECT CAST(count(*) AS BIGINT) FROM true_pairs) AS n_true_pairs,
       (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hits,
       floor(((SELECT count(*) FROM hits)::DOUBLE
              / greatest((SELECT count(*) FROM cand)::DOUBLE, 1.0))
             * 1000000.0 + 0.5) / 1000000.0 AS precision,
       floor(((SELECT count(*) FROM hits)::DOUBLE
              / greatest((SELECT count(*) FROM true_pairs)::DOUBLE, 1.0))
             * 1000000.0 + 0.5) / 1000000.0 AS recall
"""


def _register() -> None:
    registry.register("dedup_exact", dedup_exact, DEDUP_EXACT_ORACLE)
    registry.register(
        "lsh_candidate_quality", lsh_candidate_quality, LSH_QUALITY_ORACLE
    )
    registry.register(
        "decontaminate_against_eval", decontaminate_against_eval, DECONTAMINATE_ORACLE
    )
    registry.register("dedup_content_hash", dedup_content_hash, DEDUP_HASH_ORACLE)
    registry.register(
        "dedup_ngram_jaccard", dedup_ngram_jaccard, NGRAM_JACCARD_ORACLE
    )
    registry.register(
        "dedup_minhash_lsh", dedup_minhash_lsh, MINHASH_LSH_ORACLE
    )
    registry.register(
        "dedup_neardup_pipeline", dedup_neardup_pipeline, NEARDUP_PIPELINE_ORACLE
    )
    registry.register(
        "dedup_incremental_neardup",
        dedup_incremental_neardup,
        _incremental_oracle(),
    )
    registry.register("dedup_simhash", dedup_simhash, SIMHASH_ORACLE)
    registry.register(
        "dedup_simhash_hamming",
        dedup_simhash_hamming,
        SIMHASH_HAMMING_ORACLE,
    )
