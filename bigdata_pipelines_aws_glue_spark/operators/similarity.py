"""Similarity search over embeddings ([north-star] N3, BASELINE.json:6).

- ``cosine_topk`` — exact brute force: broadcast the (small) query
  set against the full corpus; vector math via ``zip_with`` /
  ``aggregate`` higher-order functions (JVM codegen, no Python).
  The baseline every approximate method is validated against.
- Banded ANN: one candidate kernel serves hyperplane LSH
  (``ann_lsh_topk``) and the four multi-index-Hamming searches. A
  signature is an ``array<bigint>`` (:func:`sign_words`, or the
  16-bit :func:`lsh_signature` as one word); :func:`_bands` cuts it
  into (band, key) rows and :func:`_probe` equi-joins each query's
  keys, XORed with a probe-mask set, against the band table. Its
  DuckDB twin is :func:`_sql_probe`. Candidate generation is never a
  cross join.
- IVF (``ivf_topk``): per-label centroids (``label_centroids``) as
  coarse cells, ranked per vector by :func:`_ranked_cells`.
- PQ-ADC (``pq_topk``, ``ivfpq_topk``) and k-means: one Lloyd's
  kernel, :func:`lloyd`, trains both the k-means centroids (one
  subspace) and the PQ codebooks (``PQ_M`` subspaces); its DuckDB
  twin is :func:`_lloyd_ctes`.
- Every search ends in one per-query window top-k, :func:`_top_k`;
  its twin is :func:`_sql_topk`.

Every mean vector here is :func:`_quantized_mean` — 1e-9-quantized
components summed as exact integers — so centroids and codebooks are
independent of aggregation order and bit-identical in DuckDB.
Embeddings are ``array<float>``; all math casts to double first so
the DuckDB oracle (which computes in double) matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.functions.rounding import (
    quantized_avg,
    sql_quantized_sum,
    sql_round,
    stable_round,
)
from bigdata_pipelines_aws_glue_spark.operators.skew import spread
from bigdata_pipelines_aws_glue_spark.sources.local import local_frame
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

N_QUERIES = 50  # vec_id < 50 are the query vectors
TOP_K = 10


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def _corpus_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v): the embeddings as double arrays, spread over the
    cluster."""
    return spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ as an in-order left fold (matches DuckDB
    list_dot_product's sequential accumulation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _top_k(scored: DataFrame, *order: Column | str) -> DataFrame:
    """``scored`` (query_id, neighbor_id, …) cut to each query's
    ``TOP_K`` best rows: ``rank`` is the row number by ``order``, ties
    broken on neighbor_id, placed after neighbor_id in the output. A
    window top-k — local heaps per query, no global sort. DuckDB twin:
    :func:`_sql_topk`."""
    w = Window.partitionBy("query_id").orderBy(*order, "neighbor_id")
    rest = [c for c in scored.columns if c not in ("query_id", "neighbor_id")]
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", *rest)
    )


def _cosine_top_k(scored: DataFrame) -> DataFrame:
    """:func:`_top_k` by descending ``score``, then rounded to 8
    decimals (twin: :func:`_sql_cosine_topk`)."""
    return _top_k(scored, F.col("score").desc()).withColumn(
        "score", stable_round(F.col("score"), 8)
    )


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (excluding
    self). Query side is broadcast — the corpus never shuffles; the
    per-query ranking is a window top-k (local heaps, no global
    sort)."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    # norms precomputed once per side — not per pair (3x fewer folds)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    base = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("bv"),
    ).withColumn("bn", norm(F.col("bv")))
    scored = (
        base.join(F.broadcast(queries), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("bv")) / (F.col("qn") * F.col("bn"))).alias(
                "score"
            ),
        )
    )
    return _cosine_top_k(scored)


N_PLANES = 16

#: LCG constants (glibc rand): portable across engines — every term
#: stays far below 2^63 so Spark and DuckDB compute identical values.
_LCG_A = 1103515245
_LCG_C = 12345
_LCG_M = 2147483648  # 2^31


def _plane_component(p: int, d: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    an LCG over the (plane, dim) index. Chosen over a seeded xxhash64
    because the exact same arithmetic is expressible in ANSI SQL
    (``LSH_TOPK_ORACLE``), making the whole LSH pipeline — signatures,
    band buckets, candidates, re-scoring — bit-for-bit reproducible in
    DuckDB. Reproducible across runs and cluster sizes with no RNG
    state."""
    k = F.lit(p * 65536).cast("long") + d.cast("long")
    h = (F.lit(_LCG_A).cast("long") * k + F.lit(_LCG_C)) % F.lit(_LCG_M)
    return h.cast("double") / F.lit(float(_LCG_M)) * F.lit(2.0) - F.lit(1.0)


def lsh_signature(vec: Column) -> Column:
    """16-bit random-hyperplane signature packed into a long: bit p =
    sign(vec · plane_p). Unrolled per plane at plan-build time."""
    dims = F.sequence(F.lit(0), F.size(vec) - 1)

    def _projector(plane: int):
        # closure, not default-arg: pyspark HOF arity introspection
        return lambda x, d: x * _plane_component(plane, d)

    sig = F.lit(0).cast("long")
    for p in range(N_PLANES):
        proj = F.aggregate(
            F.zip_with(vec, dims, _projector(p)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        sig = sig.bitwiseXOR(
            F.when(proj > 0, F.lit(1 << p).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    return sig


LSH_BANDS = 4
BITS_PER_BAND = N_PLANES // LSH_BANDS


def _bands(items: DataFrame, n_bands: int, bits: int) -> DataFrame:
    """``items`` (vec_id, sig, …), ``sig`` an ``array<bigint>``
    signature, as one row per (vector, band) with the band's
    ``bits``-wide key ``bkey``: band b reads word b DIV (64 DIV bits)
    at shift (b % (64 DIV bits)) * bits. Vectors sharing any
    (band, bkey) are candidates — OR-of-ANDs amplification, as in the
    MinHash banding of dedup.py. Arithmetic vs logical shift is
    irrelevant under the mask, so both engines agree. DuckDB twin:
    :func:`_sql_probe`."""
    per_word = 64 // bits
    return items.withColumn(
        "band", F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1)))
    ).withColumn(
        "bkey",
        F.expr(
            f"shiftright(element_at(sig, CAST(band DIV {per_word} AS INT) + 1),"
            f" (band % {per_word}) * {bits}) & {(1 << bits) - 1}"
        ),
    )


def _probe(bands: DataFrame, masks: tuple[int, ...]) -> DataFrame:
    """Candidate pairs of a :func:`_bands` table: each query vector
    (vec_id < N_QUERIES) probes every band key XOR each of ``masks``
    in an equi-join on (band, bkey). Returns the distinct (query_id,
    q_<payload>, neighbor_id, n_<payload>), the payload being every
    other column of ``bands``. ``masks`` = (0,) is the plain search
    and skips the probe explode; a wider set explodes only the
    bounded query side, so the indexed corpus is untouched."""
    payload = [c for c in bands.columns if c not in ("vec_id", "band", "bkey")]
    key = F.col("bkey")
    if masks != (0,):
        key = F.explode(F.array(*[key.bitwiseXOR(F.lit(m)) for m in masks]))
    q = bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(c).alias(f"q_{c}") for c in payload],
        "band",
        key.alias("bkey"),
    )
    n = bands.select(
        F.col("vec_id").alias("neighbor_id"),
        *[F.col(c).alias(f"n_{c}") for c in payload],
        "band",
        "bkey",
    )
    return (
        q.join(n, ["band", "bkey"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .drop("band", "bkey")
        .distinct()
    )


def _lsh_bands(v: DataFrame) -> DataFrame:
    """``v`` (vec_id, v, …) in :func:`_bands` form over its one-word
    hyperplane signature, which is then dropped: LSH_BANDS bands of
    BITS_PER_BAND bits."""
    sigs = v.withColumn("sig", F.array(lsh_signature(F.col("v"))))
    return _bands(sigs, LSH_BANDS, BITS_PER_BAND).drop("sig")


#: Multi-probe masks: besides each band's own bucket (mask 0), the
#: query side also probes the buckets at Hamming distance 1 within
#: the band — 5x the query-side bucket lookups, no change to the
#: indexed corpus.
PROBE_MASKS = tuple([0] + [1 << i for i in range(BITS_PER_BAND)])


def _ann_lsh_topk_impl(
    spark: SparkSession, sf_dir: str, probe_masks: tuple[int, ...] = (0,)
) -> DataFrame:
    """Approximate top-k: candidates share at least one probed LSH
    band bucket, then exact cosine re-scoring of candidates only. At
    100 TB: signatures are 2 bytes/vector, the banded bucket join
    replaces the O(n²) cross join, and band count / probe width trade
    recall for fan-out."""
    cand = _probe(_lsh_bands(_corpus_vectors(spark, sf_dir)), probe_masks)
    return _cosine_top_k(
        cand.select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_v"), F.col("n_v")).alias("score"),
        )
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-probe banded LSH ANN (see :func:`_ann_lsh_topk_impl`).
    Hash-checked against ``LSH_TOPK_ORACLE``; quality is attested by
    ``ann_lsh_recall_at10``."""
    return _ann_lsh_topk_impl(spark, sf_dir)


def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe banded LSH ANN: query side also probes each band's
    Hamming-1 buckets (``PROBE_MASKS``)."""
    return _ann_lsh_topk_impl(spark, sf_dir, PROBE_MASKS)


N_PROBE = 3  # IVF cells searched per query


def _quantized_mean(df: DataFrame, keys: list[str], vec: str) -> DataFrame:
    """(*keys, cvec, n): the mean of the ``vec`` arrays per key and
    the key's row count. Each component is :func:`quantized_avg` at
    1e-9 — integer-summed, so the mean is independent of
    partial-aggregation order and bit-identical to the DuckDB twins'
    ``sql_quantized_sum(…, 9) / count(*)``. The shuffle carries
    (key, dim, partial sum) triples, not vectors."""
    return (
        df.select(*keys, F.posexplode(vec).alias("dim", "val"))
        .groupBy(*keys, "dim")
        .agg(quantized_avg("val", 9).alias("cv"), F.count(F.lit(1)).alias("n"))
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                lambda s: s["cv"],
            ).alias("cvec"),
            F.min("n").alias("n"),
        )
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """(cell, cvec): coarse centroids — the quantized mean vector per
    corpus label (k = n_labels); DuckDB twin ``_SQL_LABEL_CENTS``."""
    v = emb.select(
        F.col("label").alias("cell"), _as_double(F.col("embedding")).alias("v")
    )
    return _quantized_mean(v, ["cell"], "v").select("cell", "cvec")


def _ranked_cells(v: DataFrame, emb: DataFrame) -> DataFrame:
    """``v``'s rows (vec_id, v, …) times every label-centroid cell of
    ``emb``, ranked per vector by cosine to the centroid: ``cr`` = 1
    is the nearest cell, ties broken on cell. The centroids are a
    broadcast k-row table, so ranking is a map over ``v``. Shared by
    ``ivf_topk``, ``ivfpq_topk`` and ``semdedup_prune``."""
    w = Window.partitionBy("vec_id").orderBy(F.col("cs").desc(), "cell")
    return (
        v.crossJoin(F.broadcast(label_centroids(emb)))
        .withColumn("cs", cosine(F.col("v"), F.col("cvec")))
        .drop("cvec")
        .withColumn("cr", F.row_number().over(w))
    )


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (the other N3 scale path besides LSH): coarse
    cells = per-label centroids; each vector is indexed under its
    nearest centroid, each query probes its ``N_PROBE`` nearest cells
    and re-scores exactly within them. At 100 TB: centroids are a
    broadcast table (k rows), cell assignment is a map, and search is
    an equi-join on cell id — never a cross join. Hash-checked
    (``IVF_TOPK_ORACLE``); recall vs brute force asserted in tests."""
    emb = _corpus_vectors(spark, sf_dir)
    ranked_cells = _ranked_cells(emb, load_table(spark, sf_dir, "embeddings"))
    index = ranked_cells.filter(F.col("cr") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("bv"),
        "cell",
    )
    probes = (
        ranked_cells.filter(
            (F.col("cr") <= N_PROBE) & (F.col("vec_id") < N_QUERIES)
        )
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "cell")
    )
    cand = probes.join(index, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _cosine_top_k(
        cand.select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("bv")).alias("score"),
        ).distinct()
    )


#: matryoshka truncation width: keep the first half of the 64 dims.
MATRYOSHKA_DIMS = 32


def matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k over TRUNCATED embeddings (first
    ``MATRYOSHKA_DIMS`` components) — the matryoshka-representation
    question every embedding-serving stack asks: how much recall does
    halving the vector (and the index RAM/bandwidth with it) cost?
    Same plan shape as ``cosine_topk`` (broadcast query sample, no
    corpus shuffle, per-query window top-k)."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    tv = F.slice(_as_double(F.col("embedding")), 1, MATRYOSHKA_DIMS)
    queries = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), tv.alias("qv"))
        .withColumn("qn", norm(F.col("qv")))
    )
    base = emb.select(
        F.col("vec_id").alias("neighbor_id"), tv.alias("bv")
    ).withColumn("bn", norm(F.col("bv")))
    scored = base.join(
        F.broadcast(queries), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        (dot(F.col("qv"), F.col("bv")) / (F.col("qn") * F.col("bn"))).alias(
            "score"
        ),
    )
    return _cosine_top_k(scored)


def matryoshka_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of half-dimension exact search against full-dimension
    exact search, per query — quantifying the truncation trade-off
    with the same sampled-recall contract as the ANN audits."""
    return _recall_vs_exact(
        cosine_topk(spark, sf_dir), matryoshka_topk(spark, sf_dir)
    )


def _recall_vs_exact(exact: DataFrame, ann: DataFrame) -> DataFrame:
    """Per-query recall@k of an ANN result against the exact top-k:
    |ann ∩ exact| / k, driven from the exact side so queries the ANN
    index misses entirely still report (with recall 0)."""
    hit = ann.select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    flagged = exact.select("query_id", "neighbor_id").join(
        hit, ["query_id", "neighbor_id"], "left"
    )
    return flagged.groupBy("query_id").agg(
        F.count("hit").alias("hits"),
        (F.count("hit") / F.lit(float(TOP_K))).alias(f"recall_at{TOP_K}"),
    )


def ann_lsh_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of hyperplane-LSH ANN vs exact brute force, per query
    — the quality metric that turns ``ann_lsh_topk`` from a rows-only
    entry into an oracle-attested number. The DuckDB twin replays the
    ENTIRE LSH pipeline in SQL (LCG plane components → signatures →
    band buckets → candidate equi-join → exact re-score → top-k),
    which is exactly why ``_plane_component`` is an LCG and not a
    seeded xxhash64. At 100 TB the exact side is only computed for the
    bounded query sample (50 vectors here) — recall auditing is always
    sampled; the corpus side stays the banded equi-join."""
    return _recall_vs_exact(
        cosine_topk(spark, sf_dir), ann_lsh_topk(spark, sf_dir)
    )


def ivf_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF ANN vs exact brute force, per query. The
    DuckDB twin replays the IVF pipeline (quantized per-label
    centroids → cell ranking → N_PROBE probing → exact re-score)."""
    return _recall_vs_exact(cosine_topk(spark, sf_dir), ivf_topk(spark, sf_dir))


#: DuckDB twins start from ``vn``, every vector with its norm, and
#: ``all_pairs``, the brute-force candidate set (each query with
#: every other vector). DuckDB does not run a CTE nothing reads.
_SQL_VN = f"""vn AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
),
all_pairs AS (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
    FROM embeddings q JOIN embeddings n
      ON q.vec_id < {N_QUERIES} AND q.vec_id <> n.vec_id
)"""

#: cosine of a candidate pair over its ``q``/``n`` rows of ``vn``
_SQL_COSINE = "list_dot_product(q.e, n.e) / (q.nrm * n.nrm) AS score"


def _sql_scored(name: str, cand: str, table: str, score: str) -> str:
    """CTE ``name``: the (query_id, neighbor_id) pairs of ``cand``
    with ``score``, an expression over their ``table`` rows ``q`` and
    ``n``."""
    return f"""{name} AS (
    SELECT c.query_id, c.neighbor_id, {score}
    FROM {cand} c JOIN {table} q ON q.vec_id = c.query_id
    JOIN {table} n ON n.vec_id = c.neighbor_id
)"""


def _sql_topk(src: str, order: str) -> str:
    """:func:`_top_k`'s twin: the rows of ``src`` with ``rank``, the
    row number per query by ``order`` then neighbor_id, cut at
    TOP_K."""
    return f"""SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY {order}, neighbor_id) AS rank
    FROM {src})
WHERE rank <= {TOP_K}"""


def _sql_cosine_topk(src: str) -> str:
    """:func:`_cosine_top_k`'s twin: the final select over ``src``."""
    return f"""SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       {sql_round("score", 8)} AS score
FROM ({_sql_topk(src, "score DESC")})"""


def _sql_recall(ann_order: str, exact_order: str) -> str:
    """:func:`_recall_vs_exact`'s twin, the tail of every recall
    oracle: the top-k of the ``ann_scored`` and ``exact_scored`` CTEs
    its prefix defines, joined per query."""
    return f"""ann_topk AS ({_sql_topk("ann_scored", ann_order)}),
exact_topk AS ({_sql_topk("exact_scored", exact_order)})
SELECT e.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS hits,
       count(a.neighbor_id)::DOUBLE / {TOP_K}.0::DOUBLE AS recall_at{TOP_K}
FROM exact_topk e LEFT JOIN ann_topk a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id"""


def _sql_cosine_recall(ann_order: str) -> str:
    """Recall tail against exact cosine (``cosine_topk``)."""
    return f"""{_sql_scored("exact_scored", "all_pairs", "vn", _SQL_COSINE)},
{_sql_recall(ann_order, "score DESC")}"""


COSINE_TOPK_ORACLE = f"""WITH {_SQL_VN},
{_sql_scored("exact_scored", "all_pairs", "vn", _SQL_COSINE)}
{_sql_cosine_topk("exact_scored")}"""


def _sql_probe(n_bands: int, bits: int, masks: tuple[int, ...]) -> str:
    """:func:`_bands` + :func:`_probe` over ``sigs`` (vec_id, w0, …):
    ``bands`` (vec_id, band, bkey), the query keys XOR each mask
    ``qbands``, and the distinct candidate pairs ``cand``."""
    per_word = 64 // bits
    words = ", ".join(f"w{i}" for i in range(-(-n_bands // per_word)))
    return f"""bands AS (
    SELECT vec_id, bd.band,
           ([{words}][bd.band // {per_word} + 1]
            >> ((bd.band % {per_word}) * {bits})) & {(1 << bits) - 1} AS bkey
    FROM sigs CROSS JOIN
         (SELECT unnest(generate_series(0, {n_bands - 1})) AS band) bd
),
qbands AS (
    SELECT vec_id, band, xor(bkey, pm.m) AS bkey
    FROM bands CROSS JOIN (SELECT unnest([{", ".join(map(str, masks))}]) AS m) pm
    WHERE vec_id < {N_QUERIES}
),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
    FROM qbands q JOIN bands n ON q.band = n.band AND q.bkey = n.bkey
    WHERE q.vec_id <> n.vec_id
)"""


def _lsh_ann_ctes(probe_masks: tuple[int, ...]) -> str:
    """CTE prefix replaying ``_ann_lsh_topk_impl`` through
    ``ann_scored``: the LCG runs in BIGINT (INT32 would overflow), the
    projection is the same in-order product fold (list_dot_product),
    and the signature assembles as an order-independent integer sum
    into its one word ``w0``."""
    return f"""{_SQL_VN},
sigbits AS (
    SELECT vec_id,
           CASE WHEN list_dot_product(
               e,
               list_transform(generate_series(0, len(e) - 1),
                   d -> (({_LCG_A}::BIGINT * (pl.p * 65536 + d)::BIGINT
                          + {_LCG_C}) % {_LCG_M})
                        / {_LCG_M}.0 * 2.0 - 1.0)
           ) > 0 THEN (1::BIGINT << pl.p) ELSE 0::BIGINT END AS bit
    FROM vn CROSS JOIN
         (SELECT unnest(generate_series(0, {N_PLANES - 1})) AS p) pl
),
sigs AS (
    SELECT vec_id, CAST(sum(bit) AS BIGINT) AS w0 FROM sigbits
    GROUP BY vec_id
),
{_sql_probe(LSH_BANDS, BITS_PER_BAND, probe_masks)},
{_sql_scored("ann_scored", "cand", "vn", _SQL_COSINE)}"""


#: The LCG hyperplanes make even the "approximate" index exactly
#: reproducible cross-engine, so ``ann_lsh_topk`` and its multiprobe
#: form are hash-checked.
LSH_TOPK_ORACLE = f"WITH {_lsh_ann_ctes((0,))}\n{_sql_cosine_topk('ann_scored')}"
LSH_MULTIPROBE_TOPK_ORACLE = (
    f"WITH {_lsh_ann_ctes(PROBE_MASKS)}\n{_sql_cosine_topk('ann_scored')}"
)
LSH_RECALL_ORACLE = f"WITH {_lsh_ann_ctes((0,))},\n{_sql_cosine_recall('score DESC')}"
MULTIPROBE_LSH_RECALL_ORACLE = (
    f"WITH {_lsh_ann_ctes(PROBE_MASKS)},\n{_sql_cosine_recall('score DESC')}"
)


def ann_lsh_multiprobe_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of MULTI-PROBE hyperplane LSH vs exact brute force —
    same oracle-replayed pipeline as ``ann_lsh_recall_at10`` with the
    query side probing each band's Hamming-1 buckets."""
    return _recall_vs_exact(
        cosine_topk(spark, sf_dir), ann_lsh_multiprobe_topk(spark, sf_dir)
    )


#: Per-(label, dim) rows of the corpus: the input of both
#: ``label_centroids``' and ``embedding_centroids``' twins.
_SQL_LABEL_DIMS = """(
            SELECT label,
                   generate_subscripts(embedding, 1) - 1 AS dim,
                   unnest(embedding::DOUBLE[]) AS val
            FROM embeddings)"""

#: ``label_centroids``' twin: the integer-summed 1e-9 quantized mean.
_SQL_LABEL_CENTS = f"""cents AS (
    SELECT cell, list(cv ORDER BY dim) AS cvec FROM (
        SELECT label AS cell, dim,
               {sql_quantized_sum("val", 9)} / count(*) AS cv
        FROM {_SQL_LABEL_DIMS}
        GROUP BY label, dim)
    GROUP BY cell
)"""


def _sql_ranked_cells(src: str) -> str:
    """``_ranked_cells``' twin: ``cents`` and ``ranked_cells`` (vec_id,
    e, nrm, cell, cr) over the ``src`` CTE (vec_id, e, nrm), with the
    same (cosine DESC, cell) tie-break."""
    return f"""{_SQL_LABEL_CENTS},
ranked_cells AS (
    SELECT vec_id, e, nrm, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cell_score DESC, cell) AS cr
    FROM (
        SELECT v.vec_id, v.e, v.nrm, c.cell,
               list_dot_product(v.e, c.cvec)
                 / (v.nrm * sqrt(list_dot_product(c.cvec, c.cvec)))
                 AS cell_score
        FROM {src} v CROSS JOIN cents c)
)"""


#: SQL replay of ``ivf_topk``'s index through cell probing. Shared by
#: the IVF oracles (which add exact in-cell scoring) and the IVF-PQ
#: oracles (which add ADC).
_IVF_INDEX_CTES = f"""{_SQL_VN},
{_sql_ranked_cells("vn")},
idx AS (
    SELECT vec_id AS neighbor_id, e AS be, nrm AS bn, cell
    FROM ranked_cells WHERE cr = 1
),
probes AS (
    SELECT vec_id AS query_id, e AS qe, nrm AS qn, cell
    FROM ranked_cells WHERE cr <= {N_PROBE} AND vec_id < {N_QUERIES}
)"""

_IVF_ANN_CTES = f"""{_IVF_INDEX_CTES},
ann_scored AS (
    SELECT p.query_id, i.neighbor_id,
           list_dot_product(p.qe, i.be) / (p.qn * i.bn) AS score
    FROM probes p JOIN idx i USING (cell)
    WHERE p.query_id <> i.neighbor_id
)"""

IVF_RECALL_ORACLE = f"WITH {_IVF_ANN_CTES},\n{_sql_cosine_recall('score DESC')}"

#: ``ivf_topk``'s own oracle — quantized centroids make the whole
#: index deterministic, so the approximate result itself hash-checks.
IVF_TOPK_ORACLE = f"WITH {_IVF_ANN_CTES}\n{_sql_cosine_topk('ann_scored')}"


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dim) — posexplode +
    groupBy (shuffle carries (label, dim, partial sums), not vectors).
    Quantized sums keep the oracle exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        F.posexplode(_as_double(F.col("embedding"))).alias("dim", "val"),
    )
    return exploded.groupBy("label", "dim").agg(
        stable_round(quantized_avg("val", 9), 8).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


CENTROID_ORACLE = f"""
SELECT label, CAST(dim AS INT) AS dim,
       {sql_round(f'{sql_quantized_sum("val", 9)} / count(*)', 8)}
         AS centroid_val,
       count(*) AS n_vectors
FROM {_SQL_LABEL_DIMS}
GROUP BY label, dim
"""


DUP_OFFSET = 100_000
NEAR_DUP_THRESHOLD = 0.99


def embedding_near_dup_pairs(
    emb: DataFrame, threshold: float = NEAR_DUP_THRESHOLD, blocked: bool = False
) -> DataFrame:
    """[north-star] N2 embedding-cosine near-dup: all pairs with cosine
    >= threshold. Norms computed once per side; ``blocked=True`` routes
    pair generation through hyperplane-LSH band buckets (the 100 TB
    path: near-identical vectors share all band keys, so the self-join
    is per-bucket instead of O(n²); exact cosine then verifies each
    candidate). The unblocked form is the oracle-checkable baseline."""
    v = (
        emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
        .withColumn("n", norm(F.col("v")))
    )
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n"))
    if blocked:
        banded = _lsh_bands(v)
        pairs = (
            banded.alias("a")
            .join(
                banded.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select("a.vec_id", "a.v", "a.n", "b.vec_id", "b.v", "b.n")
            .distinct()
        )
    else:
        pairs = v.alias("a").join(
            v.alias("b"), F.col("a.vec_id") < F.col("b.vec_id")
        )
    return pairs.select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        stable_round(cos, 8).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup over a simulated re-ingestion: the corpus
    unioned with an id-offset copy of itself. Every vector must pair
    with exactly its copy at cosine ~1.0 (the corpus has no natural
    pairs above 0.52, measured).

    Registered with ``blocked=True`` — the hyperplane-LSH bucketed
    plan (per-bucket equi-join, no BroadcastNestedLoopJoin). The
    all-pairs DuckDB oracle still hash-matches because exact
    duplicates have identical signatures, hence share every band key:
    recall on cosine≈1.0 pairs is structurally 1.0, and the exact
    cosine filter keeps precision exact. The unblocked baseline
    remains available as ``embedding_near_dup_pairs(blocked=False)``
    for bounded candidate sets."""
    emb = load_table(spark, sf_dir, "embeddings")
    doubled = emb.select("vec_id", "embedding").unionByName(
        emb.select(
            (F.col("vec_id") + DUP_OFFSET).alias("vec_id"), F.col("embedding")
        )
    )
    return embedding_near_dup_pairs(doubled, blocked=True)


EMBEDDING_NEAR_DUP_ORACLE = f"""
WITH doubled AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + {DUP_OFFSET}, embedding FROM embeddings
),
v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
    FROM doubled
)
SELECT vec_a, vec_b, cosine
FROM (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           floor((list_dot_product(a.e, b.e) / (a.n * b.n)) * 100000000.0 + 0.5)
             / 100000000.0 AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
)
WHERE cosine >= {NEAR_DUP_THRESHOLD}
"""


def _sqdist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _vector_blocks(df: DataFrame, id_col: str, vec_col: str, m: int) -> DataFrame:
    """(id, block, bv): the ``m`` contiguous sub-vector slices of
    every vector, one row per (vector, subspace)."""
    sub = (F.size(vec_col) / F.lit(m)).cast("int")
    return df.select(
        id_col, F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("block"), vec_col
    ).select(
        id_col,
        "block",
        F.slice(F.col(vec_col), F.col("block") * sub + 1, sub).alias("bv"),
    )


def _nearest_code(blocks: DataFrame, codebook: DataFrame) -> DataFrame:
    """``blocks`` (id, block, bv) plus the nearest codeword of their
    block: ``code_id`` and its squared distance ``d``. The argmin runs
    against the broadcast codebook, so the vectors never shuffle for
    it; ties break on code_id."""
    w = Window.partitionBy(blocks.columns[0], "block").orderBy("d", "code_id")
    return (
        blocks.join(F.broadcast(codebook.select("block", "code_id", "cvec")), "block")
        .withColumn("d", _sqdist(F.col("bv"), F.col("cvec")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("cvec", "rn")
    )


def lloyd(
    v: DataFrame,
    k: int,
    iters: int,
    m: int = 1,
    inertia_out: list | None = None,
) -> DataFrame:
    """Lloyd's k-means over a ``(vid, v)`` frame, run independently in
    each of ``m`` contiguous subspaces in one keyed pass (``block`` is
    one more grouping key): ``m = 1`` is k-means, ``m = PQ_M`` trains
    the PQ codebooks. Returns (block, code_id, cvec, n), at most m*k
    rows — a broadcast table at any corpus size.

    Deterministic and bit-identical to its DuckDB twin
    (:func:`_lloyd_ctes`): the seeds are the k lowest-vid vectors (one
    collect, bounded by k; their length gives the dimension), a round
    assigns with :func:`_nearest_code` and updates with
    :func:`_quantized_mean`. A code that loses all its members drops
    out, so a block can end with fewer than k codes. The codebook is
    checkpointed every round: the next round reads it, and recomputing
    it would rescan the corpus.

    ``inertia_out``: audit mode — when a list is passed, the inertia
    after every update (Σ per-block min squared distance) is appended,
    at one extra assignment pass per round."""
    seeds = [r["v"] for r in v.orderBy("vid").limit(k).collect()]
    if not seeds:
        raise ValueError("lloyd: no input vectors")
    dim = len(seeds[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    cb = local_frame(
        v.sparkSession,
        [
            (b, c, s[b * sub : (b + 1) * sub])
            for b in range(m)
            for c, s in enumerate(seeds, 1)
        ],
        "block int, code_id int, cvec array<double>",
    )
    blocks = _vector_blocks(v, "vid", "v", m)
    for _ in range(iters):
        cb = _quantized_mean(
            _nearest_code(blocks, cb), ["block", "code_id"], "bv"
        ).localCheckpoint(eager=True)
        if inertia_out is not None:
            inertia_out.append(_nearest_code(blocks, cb).agg(F.sum("d")).first()[0])
    return cb


def _sql_code_dists(codebook: str, where: str = "") -> str:
    """Every ``blocks`` row (vid, block, bv) against every codeword of
    ``codebook`` in its block, with squared distance ``d``:
    ``list_dot_product(df, df)`` reproduces ``_sqdist``'s in-order
    fold."""
    return f"""SELECT vid, block, bv, code_id, list_dot_product(df, df) AS d
        FROM (
            SELECT bl.vid, bl.block, bl.bv, cb.code_id,
                   list_transform(generate_series(1, len(bl.bv)),
                                  x -> bl.bv[x] - cb.cvec[x]) AS df
            FROM blocks bl JOIN {codebook} cb USING (block){where})"""


def _assign_cte(name: str, codebook: str, where: str = "") -> str:
    """``_nearest_code``'s twin: ``rn = 1`` marks each block's nearest
    codeword, ties on code_id."""
    return f"""{name} AS (
    SELECT vid, block, bv, code_id,
           row_number() OVER (PARTITION BY vid, block
                              ORDER BY d, code_id) AS rn
    FROM ({_sql_code_dists(codebook, where)})
)"""


def _lloyd_ctes(m: int, k: int, iters: int, train_where: str = "") -> str:
    """CTE prefix replaying :func:`lloyd` in DuckDB over ``vn``
    (vec_id, e): ``blocks`` (1-based ``list_slice`` == ``F.slice``),
    seeds ``cb0`` (the k lowest vids), then ``iters`` unrolled rounds
    ``asg{i}``/``cb{i}`` — cb{i} is (block, code_id, cvec, n) with the
    integer-summed 1e-9 quantized mean. ``train_where`` (a ``WHERE``
    on ``bl.vid``) restricts seeds and rounds to a training sample."""
    sub = f"(len(e) // {m})"
    ctes = [
        f"""blocks AS (
    SELECT vec_id AS vid, bl.block,
           list_slice(e, bl.block * {sub} + 1, (bl.block + 1) * {sub}) AS bv
    FROM vn CROSS JOIN
         (SELECT unnest(generate_series(0, {m - 1})) AS block) bl
)""",
        f"""cb0 AS (
    SELECT block, code_id, bv AS cvec FROM (
        SELECT block, bv,
               row_number() OVER (PARTITION BY block ORDER BY vid) AS code_id
        FROM blocks bl{train_where})
    WHERE code_id <= {k}
)""",
    ]
    for i in range(1, iters + 1):
        ctes.append(_assign_cte(f"asg{i}", f"cb{i - 1}", train_where))
        ctes.append(
            f"""cb{i} AS (
    SELECT block, code_id, list(cv ORDER BY dim) AS cvec, min(n) AS n
    FROM (
        SELECT block, code_id, dim,
               {sql_quantized_sum("val", 9)} / count(*) AS cv,
               count(*) AS n
        FROM (
            SELECT block, code_id, generate_subscripts(bv, 1) AS dim,
                   unnest(bv) AS val
            FROM asg{i} WHERE rn = 1)
        GROUP BY block, code_id, dim)
    GROUP BY block, code_id
)"""
        )
    return ",\n".join(ctes)


KMEANS_K = 8
KMEANS_ITERS = 5


def kmeans_fit(
    vectors: DataFrame,
    k: int = KMEANS_K,
    n_iter: int = KMEANS_ITERS,
    inertia_out: list | None = None,
) -> DataFrame:
    """k-means over the (vec_id, embedding) rows of ``vectors``: the
    ``m = 1`` call of :func:`lloyd`. Returns (cluster_id, centroid,
    n_assigned)."""
    v = vectors.select(
        F.col("vec_id").alias("vid"), _as_double(F.col("embedding")).alias("v")
    )
    return lloyd(v, k, n_iter, inertia_out=inertia_out).select(
        F.col("code_id").alias("cluster_id"),
        F.col("cvec").alias("centroid"),
        F.col("n").alias("n_assigned"),
    )


def kmeans_inertia(vectors: DataFrame, centroids: DataFrame) -> float:
    """Σ min-squared-distance — the convergence metric."""
    v = vectors.select(_as_double(F.col("embedding")).alias("v"), "vec_id")
    d = (
        v.crossJoin(F.broadcast(centroids.select(F.col("centroid").alias("cv"))))
        .groupBy("vec_id")
        .agg(F.min(_sqdist(F.col("v"), F.col("cv"))).alias("d"))
    )
    return d.agg(F.sum("d")).collect()[0][0]


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-vector Lloyd's clustering certificate: (cluster_id,
    n_assigned, centroid_norm) after KMEANS_ITERS rounds. Hash-oracled:
    ``KMEANS_EMBEDDINGS_ORACLE`` replays :func:`lloyd` with
    :func:`_lloyd_ctes` at m = 1, so the centroids themselves are
    attested, not just convergence booleans."""
    emb = load_table(spark, sf_dir, "embeddings")
    fitted = kmeans_fit(emb)
    return fitted.select(
        F.col("cluster_id").cast("int").alias("cluster_id"),
        "n_assigned",
        stable_round(norm(F.col("centroid")), 6).alias("centroid_norm"),
    )


KMEANS_EMBEDDINGS_ORACLE = f"""WITH {_SQL_VN},
{_lloyd_ctes(1, KMEANS_K, KMEANS_ITERS)}
SELECT CAST(code_id AS INT) AS cluster_id,
       CAST(n AS BIGINT) AS n_assigned,
       floor(sqrt(list_dot_product(cvec, cvec)) * 1000000.0 + 0.5)
         / 1000000.0 AS centroid_norm
FROM cb{KMEANS_ITERS}
"""


def kmeans_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-attestable k-means convergence certificate (the
    tolerance-boolean contract of ``hll_vocab_rollup``): one row with
    the EXACT corpus/assignment counts both engines can compute, plus
    booleans only the training run can assert — per-iteration inertia
    non-increasing (Lloyd's guarantee, with 1e-6 relative slack for
    the 1e-9 centroid quantization) and final-vs-first non-increase
    (non-strict: instant convergence is success, not a failure).
    The DuckDB twin recomputes the counts and asserts TRUE,
    so a hash match proves full assignment coverage AND convergence.
    The inertia trajectory costs one extra broadcast-assignment pass
    per iteration — audit mode only, never the training path."""
    emb = load_table(spark, sf_dir, "embeddings")
    traj: list[float] = []
    fitted = kmeans_fit(emb, inertia_out=traj)
    monotone = all(
        traj[i] <= traj[i - 1] * (1.0 + 1e-6) for i in range(1, len(traj))
    )
    # non-strict: a corpus whose assignments are already stable after
    # the first update has traj[-1] == traj[0] bit-for-bit — that is
    # correct convergence, not a failure, and must not flake the hash
    final_le_first = traj[-1] <= traj[0]
    counts = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    assigned = fitted.agg(
        F.sum("n_assigned").cast("long").alias("n_assigned_total")
    )
    return counts.crossJoin(assigned).select(
        F.lit(KMEANS_K).alias("k"),
        "n_vectors",
        "n_assigned_total",
        F.lit(KMEANS_ITERS).alias("iters"),
        F.lit(bool(monotone)).alias("inertia_monotone"),
        F.lit(bool(final_le_first)).alias("inertia_final_le_first"),
    )


#: ``matryoshka_topk``'s exact cosine over the truncated vectors
_SQL_MATRYOSHKA = f"""{_SQL_VN},
vt AS (
    SELECT vec_id, list_slice(e, 1, {MATRYOSHKA_DIMS}) AS e,
           sqrt(list_dot_product(list_slice(e, 1, {MATRYOSHKA_DIMS}),
                                 list_slice(e, 1, {MATRYOSHKA_DIMS}))) AS nrm
    FROM vn
),
{_sql_scored("ann_scored", "all_pairs", "vt", _SQL_COSINE)}"""

MATRYOSHKA_TOPK_ORACLE = f"WITH {_SQL_MATRYOSHKA}\n{_sql_cosine_topk('ann_scored')}"
MATRYOSHKA_RECALL_ORACLE = (
    f"WITH {_SQL_MATRYOSHKA},\n{_sql_cosine_recall('score DESC')}"
)


KMEANS_CONVERGENCE_ORACLE = f"""
SELECT {KMEANS_K} AS k,
       count(*) AS n_vectors,
       count(*) AS n_assigned_total,
       {KMEANS_ITERS} AS iters,
       TRUE AS inertia_monotone,
       TRUE AS inertia_final_le_first
FROM embeddings
"""


PQ_M = 4  # subspaces
PQ_K = 32  # codewords per subspace -> 5-bit codes
PQ_ITERS = 4
#: sampled-training variant: train codebooks on a FIXED-SIZE sample
#: (every (n // PQ_TRAIN_TARGET)-th vector), not a fixed fraction —
#: codebook quality is a function of samples PER CODEWORD, so the
#: right production recipe keeps the training set ~constant while
#: the corpus grows (training cost O(target), not O(n)). 256 here is
#: the test-scale floor (8 samples/codeword at k=32) so the sampling
#: path actually engages at sf0.01; production targets 100-1000
#: samples/codeword (k * 1000 is the common rule).
PQ_TRAIN_TARGET = 256


def _codebooks(emb: DataFrame, sampled: bool = False) -> DataFrame:
    """PQ codebooks of the (vec_id, v) corpus ``emb``: :func:`lloyd`
    with ``m = PQ_M``, trained once per call. ``sampled`` trains on
    every ``max(1, n // PQ_TRAIN_TARGET)``-th vector (one count, a
    driver scalar), so the training set stays ~PQ_TRAIN_TARGET rows
    at any scale."""
    if sampled:
        mod = max(1, emb.count() // PQ_TRAIN_TARGET)
        emb = emb.filter(F.col("vec_id") % mod == 0)
    return lloyd(emb.withColumnRenamed("vec_id", "vid"), PQ_K, PQ_ITERS, PQ_M)


def _adc_tables(
    emb: DataFrame, codebooks: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(codes, adc) for asymmetric distance computation over the
    (vec_id, v) corpus ``emb``:

    - codes (neighbor_id, block, code_id): every vector's nearest
      codeword per subspace. 64 float32 dims (256 B) compress to
      PQ_M=4 5-bit codes (2.5 B packed), ~102x less to scan.
    - adc (query_id, block, code_id, dq): each query sub-vector's
      squared distance to every codeword of its block as 1e-9 longs,
      so a neighbor's PQ_M-term sum is exact in any aggregation
      order. m*k rows per query — broadcast."""
    blocks = _vector_blocks(emb, "vec_id", "v", PQ_M)
    codes = _nearest_code(blocks, codebooks).select(
        F.col("vec_id").alias("neighbor_id"), "block", "code_id"
    )
    adc = (
        blocks.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(codebooks), "block")
        .select(
            F.col("vec_id").alias("query_id"),
            "block",
            "code_id",
            F.floor(
                _sqdist(F.col("bv"), F.col("cvec")) * 1e9 + F.lit(0.5)
            ).alias("dq"),
        )
    )
    return codes, adc


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-k (the third ANN scale path beside LSH
    and IVF — compression rather than candidate pruning): score each
    neighbor by summing, per subspace, the precomputed distance from
    the query's sub-vector to the neighbor's CODEWORD (asymmetric
    distance computation, :func:`_adc_tables`), so scoring scans only
    the codes, never the vectors. Hash-checked end-to-end: the
    DuckDB twin (``PQ_TOPK_ORACLE``) replays train+encode+ADC
    bit-for-bit. At 100 TB, compose with IVF cells to prune before
    the ADC scan."""
    emb = _corpus_vectors(spark, sf_dir)
    return _pq_adc_topk(emb, _codebooks(emb))


def pq_topk_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-k with codebooks trained on a FIXED-SIZE
    deterministic sample — every ``max(1, n // PQ_TRAIN_TARGET)``-th
    vector — the production training recipe: codebook quality is a
    function of samples per codeword, so the training set should stay
    ~constant while the corpus grows (training cost O(target) instead
    of O(n); at 100 TB, full-corpus Lloyd's is nothing but wasted
    shuffle volume). The encode and ADC passes still cover every
    vector. Same DuckDB replay as ``pq_topk`` with the training CTEs
    filtered to the sample (the modulus is computed IN SQL from the
    corpus count, so the twin adapts to any sf), hash-checked
    end-to-end; ``pq_sampled_recall_at10`` documents the quality
    delta vs full-corpus training."""
    emb = _corpus_vectors(spark, sf_dir)
    return _pq_adc_topk(emb, _codebooks(emb, sampled=True))


def pq_sampled_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of sample-trained PQ-ADC vs exact L2 — quantifies
    what the O(target) training cut costs in answer quality. Measured
    at sf0.01 (mod=3, 334 training vectors): mean recall 0.306 —
    identical to full-corpus training (``pq_recall_at10`` 0.306); the
    m=4/k=32 compression, not the training set, dominates the error.
    A naive FIXED-FRACTION 1/8 sample at the same scale (4 samples/
    codeword) halves recall to 0.15 — which is exactly why the
    modulus must scale with the corpus."""
    return _recall_vs_exact(
        exact_l2_topk(spark, sf_dir), pq_topk_sampled(spark, sf_dir)
    )


def _pq_adc_topk(emb: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Shared ADC + window-top-k tail of the PQ searches."""
    codes, adc = _adc_tables(emb, codebooks)
    scored = (
        codes.join(F.broadcast(adc), ["block", "code_id"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg((F.sum("dq") / F.lit(1e9)).alias("approx_dist"))
    )
    return _top_k(scored, "approx_dist").withColumn(
        "approx_dist", stable_round(F.col("approx_dist"), 8)
    )


def exact_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Euclidean top-k (the reference metric for PQ, which
    quantizes L2 distances — cosine would grade it against the wrong
    objective). Same broadcast-queries / window-top-k shape as
    :func:`cosine_topk`. Not registered: it exists as the recall
    reference for ``pq_recall_at10``."""
    emb = _corpus_vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    base = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("bv")
    )
    scored = base.join(
        F.broadcast(queries), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        _sqdist(F.col("qv"), F.col("bv")).alias("d"),
    )
    return _top_k(scored, "d").select("query_id", "neighbor_id")


def pq_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PQ-ADC vs exact L2 — the quality number for the
    compression-based ANN path, hash-checked: the DuckDB twin replays
    codebook training, encoding, ADC scoring AND the exact L2
    reference, so the per-query hit counts must agree exactly."""
    return _recall_vs_exact(exact_l2_topk(spark, sf_dir), pq_topk(spark, sf_dir))


def ivfpq_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF-PQ (cell-pruned, ADC-shortlisted, exact
    cosine re-rank) vs exact cosine brute force."""
    return _recall_vs_exact(
        cosine_topk(spark, sf_dir), ivfpq_topk(spark, sf_dir)
    )


IVFPQ_SHORTLIST = 3 * TOP_K  # ADC shortlist size before exact re-rank


def ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composed production ANN recipe: IVF cells prune
    the corpus (each query probes N_PROBE cells), PQ-ADC scores only
    the pruned candidates from 5-bit codes, and the top
    ``IVFPQ_SHORTLIST`` per query are re-ranked by EXACT cosine (the
    standard shortlist + re-rank). At 100 TB: the scan touches one
    cell list in compressed codes; exact vectors are fetched for ~30
    rows per query. Hash-checked end-to-end (``IVFPQ_TOPK_ORACLE``):
    quantized-mean codebooks + quantized ADC sums make every stage —
    IVF probe, ADC shortlist, exact re-rank — cross-engine
    deterministic; recall vs exact additionally asserted in tests."""
    emb = _corpus_vectors(spark, sf_dir)
    ranked_cells = _ranked_cells(emb, load_table(spark, sf_dir, "embeddings"))
    index = ranked_cells.filter(F.col("cr") == 1).select(
        F.col("vec_id").alias("neighbor_id"), "cell"
    )
    probes = ranked_cells.filter(
        (F.col("cr") <= N_PROBE) & (F.col("vec_id") < N_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), "cell")
    codes, adc = _adc_tables(emb, _codebooks(emb))
    # ---- candidates = IVF-pruned pairs; score from codes only
    cand = probes.join(index, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id").distinct()
    adc_scored = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(adc), ["query_id", "block", "code_id"])
        .groupBy("query_id", "neighbor_id")
        .agg((F.sum("dq") / F.lit(1e9)).alias("approx_dist"))
    )
    w_sl = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id")
    )
    shortlist = (
        adc_scored.withColumn("sr", F.row_number().over(w_sl))
        .filter(F.col("sr") <= IVFPQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    # ---- exact cosine re-rank of the shortlist only
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    bv = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("bv"))
    return _cosine_top_k(
        shortlist.join(qv, "query_id")
        .join(bv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("bv")).alias("score"),
        )
    )


def _pq_ctes(sample_mod_sql: str | None = None) -> str:
    """CTE prefix replaying PQ train + encode + ADC in DuckDB over
    ``vn``: :func:`_lloyd_ctes` at ``m = PQ_M``, then ``ncodes`` (the
    final assignment, ``_adc_tables``' codes) and ``adc``
    (per-(query, block, code) distances as 1e-9 longs). With
    ``sample_mod_sql`` (a SQL expression for the sampling modulus)
    only training sees the ``vid % mod = 0`` sample; encode and ADC
    cover the whole corpus."""
    train_where = (
        f" WHERE bl.vid % {sample_mod_sql} = 0" if sample_mod_sql else ""
    )
    return f"""{_lloyd_ctes(PQ_M, PQ_K, PQ_ITERS, train_where)},
{_assign_cte("enc", f"cb{PQ_ITERS}")},
ncodes AS (
    SELECT vid AS neighbor_id, block, code_id FROM enc WHERE rn = 1
),
adc AS (
    SELECT vid AS query_id, block, code_id,
           CAST(floor(d * 1000000000.0 + 0.5) AS BIGINT) AS dq
    FROM ({_sql_code_dists(f"cb{PQ_ITERS}", f" WHERE bl.vid < {N_QUERIES}")})
)"""


#: PQ-ADC distance of every (query, neighbor), as in ``_pq_adc_topk``.
_SQL_PQ_SCORED = """ann_scored AS (
    SELECT a.query_id, n.neighbor_id,
           sum(a.dq) / 1000000000.0 AS approx_dist
    FROM ncodes n JOIN adc a ON n.block = a.block AND n.code_id = a.code_id
    WHERE a.query_id <> n.neighbor_id
    GROUP BY a.query_id, n.neighbor_id
)"""

#: Exact squared L2 distances: the PQ recall ground truth.
_SQL_EXACT_L2 = """exact_scored AS (
    SELECT query_id, neighbor_id, list_dot_product(df, df) AS d
    FROM (
        SELECT c.query_id, c.neighbor_id,
               list_transform(generate_series(1, len(q.e)),
                              x -> q.e[x] - n.e[x]) AS df
        FROM all_pairs c JOIN vn q ON q.vec_id = c.query_id
        JOIN vn n ON n.vec_id = c.neighbor_id)
)"""


def _pq_topk_sql(sample_mod_sql: str | None = None) -> str:
    return f"""WITH {_SQL_VN},
{_pq_ctes(sample_mod_sql)},
{_SQL_PQ_SCORED}
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       {sql_round("approx_dist", 8)} AS approx_dist
FROM ({_sql_topk("ann_scored", "approx_dist")})"""


def _pq_recall_sql(sample_mod_sql: str | None = None) -> str:
    return f"""WITH {_SQL_VN},
{_pq_ctes(sample_mod_sql)},
{_SQL_PQ_SCORED},
{_SQL_EXACT_L2},
{_sql_recall("approx_dist", "d")}"""


#: sampling modulus computed in SQL from the corpus count — the twin
#: adapts to any scale factor exactly like the Spark side's
#: ``emb.count() // PQ_TRAIN_TARGET``.
_PQ_MOD_SQL = f"(SELECT GREATEST(1, count(*) // {PQ_TRAIN_TARGET}) FROM vn)"

PQ_TOPK_ORACLE = _pq_topk_sql()
PQ_TOPK_SAMPLED_ORACLE = _pq_topk_sql(_PQ_MOD_SQL)
PQ_RECALL_ORACLE = _pq_recall_sql()
PQ_SAMPLED_RECALL_ORACLE = _pq_recall_sql(_PQ_MOD_SQL)

#: ``ivfpq_topk`` through the exact re-rank: IVF-pruned candidates,
#: ADC shortlist, exact cosine ``ann_scored``.
_IVFPQ_ANN_CTES = f"""{_IVF_INDEX_CTES},
{_pq_ctes()},
cand AS (
    SELECT DISTINCT p.query_id, i.neighbor_id
    FROM probes p JOIN idx i USING (cell)
    WHERE p.query_id <> i.neighbor_id
),
adc_scored AS (
    SELECT c.query_id, c.neighbor_id,
           sum(a.dq) / 1000000000.0 AS approx_dist
    FROM cand c
    JOIN ncodes n ON n.neighbor_id = c.neighbor_id
    JOIN adc a ON a.query_id = c.query_id AND a.block = n.block
              AND a.code_id = n.code_id
    GROUP BY c.query_id, c.neighbor_id
),
shortlist AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx_dist ASC, neighbor_id) AS sr
        FROM adc_scored)
    WHERE sr <= {IVFPQ_SHORTLIST}
),
{_sql_scored("ann_scored", "shortlist", "vn", _SQL_COSINE)}"""

IVFPQ_TOPK_ORACLE = f"WITH {_IVFPQ_ANN_CTES}\n{_sql_cosine_topk('ann_scored')}"
IVFPQ_RECALL_ORACLE = f"WITH {_IVFPQ_ANN_CTES},\n{_sql_cosine_recall('score DESC')}"


# ------------------------------- binary (sign-bit) quantization ANN


def sign_words(col: str, offsets: tuple[int, ...]) -> Column:
    """Embedding column ``col`` → ``array<bigint>`` signature, one
    64-bit word per offset over the first 64 dims. Bit i of the
    offset-0 word is set iff dim i > 0 (the sign bits); bit i of an
    offset-k word is set iff dim i > dim (i + k) mod 64. Dims are read
    with ``try_element_at``, so a dim the vector lacks gives a 0 bit,
    as the twin's NULL list index does. Each word is a pure-JVM
    shiftleft/OR fold; bit 63 lands on the sign bit, which is fine —
    all downstream math is XOR/POPCNT/mask. DuckDB twin:
    :func:`_sql_sigs`."""

    def word(off: int) -> Column:
        other = "0" if off == 0 else f"try_element_at({col}, pmod(i + {off}, 64) + 1)"
        return F.expr(
            f"""aggregate(
                  transform(sequence(0, 63),
                            i -> IF(try_element_at({col}, i + 1) > {other},
                                    shiftleft(1L, i), 0L)),
                  0L, (acc, b) -> acc | b)"""
        )

    return F.array(*[word(off) for off in offsets])


#: Multi-index Hamming bands: each 64-bit signature word splits into
#: MIH_BANDS 8-bit substrings; by pigeonhole, any neighbor within
#: Hamming distance (bands - 1) shares at least one band EXACTLY, so
#: band equality is a lossless candidate filter at that radius
#: (Norouzi et al., multi-index hashing). 8-bit bands, because random
#: sign bits almost never collide on a 16-bit band.
MIH_BANDS = 8
MIH_BITS = 8

#: MIH multiprobe flips: probing each 8-bit band key at Hamming <= 1
#: in key space (the exact key + its 8 one-bit flips) widens the
#: pigeonhole radius from bands - 1 to 2 * bands - 1: if the total
#: distance is below 2 * bands, some band carries <= 1 of it — each
#: index searched to radius floor(r/m), as in Norouzi et al. 9x the
#: query-side keys; the join stays a (band, key) equi-join.
MIH_PROBE_FLIPS = (0,) + tuple(1 << i for i in range(MIH_BITS))

#: Multi-word signatures: the general form past 64 dims is one word
#: per 64 dims. The corpus here is 64-dim, so words 1.. are a WIDENED
#: FIXTURE of rank-order features ``x[i] > x[(i + offset) mod 64]`` —
#: pure float comparisons, so both engines derive bit-identical words
#: and the family stays integer-exact. No offset makes a bit another
#: bit's reversed comparison (2 * off != 0 mod 64) and no two words
#: share a dim pair.
MW_OFFSETS = (0, 1, 17)
MW_WORDS = len(MW_OFFSETS)
MW_TOTAL_BANDS = MW_WORDS * MIH_BANDS  # 24 bands of 8 bits over 192


def _mw_hamming(a: str, b: str, n_words: int) -> Column:
    """Hamming distance of two ``n_words``-word signatures: per-word
    XOR/POPCNT, unrolled at plan-build time so it stays inside
    whole-stage codegen."""
    return F.expr(
        " + ".join(f"bit_count({a}[{i}] ^ {b}[{i}])" for i in range(n_words))
    )


def _signatures(
    spark: SparkSession, sf_dir: str, offsets: tuple[int, ...]
) -> DataFrame:
    """(vec_id, sig): every embedding's :func:`sign_words` signature —
    a map-side shrink to 8 bytes per word before anything moves."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return emb.select("vec_id", sign_words("embedding", offsets).alias("sig"))


def _all_pairs(sigs: DataFrame) -> DataFrame:
    """Brute-force candidates: the bounded N_QUERIES query signatures
    broadcast against every corpus signature; the corpus never
    shuffles."""
    queries = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("sig").alias("q_sig")
    )
    return sigs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("sig").alias("n_sig")
    ).join(F.broadcast(queries), F.col("query_id") != F.col("neighbor_id"))


def _hamming_top_k(cand: DataFrame, n_words: int) -> DataFrame:
    """Exact-Hamming re-rank of (query_id, neighbor_id, q_sig, n_sig)
    candidates. Ties (Hamming is coarse) break on neighbor_id, and
    the math is integer-only, so the oracle is exact. Queries with
    fewer candidates than TOP_K return fewer rows in both engines."""
    return _top_k(
        cand.select(
            "query_id",
            "neighbor_id",
            _mw_hamming("q_sig", "n_sig", n_words).cast("int").alias("hamming"),
        ),
        "hamming",
    )


def _mih(
    spark: SparkSession,
    sf_dir: str,
    offsets: tuple[int, ...],
    masks: tuple[int, ...],
) -> DataFrame:
    """Multi-index Hamming search: MIH_BANDS bands of MIH_BITS per
    signature word, probed with ``masks``, then exact-Hamming re-rank
    of the candidates only. Bucketed and shuffle-partitionable: no
    broadcast nested loop at any size."""
    bands = _bands(
        _signatures(spark, sf_dir, offsets), len(offsets) * MIH_BANDS, MIH_BITS
    )
    return _hamming_top_k(_probe(bands, masks), len(offsets))


def binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN: sign-bit signatures compress each 64-dim
    float vector 32× into one word; neighbors rank by brute-force
    Hamming distance. This is the memory-bound regime binary
    embeddings target at 100 TB: each candidate costs one XOR +
    POPCNT."""
    return _hamming_top_k(_all_pairs(_signatures(spark, sf_dir, (0,))), 1)


def binary_hamming_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of sign-bit Hamming ANN vs exact cosine — how much
    quality the 32× compression costs on this corpus, same sampled-
    recall contract as the other ANN audits."""
    return _recall_vs_exact(
        cosine_topk(spark, sf_dir), binary_hamming_topk(spark, sf_dir)
    )


def binary_mih_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path of the binary family: multi-index Hamming over
    one word. By pigeonhole the candidate set contains every neighbor
    at Hamming distance <= MIH_BANDS - 1 = 7 (pinned by pytest on
    constructed close pairs — the corpus' random signs sit at expected
    distance 32); farther neighbors appear only if they share a band,
    the recall trade-off ``binary_mih_recall_at10`` measures."""
    return _mih(spark, sf_dir, (0,), (0,))


def binary_mih_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of multi-index Hamming vs exact cosine — the
    end-to-end quality of the fully-bucketed binary path (binary
    quantization loss + band-candidate loss together)."""
    return _recall_vs_exact(
        cosine_topk(spark, sf_dir), binary_mih_topk(spark, sf_dir)
    )


def binary_mih_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe MIH: ``binary_mih_topk`` with each query band key
    probed at the exact key plus its 8 one-bit flips, a provable
    radius-15 candidate guarantee (pinned by pytest)."""
    return _mih(spark, sf_dir, (0,), MIH_PROBE_FLIPS)


def binary_mih_multiprobe_recall_at10(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@10 of multiprobe MIH vs exact cosine. Probe supersets
    can only add candidates; total hits beat plain
    ``binary_mih_recall_at10`` (pinned by pytest)."""
    return _recall_vs_exact(
        cosine_topk(spark, sf_dir),
        binary_mih_multiprobe_topk(spark, sf_dir),
    )


def binary_multiword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force multi-word binary ANN: ``binary_hamming_topk`` over
    ``MW_OFFSETS`` signatures (192 bits here); distance is the summed
    per-word POPCNT."""
    return _hamming_top_k(
        _all_pairs(_signatures(spark, sf_dir, MW_OFFSETS)), MW_WORDS
    )


def binary_multiword_mih_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-index Hamming over multi-word signatures: MW_TOTAL_BANDS
    = 24 bands over 192 bits, so by pigeonhole any pair at Hamming <=
    23 shares a band exactly (pinned by pytest on constructed flips).
    Random signs sit at expected distance 96, so corpus candidates
    are band-collision-driven (~n*24/256 per query)."""
    return _mih(spark, sf_dir, MW_OFFSETS, (0,))


def binary_multiword_mih_recall_at10(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@10 of multi-word MIH vs BRUTE multi-word Hamming — the
    pure index loss of banding (both sides rank the same 192-bit
    signatures)."""
    return _recall_vs_exact(
        binary_multiword_topk(spark, sf_dir),
        binary_multiword_mih_topk(spark, sf_dir),
    )


def binary_multiword_mih_multiprobe_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multiprobe MIH over multi-word signatures: each of the 24
    query band keys probed at the exact key plus its 8 one-bit flips,
    so by pigeonhole any pair within Hamming 2*24 - 1 = 47 shares a
    probed band (pinned by pytest on constructed flips)."""
    return _mih(spark, sf_dir, MW_OFFSETS, MIH_PROBE_FLIPS)


def binary_multiword_mih_multiprobe_recall_at10(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@10 of multiprobe multi-word MIH vs BRUTE multi-word
    Hamming — same exact side as ``binary_multiword_mih_recall_at10``,
    so the delta is what the probe expansion buys at 192 bits (probe
    supersets can only add candidates; pinned by pytest)."""
    return _recall_vs_exact(
        binary_multiword_topk(spark, sf_dir),
        binary_multiword_mih_multiprobe_topk(spark, sf_dir),
    )


#: Asymmetric-distance quantization scale: query components quantize
#: to integer millionths (floor(x*1e6 + 0.5) — bit-identical per
#: value in both engines; float32 components are ~unit-scale so 64
#: terms stay far from BIGINT range), making the score integer-exact
#: and order-independent.
ASYM_SCALE = 1_000_000.0


def binary_asymmetric_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric binary ANN: the CORPUS stays sign-bit quantized (8
    bytes/vector) but the QUERY keeps its float vector, scoring
    sum_i(sig_bit_i ? q_i : -q_i) — the inner product against the
    un-normalized sign pattern (the asymmetric-distance idea of
    Jégou et al.'s ADC / Gordo & Perronnin). Query components
    quantize to integer millionths so the score is integer-exact
    cross-engine; ranking is DESC score, neighbor_id ties."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    sigs = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        sign_words("embedding", (0,))[0].alias("sig"),
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        # scale/half literals CAST to DOUBLE explicitly: bare decimal
        # literals parse as DECIMAL in both engines and the decimal
        # intermediate rounds differently at half boundaries
        F.expr(
            f"transform(slice(embedding, 1, 64),"
            f" x -> CAST(floor(x * CAST({int(ASYM_SCALE)} AS DOUBLE)"
            f" + CAST(0.5 AS DOUBLE)) AS BIGINT))"
        ).alias("ql"),
    )
    scored = sigs.join(
        F.broadcast(queries), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.expr(
            "aggregate(zip_with(ql, sequence(0, 63),"
            " (q, i) -> IF((shiftright(sig, i) & 1) = 1, q, -q)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("asym_score"),
    )
    return _top_k(scored, F.col("asym_score").desc())


def binary_asymmetric_recall_at10(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@10 of asymmetric binary scoring vs exact cosine — the
    accuracy recovered by keeping the query un-quantized, measured on
    the same sampled-recall contract as ``binary_hamming_recall_at10``
    (whose loss it should beat: only one side is quantized here)."""
    return _recall_vs_exact(
        cosine_topk(spark, sf_dir), binary_asymmetric_topk(spark, sf_dir)
    )


def _sql_sigs(offsets: tuple[int, ...]) -> str:
    """:func:`sign_words`' twin: ``sigs`` (vec_id, w0, …), one BIGINT
    per offset. An out-of-range list index is NULL, so a dim the
    vector lacks gives a 0 bit. DuckDB cannot shift 1::BIGINT by 63
    (overflow check), so bit 63 packs as the min-long literal;
    disjoint bits make the arithmetic sum equal bitwise OR, sign bit
    included."""

    def word(off: int) -> str:
        other = "0" if off == 0 else f"embedding[((i - 1 + {off}) % 64) + 1]"
        return f"""CAST(list_aggregate(list_transform(range(1, 65),
               i -> CASE WHEN embedding[i] > {other} THEN
                           CASE WHEN i = 64
                                THEN (-9223372036854775807)::BIGINT - 1
                                ELSE 1::BIGINT << (i - 1) END
                         ELSE 0::BIGINT END), 'sum') AS BIGINT)"""

    words = ",\n           ".join(
        f"{word(off)} AS w{i}" for i, off in enumerate(offsets)
    )
    return f"""sigs AS (
    SELECT vec_id,
           {words}
    FROM embeddings
)"""


def _sql_hamming(name: str, cand: str, n_words: int) -> str:
    """``_hamming_top_k``'s scorer over ``sigs``. DuckDB's bit_count
    returns TINYINT and three words can sum past 127, so each term
    widens to INT before the addition."""
    ham = " + ".join(
        f"bit_count(xor(q.w{i}, n.w{i}))::INT" for i in range(n_words)
    )
    return _sql_scored(name, cand, "sigs", f"{ham} AS hamming")


def _sql_brute(offsets: tuple[int, ...]) -> str:
    """CTE prefix through ``ann_scored``: the Hamming of all pairs."""
    return f"""{_SQL_VN},
{_sql_sigs(offsets)},
{_sql_hamming("ann_scored", "all_pairs", len(offsets))}"""


def _sql_mih(offsets: tuple[int, ...], masks: tuple[int, ...]) -> str:
    """``_mih``'s twin: CTE prefix through ``ann_scored``."""
    return f"""{_SQL_VN},
{_sql_sigs(offsets)},
{_sql_probe(len(offsets) * MIH_BANDS, MIH_BITS, masks)},
{_sql_hamming("ann_scored", "cand", len(offsets))}"""


def _sql_hamming_topk(ctes: str) -> str:
    return f"""WITH {ctes}
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       CAST(hamming AS INT) AS hamming
FROM ({_sql_topk("ann_scored", "hamming")})"""


def _sql_mw_recall(masks: tuple[int, ...]) -> str:
    """Multi-word MIH recall: the exact side is brute multi-word
    Hamming over the same signatures."""
    return f"""WITH {_sql_mih(MW_OFFSETS, masks)},
{_sql_hamming("exact_scored", "all_pairs", MW_WORDS)},
{_sql_recall("hamming", "hamming")}"""


BINARY_HAMMING_TOPK_ORACLE = _sql_hamming_topk(_sql_brute((0,)))
BINARY_HAMMING_RECALL_ORACLE = (
    f"WITH {_sql_brute((0,))},\n{_sql_cosine_recall('hamming')}"
)
BINARY_MIH_TOPK_ORACLE = _sql_hamming_topk(_sql_mih((0,), (0,)))
BINARY_MIH_RECALL_ORACLE = (
    f"WITH {_sql_mih((0,), (0,))},\n{_sql_cosine_recall('hamming')}"
)
BINARY_MIH_MULTIPROBE_TOPK_ORACLE = _sql_hamming_topk(
    _sql_mih((0,), MIH_PROBE_FLIPS)
)
BINARY_MIH_MULTIPROBE_RECALL_ORACLE = (
    f"WITH {_sql_mih((0,), MIH_PROBE_FLIPS)},\n{_sql_cosine_recall('hamming')}"
)
BINARY_MULTIWORD_TOPK_ORACLE = _sql_hamming_topk(_sql_brute(MW_OFFSETS))
BINARY_MULTIWORD_MIH_TOPK_ORACLE = _sql_hamming_topk(_sql_mih(MW_OFFSETS, (0,)))
BINARY_MULTIWORD_MIH_RECALL_ORACLE = _sql_mw_recall((0,))
BINARY_MULTIWORD_MIH_MULTIPROBE_TOPK_ORACLE = _sql_hamming_topk(
    _sql_mih(MW_OFFSETS, MIH_PROBE_FLIPS)
)
BINARY_MULTIWORD_MIH_MULTIPROBE_RECALL_ORACLE = _sql_mw_recall(MIH_PROBE_FLIPS)

#: The (w0 >> (i-1)) & 1 bit probe is shift-convention-proof (the
#: & 1 masks away arithmetic-shift sign fill, including bit 63).
_SQL_ASYM = f"""{_SQL_VN},
{_sql_sigs((0,))},
ql AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(x * {int(ASYM_SCALE)}::DOUBLE
                          + 0.5::DOUBLE) AS BIGINT)) AS q
    FROM embeddings WHERE vec_id < {N_QUERIES}
),
ann_scored AS (
    SELECT c.query_id, c.neighbor_id,
           CAST(list_aggregate(list_transform(range(1, 65),
               i -> CASE WHEN (n.w0 >> (i - 1)) & 1 = 1
                         THEN q.q[i] ELSE -q.q[i] END), 'sum')
                AS BIGINT) AS asym_score
    FROM all_pairs c JOIN ql q ON q.vec_id = c.query_id
    JOIN sigs n ON n.vec_id = c.neighbor_id
)"""

BINARY_ASYMMETRIC_TOPK_ORACLE = f"""WITH {_SQL_ASYM}
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, asym_score
FROM ({_sql_topk("ann_scored", "asym_score DESC")})"""
BINARY_ASYMMETRIC_RECALL_ORACLE = (
    f"WITH {_SQL_ASYM},\n{_sql_cosine_recall('asym_score DESC')}"
)


def _register() -> None:
    registry.register("cosine_topk", cosine_topk, COSINE_TOPK_ORACLE)
    registry.register("ann_lsh_topk", ann_lsh_topk, LSH_TOPK_ORACLE)
    registry.register(
        "ann_lsh_multiprobe_topk",
        ann_lsh_multiprobe_topk,
        LSH_MULTIPROBE_TOPK_ORACLE,
    )
    registry.register("ivf_topk", ivf_topk, IVF_TOPK_ORACLE)
    registry.register(
        "ann_lsh_recall_at10", ann_lsh_recall_at10, LSH_RECALL_ORACLE
    )
    registry.register(
        "ann_lsh_multiprobe_recall_at10",
        ann_lsh_multiprobe_recall_at10,
        MULTIPROBE_LSH_RECALL_ORACLE,
    )
    registry.register("ivf_recall_at10", ivf_recall_at10, IVF_RECALL_ORACLE)
    registry.register("embedding_centroids", embedding_centroids, CENTROID_ORACLE)
    registry.register(
        "dedup_embedding_cosine", dedup_embedding_cosine, EMBEDDING_NEAR_DUP_ORACLE
    )
    registry.register(
        "kmeans_embeddings", kmeans_embeddings, KMEANS_EMBEDDINGS_ORACLE
    )
    registry.register("matryoshka_topk", matryoshka_topk, MATRYOSHKA_TOPK_ORACLE)
    registry.register(
        "matryoshka_recall_at10",
        matryoshka_recall_at10,
        MATRYOSHKA_RECALL_ORACLE,
    )
    registry.register(
        "kmeans_convergence", kmeans_convergence, KMEANS_CONVERGENCE_ORACLE
    )
    registry.register("pq_topk", pq_topk, PQ_TOPK_ORACLE)
    registry.register(
        "pq_topk_sampled", pq_topk_sampled, PQ_TOPK_SAMPLED_ORACLE
    )
    registry.register(
        "pq_sampled_recall_at10",
        pq_sampled_recall_at10,
        PQ_SAMPLED_RECALL_ORACLE,
    )
    registry.register("ivfpq_topk", ivfpq_topk, IVFPQ_TOPK_ORACLE)
    registry.register("pq_recall_at10", pq_recall_at10, PQ_RECALL_ORACLE)
    registry.register(
        "ivfpq_recall_at10", ivfpq_recall_at10, IVFPQ_RECALL_ORACLE
    )
    registry.register(
        "binary_hamming_topk", binary_hamming_topk, BINARY_HAMMING_TOPK_ORACLE
    )
    registry.register(
        "binary_hamming_recall_at10",
        binary_hamming_recall_at10,
        BINARY_HAMMING_RECALL_ORACLE,
    )
    registry.register(
        "binary_mih_topk", binary_mih_topk, BINARY_MIH_TOPK_ORACLE
    )
    registry.register(
        "binary_mih_recall_at10",
        binary_mih_recall_at10,
        BINARY_MIH_RECALL_ORACLE,
    )
    registry.register(
        "binary_multiword_topk",
        binary_multiword_topk,
        BINARY_MULTIWORD_TOPK_ORACLE,
    )
    registry.register(
        "binary_multiword_mih_topk",
        binary_multiword_mih_topk,
        BINARY_MULTIWORD_MIH_TOPK_ORACLE,
    )
    registry.register(
        "binary_multiword_mih_recall_at10",
        binary_multiword_mih_recall_at10,
        BINARY_MULTIWORD_MIH_RECALL_ORACLE,
    )
    registry.register(
        "binary_asymmetric_topk",
        binary_asymmetric_topk,
        BINARY_ASYMMETRIC_TOPK_ORACLE,
    )
    registry.register(
        "binary_asymmetric_recall_at10",
        binary_asymmetric_recall_at10,
        BINARY_ASYMMETRIC_RECALL_ORACLE,
    )
    registry.register(
        "binary_mih_multiprobe_topk",
        binary_mih_multiprobe_topk,
        BINARY_MIH_MULTIPROBE_TOPK_ORACLE,
    )
    registry.register(
        "binary_mih_multiprobe_recall_at10",
        binary_mih_multiprobe_recall_at10,
        BINARY_MIH_MULTIPROBE_RECALL_ORACLE,
    )
    registry.register(
        "binary_multiword_mih_multiprobe_topk",
        binary_multiword_mih_multiprobe_topk,
        BINARY_MULTIWORD_MIH_MULTIPROBE_TOPK_ORACLE,
    )
    registry.register(
        "binary_multiword_mih_multiprobe_recall_at10",
        binary_multiword_mih_multiprobe_recall_at10,
        BINARY_MULTIWORD_MIH_MULTIPROBE_RECALL_ORACLE,
    )
