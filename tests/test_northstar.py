"""Tests for the [north-star] LLM-data operators (N1-N5): recall of
approximate methods vs exact baselines, plumbing of the multimodal
path, and edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
)
from bigdata_pipelines_aws_glue_spark.operators.multimodal import (
    decode_image,
    multimodal_features,
)
from bigdata_pipelines_aws_glue_spark.operators.similarity import (
    TOP_K,
    ann_lsh_topk,
    cosine_topk,
)
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table


def test_exact_dedup_collapses_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string",
    )
    out = {r["keeper_id"]: r["n_copies"] for r in
           exact_dedup(df, "text", "doc_id").collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_recall_of_near_dups(spark, sf_dir):
    """LSH candidates must recover the overwhelming majority of true
    high-Jaccard pairs (16 hashes / 4 bands → ~threshold 0.7)."""
    docs = load_table(spark, sf_dir, "documents")
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(docs).collect()
    }
    assert truth, "corpus should contain planted near-duplicates"
    recall = len(truth & cands) / len(truth)
    assert recall >= 0.9, f"minhash recall {recall:.2f} on {len(truth)} pairs"


def test_ngram_jaccard_max_df_caps_stop_shingle_blowup(spark, sf_dir):
    """A boilerplate shingle present in 50% of the corpus must not
    generate O(df²) candidate pairs when ``max_df`` is set, while real
    near-dup pairs (built from low-df shingles) survive with exact
    jaccard. Mirrors tests/test_skew_realism.py's method: same
    operator, hostile key distribution, assert the bounded shape."""
    boiler = " all rights reserved"
    rows = [(i, f"w{i}a w{i}b w{i}c" + boiler) for i in range(40)]
    # a genuine near-dup pair sharing only df<=2 shingles
    rows += [
        (100, "alpha beta gamma delta epsilon zeta eta"),
        (101, "alpha beta gamma delta epsilon zeta theta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # threshold=0 exposes the raw candidate set the self-join emits
    uncapped = ngram_jaccard_pairs(docs, threshold=1e-9, max_df=None).count()
    capped_pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=1e-9, max_df=10).collect()
    }
    assert uncapped >= 40 * 39 // 2, "stop-shingle should blow up uncapped"
    # cap kills every boilerplate-only pair; only the true near-dup stays
    assert set(capped_pairs) == {(100, 101)}
    # jaccard of the surviving pair is exact (untouched by the cap):
    # 7 tokens -> 5 shingles each, 4 shared -> 4 / (5 + 5 - 4)
    assert abs(capped_pairs[(100, 101)] - 4 / 6) < 1e-12
    # frozen-corpus precondition for the oracle hash-match of the
    # registered (max_df=500) form: no shingle reaches df 500
    from bigdata_pipelines_aws_glue_spark.operators.dedup import (
        _shingles,
        _tokens,
    )

    corpus = load_table(spark, sf_dir, "documents")
    max_df = (
        corpus.select(
            F.explode(_shingles(_tokens(F.col("text")), 3)).alias("s")
        )
        .groupBy("s")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert max_df < 500


def test_neardup_pipeline_exact_precision_and_recall(spark, sf_dir):
    """The composed LSH->verify pipeline returns a subset of the true
    Jaccard>=0.8 pairs with exact jaccard values (precision 1.0 by
    construction) and recall >= 0.9."""
    from bigdata_pipelines_aws_glue_spark.operators.dedup import (
        neardup_verified_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    truth = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    found = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in neardup_verified_pairs(docs, threshold=0.8).collect()
    }
    assert truth, "corpus should contain planted near-duplicates"
    for pair, j in found.items():
        assert pair in truth, f"false positive {pair}"
        assert abs(j - truth[pair]) < 1e-12
    recall = len(found) / len(truth)
    assert recall >= 0.9, f"pipeline recall {recall:.2f} on {len(truth)} pairs"


def test_ann_lsh_recall_vs_brute_force(spark, sf_dir):
    exact = cosine_topk(spark, sf_dir)
    approx = ann_lsh_topk(spark, sf_dir)
    exact_top3 = {
        (r["query_id"], r["neighbor_id"])
        for r in exact.filter(F.col("rank") <= 3).collect()
    }
    approx_pairs = {
        (r["query_id"], r["neighbor_id"]) for r in approx.collect()
    }
    recall = len(exact_top3 & approx_pairs) / len(exact_top3)
    # random-hyperplane LSH on near-uniform vectors is a weak signal;
    # this asserts the plumbing finds a nontrivial fraction, not SOTA
    assert recall >= 0.2, f"ANN recall@3 {recall:.2f}"


def test_multiprobe_beats_single_probe_recall(spark, sf_dir):
    """Hamming-1 multi-probe must strictly dominate single-probe in
    total hits (superset of candidate buckets) and lift mean recall@10
    (0.36 -> 0.84 measured at sf0.01; asserted loosely here at
    sf0.001)."""
    from bigdata_pipelines_aws_glue_spark.operators.similarity import (
        ann_lsh_multiprobe_recall_at10,
        ann_lsh_recall_at10,
    )

    single = {
        r["query_id"]: r["hits"]
        for r in ann_lsh_recall_at10(spark, sf_dir).collect()
    }
    multi = {
        r["query_id"]: r["hits"]
        for r in ann_lsh_multiprobe_recall_at10(spark, sf_dir).collect()
    }
    assert set(single) == set(multi)
    assert all(multi[q] >= single[q] for q in single)  # superset probes
    assert sum(multi.values()) > sum(single.values())


def test_binary_hamming_signature_and_topk(spark, sf_dir):
    """Sign-bit quantization: the packed BIGINT's bit d must equal
    (embedding[d] > 0) — verified against numpy on real vectors —
    and the Hamming top-k must equal a numpy brute-force replay."""
    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        binary_hamming_topk,
        sign_words,
    )
    from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select(
        "vec_id", "embedding", sign_words("embedding", (0,))[0].alias("sig")
    ).collect()
    sigs = {}
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float32)
        want = 0
        for d in range(len(v)):
            if v[d] > 0:
                want |= 1 << d
        if want >= 1 << 63:
            want -= 1 << 64  # two's complement (bit 63 = sign)
        assert r["sig"] == want, r["vec_id"]
        sigs[r["vec_id"]] = want & ((1 << 64) - 1)
    got = binary_hamming_topk(spark, sf_dir).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for q in range(min(N_QUERIES, 5)):  # numpy replay for 5 queries
        ref = sorted(
            (bin(sigs[q] ^ s).count("1"), n)
            for n, s in sigs.items()
            if n != q
        )[:TOP_K]
        ours = [
            (r["hamming"], r["neighbor_id"])
            for r in sorted(by_q[q], key=lambda r: r["rank"])
        ]
        assert ours == ref, q


def test_binary_mih_pigeonhole_guarantee(spark, sf_dir):
    """Multi-index Hamming's lossless-radius property: with 8 bands,
    ANY pair at Hamming distance <= 7 must share a band exactly, so
    every such neighbor MUST appear in the candidate-derived top-k
    whenever its distance beats the query's rank-10 cutoff. Verified
    against a numpy replay of signatures and band keys."""
    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.similarity import (
        MIH_BANDS,
        MIH_BITS,
        N_QUERIES,
        binary_mih_topk,
        sign_words,
    )
    from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    sigs = {
        r["vec_id"]: r["sig"] & ((1 << 64) - 1)
        for r in emb.select(
            "vec_id", sign_words("embedding", (0,))[0].alias("sig")
        ).collect()
    }
    def shares_band(a, b):
        mask = (1 << MIH_BITS) - 1
        return any(
            ((a >> (MIH_BITS * i)) & mask) == ((b >> (MIH_BITS * i)) & mask)
            for i in range(MIH_BANDS)
        )

    # 1. the pigeonhole property itself, on constructed close pairs
    # (the real corpus has random signs — expected distance 32 — so
    # radius-7 pairs must be synthesized to exercise the guarantee)
    rng = np.random.default_rng(3)
    for _ in range(200):
        a = int(rng.integers(0, 1 << 63)) | (int(rng.integers(0, 2)) << 63)
        flips = rng.choice(64, size=int(rng.integers(0, MIH_BANDS)), replace=False)
        b = a
        for f in flips:
            b ^= 1 << int(f)
        d = bin(a ^ b).count("1")
        assert d <= MIH_BANDS - 1 and shares_band(a, b), (d, flips)

    # 2. full numpy replay of the Spark pipeline: same candidates
    # (band equality), same exact-Hamming rank, same emitted rows
    got = {}
    for r in binary_mih_topk(spark, sf_dir).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["hamming"])
        )
    for q in list(sigs)[:]:
        if q >= N_QUERIES:
            continue
        cands = [
            n
            for n, s in sigs.items()
            if n != q and shares_band(sigs[q], s)
        ]
        ref = sorted(
            (bin(sigs[q] ^ sigs[n]).count("1"), n) for n in cands
        )[:10]
        ours = [
            (h, n) for _, n, h in sorted(got.get(q, []))
        ]
        assert ours == ref, (q, ours, ref)


def test_binary_mih_multiprobe_radius_and_dominance(spark, sf_dir):
    """Multiprobe MIH (r11): (a) probing each 8-bit band key at
    Hamming<=1 widens the pigeonhole radius to 2*MIH_BANDS-1 = 15 —
    any pair within 15 bits has some band carrying <= 1 of them, so a
    1-flip probe finds it (constructed flips); (b) the multiprobe
    CANDIDATE set is a strict superset of plain MIH's (numpy replay),
    and TOTAL recall improves (0.112 -> 0.250 mean at sf0.01
    measured). Per-query hit dominance is deliberately NOT asserted:
    unlike the LSH multiprobe test (which re-ranks by exact cosine,
    where top-k hits ARE monotone in the candidate set), the Hamming
    re-rank is a different metric from the cosine truth, so an added
    closer-in-Hamming but cosine-false candidate can displace a true
    hit from one query's top-10."""
    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.similarity import (
        MIH_BANDS,
        MIH_BITS,
        MIH_PROBE_FLIPS,
        N_QUERIES,
        binary_mih_multiprobe_recall_at10,
        binary_mih_recall_at10,
        sign_words,
    )
    from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

    mask = (1 << MIH_BITS) - 1

    def probe_finds(a, b):
        # some band where the two keys differ in <= 1 bit
        return any(
            bin(((a >> (MIH_BITS * i)) & mask)
                ^ ((b >> (MIH_BITS * i)) & mask)).count("1") <= 1
            for i in range(MIH_BANDS)
        )

    rng = np.random.default_rng(23)
    for _ in range(300):
        a = int(rng.integers(0, 1 << 63)) | (int(rng.integers(0, 2)) << 63)
        nflips = int(rng.integers(0, 2 * MIH_BANDS))  # 0..15
        flips = rng.choice(64, size=nflips, replace=False)
        b = a
        for f in flips:
            b ^= 1 << int(f)
        assert probe_finds(a, b), (nflips, sorted(flips))

    # (b1) candidate superset, replayed in numpy on the real corpus
    emb = load_table(spark, sf_dir, "embeddings")
    sigs = {
        r["vec_id"]: r["sig"] & ((1 << 64) - 1)
        for r in emb.select(
            "vec_id", sign_words("embedding", (0,))[0].alias("sig")
        ).collect()
    }

    def keys(s):
        return [(i, (s >> (MIH_BITS * i)) & mask) for i in range(MIH_BANDS)]

    def plain_cands(q):
        kq = set(keys(sigs[q]))
        return {
            n for n, s in sigs.items() if n != q and kq & set(keys(s))
        }

    def probe_cands(q):
        kq = {
            (i, k ^ f)
            for i, k in keys(sigs[q])
            for f in MIH_PROBE_FLIPS
        }
        return {
            n for n, s in sigs.items() if n != q and kq & set(keys(s))
        }

    for q in range(min(N_QUERIES, 10)):
        assert probe_cands(q) >= plain_cands(q), q

    # (b2) mean recall improves (per-query dominance not guaranteed —
    # see docstring)
    plain = {
        r["query_id"]: r["hits"]
        for r in binary_mih_recall_at10(spark, sf_dir).collect()
    }
    multi = {
        r["query_id"]: r["hits"]
        for r in binary_mih_multiprobe_recall_at10(spark, sf_dir).collect()
    }
    assert set(plain) == set(multi)
    assert sum(multi.values()) > sum(plain.values())


def test_binary_asymmetric_score_replay_and_recall_gain(spark, sf_dir):
    """Asymmetric binary scoring (r11): (a) the integer score equals
    a numpy replay (quantized query x corpus sign pattern); (b) mean
    recall@10 vs exact cosine beats symmetric Hamming — the point of
    keeping the query un-quantized (measured 0.288 -> 0.384 at
    sf0.01, 0.168 -> 0.300 at sf0.1; asserted as mean >= here since
    per-query dominance is not guaranteed)."""
    import math

    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.similarity import (
        ASYM_SCALE,
        N_QUERIES,
        binary_asymmetric_recall_at10,
        binary_asymmetric_topk,
        binary_hamming_recall_at10,
        sign_words,
    )
    from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select(
        "vec_id", "embedding", sign_words("embedding", (0,))[0].alias("sig")
    ).collect()
    sigs = {r["vec_id"]: r["sig"] & ((1 << 64) - 1) for r in rows}
    ql = {
        r["vec_id"]: [
            int(math.floor(float(x) * ASYM_SCALE + 0.5))
            for x in np.array(r["embedding"], dtype=np.float32)
        ]
        for r in rows
        if r["vec_id"] < N_QUERIES
    }

    def score(q, n):
        return sum(
            ql[q][i] if (sigs[n] >> i) & 1 else -ql[q][i]
            for i in range(64)
        )

    got = {}
    for r in binary_asymmetric_topk(spark, sf_dir).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["asym_score"])
        )
    for q in list(ql)[:5]:
        ref = sorted(
            ((-score(q, n), n) for n in sigs if n != q)
        )[:10]
        ours = [(-s, n) for _, n, s in sorted(got[q])]
        assert ours == ref, q

    sym = [
        r["hits"] for r in binary_hamming_recall_at10(spark, sf_dir).collect()
    ]
    asym = [
        r["hits"]
        for r in binary_asymmetric_recall_at10(spark, sf_dir).collect()
    ]
    assert sum(asym) >= sum(sym), (sum(asym), sum(sym))


def test_binary_multiword_pigeonhole_and_replay(spark, sf_dir):
    """Multi-word generalization (r11): 192-bit array<bigint>
    signatures. (a) every word equals a numpy replay of its offset's
    comparisons; (b) the (word, byte) banding's pigeonhole radius is
    MW_TOTAL_BANDS-1 = 23 on constructed flips; (c) the Spark MIH
    top-k equals a full numpy candidate/rank replay."""
    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.similarity import (
        MIH_BANDS,
        MIH_BITS,
        MW_OFFSETS,
        MW_TOTAL_BANDS,
        MW_WORDS,
        N_QUERIES,
        binary_multiword_mih_topk,
        sign_words,
    )
    from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select(
        "vec_id",
        "embedding",
        sign_words("embedding", MW_OFFSETS).alias("sig"),
    ).collect()
    sigs = {}
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float32)
        words = []
        for off in MW_OFFSETS:
            w = 0
            for i in range(64):
                hit = v[i] > 0 if off == 0 else v[i] > v[(i + off) % 64]
                if hit:
                    w |= 1 << i
            words.append(w)
        got = [s & ((1 << 64) - 1) for s in r["sig"]]
        assert got == words, r["vec_id"]
        sigs[r["vec_id"]] = words

    mask = (1 << MIH_BITS) - 1

    def shares_band(a, b):
        return any(
            ((a[band // MIH_BANDS] >> (MIH_BITS * (band % MIH_BANDS)))
             & mask)
            == ((b[band // MIH_BANDS] >> (MIH_BITS * (band % MIH_BANDS)))
                & mask)
            for band in range(MW_TOTAL_BANDS)
        )

    def hamming(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    # (b) pigeonhole at the widened radius, flips spread across words
    rng = np.random.default_rng(11)
    for _ in range(200):
        a = [
            int(rng.integers(0, 1 << 63)) | (int(rng.integers(0, 2)) << 63)
            for _ in range(MW_WORDS)
        ]
        nflips = int(rng.integers(0, MW_TOTAL_BANDS))
        flips = rng.choice(64 * MW_WORDS, size=nflips, replace=False)
        b = list(a)
        for f in flips:
            b[int(f) // 64] ^= 1 << (int(f) % 64)
        assert hamming(a, b) <= MW_TOTAL_BANDS - 1 and shares_band(a, b)

    # (c) full replay of the Spark MIH pipeline
    got = {}
    for r in binary_multiword_mih_topk(spark, sf_dir).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["hamming"])
        )
    for q, sq in sigs.items():
        if q >= N_QUERIES:
            continue
        cands = [
            n for n, s in sigs.items() if n != q and shares_band(sq, s)
        ]
        ref = sorted((hamming(sq, sigs[n]), n) for n in cands)[:10]
        ours = [(h, n) for _, n, h in sorted(got.get(q, []))]
        assert ours == ref, (q, ours, ref)


def test_binary_multiword_mih_multiprobe_radius_and_uplift(spark, sf_dir):
    """Composed multiprobe x multi-word MIH (r12, VERDICT r11 #3):
    (a) probing each of the 24 (word, byte) band keys at Hamming <= 1
    widens the 192-bit pigeonhole guarantee from 23 to
    2*MW_TOTAL_BANDS - 1 = 47 (per-band radius floor(47/24) = 1;
    constructed flips spread across words); (b) the multiprobe
    candidate set is a strict superset of plain multi-word MIH's
    (numpy replay on the real corpus); (c) mean recall vs brute
    multi-word Hamming improves (per-query dominance not asserted —
    same Hamming-re-rank caveat as the one-word multiprobe test)."""
    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.similarity import (
        MIH_BANDS,
        MIH_BITS,
        MIH_PROBE_FLIPS,
        MW_OFFSETS,
        MW_TOTAL_BANDS,
        MW_WORDS,
        N_QUERIES,
        binary_multiword_mih_multiprobe_recall_at10,
        binary_multiword_mih_recall_at10,
        sign_words,
    )
    from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

    mask = (1 << MIH_BITS) - 1

    def band_key(words, band):
        return (
            words[band // MIH_BANDS] >> (MIH_BITS * (band % MIH_BANDS))
        ) & mask

    def probe_finds(a, b):
        return any(
            bin(band_key(a, band) ^ band_key(b, band)).count("1") <= 1
            for band in range(MW_TOTAL_BANDS)
        )

    # (a) pigeonhole at the composed radius 47
    rng = np.random.default_rng(29)
    for _ in range(300):
        a = [
            int(rng.integers(0, 1 << 63)) | (int(rng.integers(0, 2)) << 63)
            for _ in range(MW_WORDS)
        ]
        nflips = int(rng.integers(0, 2 * MW_TOTAL_BANDS))  # 0..47
        flips = rng.choice(64 * MW_WORDS, size=nflips, replace=False)
        b = list(a)
        for f in flips:
            b[int(f) // 64] ^= 1 << (int(f) % 64)
        assert probe_finds(a, b), (nflips, sorted(flips))

    # (b) candidate superset on the real corpus (numpy replay)
    emb = load_table(spark, sf_dir, "embeddings")
    sigs = {
        r["vec_id"]: [w & ((1 << 64) - 1) for w in r["sig"]]
        for r in emb.select(
            "vec_id", sign_words("embedding", MW_OFFSETS).alias("sig")
        ).collect()
    }

    def keys(words):
        return {(b, band_key(words, b)) for b in range(MW_TOTAL_BANDS)}

    def plain_cands(q):
        kq = keys(sigs[q])
        return {n for n, s in sigs.items() if n != q and kq & keys(s)}

    def probe_cands(q):
        kq = {
            (b, k ^ f)
            for b, k in keys(sigs[q])
            for f in MIH_PROBE_FLIPS
        }
        return {n for n, s in sigs.items() if n != q and kq & keys(s)}

    for q in range(min(N_QUERIES, 8)):
        assert probe_cands(q) >= plain_cands(q), q

    # (c) mean recall vs brute multi-word Hamming improves
    plain = {
        r["query_id"]: r["hits"]
        for r in binary_multiword_mih_recall_at10(spark, sf_dir).collect()
    }
    multi = {
        r["query_id"]: r["hits"]
        for r in binary_multiword_mih_multiprobe_recall_at10(
            spark, sf_dir
        ).collect()
    }
    assert set(plain) == set(multi)
    assert sum(multi.values()) > sum(plain.values())


def test_cosine_topk_shape(spark, sf_dir):
    out = cosine_topk(spark, sf_dir).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        assert len(rows) == TOP_K
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, TOP_K + 1))
        scores = [r["score"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert scores == sorted(scores, reverse=True)
        assert all(-1.0 <= s <= 1.0 for s in scores)


def test_multimodal_codecs_roundtrip():
    """PPM/PGM and 24-bit BMP encode->decode are exact inverses,
    including BMP row padding (non-multiple-of-4 widths)."""
    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.multimodal import (
        encode_bmp,
        encode_ppm,
    )

    rng = np.random.RandomState(7)
    for h, w in [(1, 1), (5, 3), (13, 7), (16, 16), (9, 2)]:
        rgb = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (decode_image(encode_ppm(rgb)) == rgb).all()
        assert (decode_image(encode_bmp(rgb)) == rgb).all()
    gray = rng.randint(0, 256, size=(6, 11), dtype=np.uint8)
    assert (decode_image(encode_ppm(gray)) == gray).all()
    # PPM comments in the header are skipped
    ppm = encode_ppm(gray)
    commented = ppm[:2] + b"\n# a comment\n" + ppm[3:]
    assert (decode_image(commented) == gray).all()


def test_png_codec_roundtrip_and_filters():
    """PNG encode->decode is an exact inverse (RGB + grayscale), and
    the decoder unfilters ALL five scanline filter types — asserted by
    hand-building an IDAT whose rows use filters 0..4 and checking
    against an independently computed reference raster."""
    import struct
    import zlib

    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.multimodal import (
        _png_chunk,
        _PNG_SIG,
        encode_png,
    )

    rng = np.random.RandomState(11)
    for h, w in [(1, 1), (5, 3), (13, 7), (16, 16)]:
        rgb = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (decode_image(encode_png(rgb)) == rgb).all()
    gray = rng.randint(0, 256, size=(6, 11), dtype=np.uint8)
    assert (decode_image(encode_png(gray)) == gray).all()

    # hand-filtered 5x4 RGB image, one row per filter type
    target = rng.randint(0, 256, size=(5, 4, 3), dtype=np.uint8)
    bpp, stride = 3, 12
    flat = target.reshape(5, stride).astype(np.int32)
    prev = np.zeros(stride, dtype=np.int32)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raster = b""
    for y, f in enumerate([0, 1, 2, 3, 4]):
        cur = flat[y]
        enc = np.zeros(stride, dtype=np.int32)
        for i in range(stride):
            a = cur[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            pred = {0: 0, 1: a, 2: b, 3: (a + b) >> 1, 4: paeth(a, b, c)}[f]
            enc[i] = (cur[i] - pred) & 0xFF
        raster += bytes([f]) + enc.astype(np.uint8).tobytes()
        prev = cur
    ihdr = struct.pack(">IIBBBBB", 4, 5, 8, 2, 0, 0, 0)
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raster))
        + _png_chunk(b"IEND", b"")
    )
    assert (decode_image(png) == target).all()


def test_multimodal_unknown_codec_is_integration_seam():
    # arithmetic-coded JPEG (SOF9) — behind the external-codec seam
    # (progressive SOF2 is now decoded for real; see
    # test_jpeg_progressive_decode_interop_and_fuzz)
    import struct

    arith = (
        b"\xff\xd8\xff\xc9" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) + b"\x01\x11\x00"
    )
    with pytest.raises(NotImplementedError):
        decode_image(arith)
    # a progressive frame header with no scans must fail loudly
    sof2_only = (
        b"\xff\xd8\xff\xc2" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) + b"\x01\x11\x00"
    )
    with pytest.raises(ValueError):
        decode_image(sof2_only)
    # PNG now decodes every IHDR color/depth/interlace combination
    # (tests/test_png_variants.py), so the PNG seam is reduced to
    # out-of-spec headers: an undefined compression method must still
    # raise cleanly rather than mis-decode
    from bigdata_pipelines_aws_glue_spark.operators.multimodal import (
        _png_chunk,
        _PNG_SIG,
    )

    bad_comp = _PNG_SIG + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 1, 0, 0)
    )
    with pytest.raises(NotImplementedError):
        decode_image(bad_comp)


def test_jpeg_codec_roundtrip_and_interop():
    """Baseline JPEG (jpeg.py): (a) encode->decode round-trip error is
    JPEG-lossy-small on smooth content for RGB, gray, and
    non-multiple-of-8 sizes; (b) a 4:2:0-subsampled file produced by
    an INDEPENDENT implementation (javax.imageio, vendored below)
    decodes to the generating pattern — catching any
    self-consistent-but-wrong transform the round-trip alone would
    mask (e.g. a transposed zigzag cancels in (a) but not in (b))."""
    import base64

    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    h, w = 40, 56
    yy, xx = np.mgrid[0:h, 0:w]
    rgb = np.stack(
        [(yy * 3) % 256, (xx * 2) % 256, ((xx + yy) * 2) % 256], axis=-1
    ).astype(np.uint8)
    dec = decode_image(encode_jpeg(rgb))
    assert dec.shape == rgb.shape
    err = np.abs(dec.astype(int) - rgb.astype(int))
    assert err.mean() < 4 and err.max() < 32, (err.mean(), err.max())

    gray = ((yy[:37, :41] + xx[:37, :41]) % 256).astype(np.uint8)
    decg = decode_jpeg(encode_jpeg(gray))
    assert decg.shape == gray.shape
    assert np.abs(decg.astype(int) - gray.astype(int)).mean() < 4

    # 48x64 gradient (r=4y, g=3x, b=2(x+y)) written by javax.imageio
    # (default 4:2:0 chroma subsampling — exercises the upsample path)
    java_ref = base64.b64decode(_JAVA_IMAGEIO_JPEG_B64)
    decj = decode_jpeg(java_ref)
    hh, ww = 48, 64
    yj, xj = np.mgrid[0:hh, 0:ww]
    want = np.stack(
        [(yj * 4) % 256, (xj * 3) % 256, ((xj + yj) * 2) % 256], axis=-1
    ).astype(int)
    errj = np.abs(decj.astype(int) - want)
    assert decj.shape == (hh, ww, 3)
    assert errj.mean() < 4 and errj.max() < 32, (errj.mean(), errj.max())

    # restart markers (DRI + RSTn, byte-aligned, DC predictors reset):
    # decode must be identical-quality to the unmarked stream
    for ri in (1, 3):
        decr = decode_jpeg(encode_jpeg(rgb, restart_interval=ri))
        errr = np.abs(decr.astype(int) - rgb.astype(int))
        assert errr.mean() < 4 and errr.max() < 32, (ri, errr.mean())

    # a truncated entropy stream must fail loudly (ValueError) or
    # finish with a garbage-but-shaped array — never IndexError
    whole = encode_jpeg(rgb)
    try:
        out = decode_jpeg(whole[: len(whole) // 2])
        assert out.shape == rgb.shape
    except ValueError:
        pass


def test_multimodal_features_real_decode(spark, sf_dir):
    """Features come from genuinely decoded pixels: width/height must
    equal the dims the synth kernel encoded (len(bytes) % 64+1 x
    % 48+1), across all four codecs (PPM/BMP/PNG/JPEG by doc_id % 4).
    The registered (attested) form must assert every bound true."""
    from bigdata_pipelines_aws_glue_spark.operators.multimodal import (
        multimodal_features_raw,
    )

    attested = multimodal_features(spark, sf_dir).collect()
    assert all(r["n_bytes_ok"] and r["stats_ok"] for r in attested)
    out = multimodal_features_raw(spark, sf_dir)
    rows = out.collect()
    assert len(rows) == 500
    assert {r["doc_id"] % 4 for r in rows} == {0, 1, 2, 3}  # all codecs ran
    text_len = {
        r["doc_id"]: len(r["text"].encode())
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    for r in rows:
        n = text_len[r["doc_id"]]
        assert r["width"] == n % 64 + 1 and r["height"] == n % 48 + 1
        assert r["n_bytes"] > 0
        assert 0.0 <= r["byte_entropy"] <= 8.0
        assert 0.0 <= r["mean_byte"] <= 255.0


def test_shingles_short_doc(spark):
    from bigdata_pipelines_aws_glue_spark.operators.dedup import (
        _shingles,
        _tokens,
    )

    df = spark.createDataFrame(
        [(1, "one two"), (2, "one two three four")], "id long, text string"
    )
    out = {
        r["id"]: r["sh"]
        for r in df.select(
            "id", _shingles(_tokens(F.col("text"))).alias("sh")
        ).collect()
    }
    assert out[1] == []
    assert out[2] == ["one two three", "two three four"]


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    from bigdata_pipelines_aws_glue_spark.operators.similarity import ivf_topk

    exact = cosine_topk(spark, sf_dir)
    approx = ivf_topk(spark, sf_dir)
    exact_top3 = {
        (r["query_id"], r["neighbor_id"])
        for r in exact.filter(F.col("rank") <= 3).collect()
    }
    approx_pairs = {
        (r["query_id"], r["neighbor_id"]) for r in approx.collect()
    }
    recall = len(exact_top3 & approx_pairs) / len(exact_top3)
    assert recall >= 0.3, f"IVF recall@3 {recall:.2f}"


def test_multimodal_resize_and_frames(spark, sf_dir):
    from bigdata_pipelines_aws_glue_spark.operators.multimodal import (
        multimodal_frame_sample,
        multimodal_resize,
        resize_image,
        sample_frames,
    )
    import numpy as np

    # kernel units
    px = np.arange(100, dtype=np.uint8).reshape(10, 10)
    small = resize_image(px, 4, 4)
    assert small.shape == (4, 4)
    frames = sample_frames(b"x" * 100, n_frames=4)
    assert len(frames) == 4 and all(len(f) == 25 for f in frames)
    assert sample_frames(b"") == []

    # spark plumbing
    rs = multimodal_resize(spark, sf_dir).collect()
    assert len(rs) == 500
    assert all(r["out_w"] == 16 and r["out_h"] == 16 for r in rs[:10])
    from bigdata_pipelines_aws_glue_spark.operators.multimodal import (
        multimodal_frame_sample_raw,
    )

    fr = multimodal_frame_sample_raw(spark, sf_dir)
    per_doc = fr.groupBy("doc_id").count().collect()
    assert len(per_doc) == 500
    assert all(1 <= r["count"] <= 4 for r in per_doc)
    # attested form: every frame passes the policy + container checks
    att = multimodal_frame_sample(spark, sf_dir).collect()
    assert len(att) == 2000
    assert all(r["frame_ok"] for r in att)


def test_wav_codec_roundtrip_and_audio_attestation(spark, sf_dir):
    """WAV (RIFF PCM) encode->decode is an exact inverse for mono and
    stereo int16 (incl. odd-length chunk word alignment), unsupported
    variants raise at the seam, and the registered audio query
    asserts every bound with header-derived sample counts."""
    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        multimodal_audio_features,
    )

    rng = np.random.RandomState(11)
    for n in (1, 7, 256, 8001):
        s = rng.randint(-32768, 32768, n).astype(np.int16)
        out, rate = decode_wav(encode_wav(s))
        assert rate == 8000 and (out == s).all()
    # stereo round-trip through the chunk walk
    st = rng.randint(-32768, 32768, (64, 2)).astype(np.int16)
    stereo = encode_wav(st.reshape(-1))
    stereo = stereo.replace(b"\x01\x00\x01\x00", b"\x01\x00\x02\x00", 1)
    out2, _ = decode_wav(stereo)
    assert out2.shape == (64, 2) and (out2 == st).all()
    # non-PCM (format 3 = IEEE float) is the external-codec seam
    bad = encode_wav(np.zeros(4, np.int16)).replace(
        b"\x01\x00\x01\x00", b"\x03\x00\x01\x00", 1
    )
    with pytest.raises(NotImplementedError):
        decode_wav(bad)

    att = multimodal_audio_features(spark, sf_dir).collect()
    assert len(att) == 500
    assert all(r["stats_ok"] for r in att)
    assert all(r["sample_rate"] == 8000 for r in att)


def test_avi_mjpeg_codec_and_video_attestation(spark, sf_dir):
    """MJPEG-AVI: encode->decode returns every frame at exact shape
    with JPEG-bounded pixel error; non-MJPEG streams raise at the
    ffmpeg seam; the registered query's fan-out matches the recipe
    (nb%4+2 frames per doc) with header-parsed dims."""
    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.multimodal import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
        multimodal_video_frames,
    )

    yy, xx = np.mgrid[0:16, 0:24]
    frames = [
        np.stack(
            [(yy * 8 + i * 5) % 256, (xx * 6) % 256, ((xx + yy) * 4) % 256],
            axis=-1,
        ).astype(np.uint8)
        for i in range(4)
    ]
    out = decode_avi_mjpeg(encode_avi_mjpeg(frames))
    assert len(out) == 4
    for f, o in zip(frames, out):
        assert o.shape == f.shape
        assert np.abs(o.astype(int) - f.astype(int)).mean() < 5
    # a non-MJPEG fourcc in the video strh is the external-codec seam
    avi = encode_avi_mjpeg(frames)
    with pytest.raises(NotImplementedError):
        decode_avi_mjpeg(avi.replace(b"vidsMJPG", b"vidsH264", 1))

    rows = multimodal_video_frames(spark, sf_dir).collect()
    text_nb = {
        r["doc_id"]: len(r["text"].encode())
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    per_doc = {}
    for r in rows:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + 1
        nb = text_nb[r["doc_id"]]
        assert r["frame_w"] == nb % 24 + 8 and r["frame_h"] == nb % 16 + 8
    assert all(per_doc[d] == text_nb[d] % 4 + 2 for d in per_doc)


def test_mp4_mjpeg_container_roundtrip_and_seams(spark, sf_dir):
    """ISO-BMFF MJPEG (round-6 second container): encode->decode
    returns frames BIT-IDENTICAL to the AVI path on the same source
    (both carry the same baseline JPEGs — only the container
    differs); the decoder follows the real stsd/stsc/stco/stsz
    addressing chain (corrupting stco must fail loudly, not return
    garbage); non-jpeg sample entries raise at the ffmpeg seam."""
    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.multimodal import (
        decode_avi_mjpeg,
        decode_mp4_mjpeg,
        encode_avi_mjpeg,
        encode_mp4_mjpeg,
    )

    yy, xx = np.mgrid[0:16, 0:24]
    frames = [
        np.stack(
            [(yy * 8 + i * 5) % 256, (xx * 6) % 256, ((xx + yy) * 4) % 256],
            axis=-1,
        ).astype(np.uint8)
        for i in range(4)
    ]
    mp4 = encode_mp4_mjpeg(frames)
    out = decode_mp4_mjpeg(mp4)
    via_avi = decode_avi_mjpeg(encode_avi_mjpeg(frames))
    assert len(out) == len(via_avi) == 4
    for a, b in zip(out, via_avi):
        assert np.array_equal(a, b)  # container-independence, bit-exact

    # codec seam: a non-jpeg visual sample entry
    with pytest.raises(NotImplementedError):
        decode_mp4_mjpeg(mp4.replace(b"jpeg", b"avc1"))
    # sample-table integrity: shift the single stco chunk offset
    import struct as _s

    pos = mp4.rindex(b"stco")
    broken = (
        mp4[: pos + 12]
        + _s.pack(">I", _s.unpack(">I", mp4[pos + 12 : pos + 16])[0] + 2)
        + mp4[pos + 16 :]
    )
    with pytest.raises(ValueError):
        decode_mp4_mjpeg(broken)

    # registered query: same recipe/oracle as the AVI query
    from bigdata_pipelines_aws_glue_spark.operators.multimodal import (
        multimodal_mp4_frames,
    )

    rows = multimodal_mp4_frames(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["frame_w"] >= 8 and r["frame_h"] >= 8 for r in rows)


def test_gopher_flags_line_rules_crafted(spark):
    """The line-based Gopher rules (bullets, ellipsis endings) and the
    symbol/alpha/stopword rules trip on crafted documents the synthetic
    corpus can't exercise (it has no newlines or symbols)."""
    from bigdata_pipelines_aws_glue_spark.operators.text import (
        gopher_flags,
    )

    good = "the quick brown fox and the lazy dog " * 4  # 36 words, stops
    bullets = "\n".join(["- item one the and of"] * 5)
    ellipses = "\n".join(["the and of something..."] * 5)
    symbols = "the and " + "# " * 30
    numeric = "the and " + "123 456 " * 20
    docs = spark.createDataFrame(
        [
            (1, good.strip()),
            (2, bullets),
            (3, ellipses),
            (4, symbols.strip()),
            (5, numeric.strip()),
        ],
        "doc_id long, text string",
    )
    flags = {r["doc_id"]: r.asDict() for r in gopher_flags(docs).collect()}
    assert flags[1]["keep"]
    assert not flags[2]["r_bullet_lines"] and not flags[2]["keep"]
    assert not flags[3]["r_ellipsis_lines"] and not flags[3]["keep"]
    assert not flags[4]["r_symbol_ratio"] and not flags[4]["keep"]
    assert not flags[5]["r_alpha_words"] and not flags[5]["keep"]
    # the crafted failures are SPECIFIC: doc 2 fails only on bullets
    # among the line/symbol rules
    assert flags[2]["r_ellipsis_lines"] and flags[2]["r_symbol_ratio"]


def test_pii_scrub_planted_cases(spark):
    """Redaction handles adjacent/multiple hits, leaves near-misses
    alone, and replaces ALL occurrences (not just the first)."""
    from bigdata_pipelines_aws_glue_spark.operators.pii import (
        pii_counts,
        scrub_pii,
    )

    rows = [
        (1, "mail a.b+c@x-y.co and d@e.org twice d@e.org"),
        (2, "call 555-123-4567 or 555-000-9999"),
        (3, "host 192.168.0.1 gateway 10.0.0.254"),
        (4, "not-an-email a@b nor 12-34-56 nor 1.2.3"),
        (5, "mixed bob@corp.io at 10.1.2.3 call 555-777-8888"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r.asDict()
        for r in df.select(
            "doc_id",
            *[c.alias(n) for n, c in pii_counts(F.col("text")).items()],
            scrub_pii(F.col("text")).alias("clean"),
        ).collect()
    }
    assert out[1]["n_emails"] == 3
    assert out[1]["clean"] == "mail [EMAIL] and [EMAIL] twice [EMAIL]"
    assert out[2]["n_phones"] == 2
    assert out[2]["clean"] == "call [PHONE] or [PHONE]"
    assert out[3]["n_ips"] == 2
    assert out[3]["clean"] == "host [IP] gateway [IP]"
    assert (out[4]["n_emails"], out[4]["n_phones"], out[4]["n_ips"]) == (0, 0, 0)
    assert out[4]["clean"] == rows[3][1]
    assert out[5]["clean"] == "mixed [EMAIL] at [IP] call [PHONE]"


def test_train_val_test_split_stable_and_balanced(spark, sf_dir):
    """Split fractions land near 80/10/10, and assignment is
    append-stable: recomputing on a half-corpus gives every surviving
    doc the identical split."""
    from bigdata_pipelines_aws_glue_spark.operators.sampling import (
        train_val_test_split,
    )

    full = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(spark, sf_dir).collect()
    }
    n = len(full)
    frac_train = sum(1 for s in full.values() if s == "train") / n
    frac_val = sum(1 for s in full.values() if s == "val") / n
    assert 0.7 < frac_train < 0.9
    assert 0.04 < frac_val < 0.18
    # append-stability: same operator over a filtered corpus
    from bigdata_pipelines_aws_glue_spark.operators.sampling import (
        _SPLIT_SEED,
        _TRAIN_HI,
        _VAL_HI,
        shuffle_key,
    )
    from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

    half = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    u = shuffle_key(F.col("doc_id"), seed=_SPLIT_SEED)
    split = (
        F.when(u < _TRAIN_HI, F.lit("train"))
        .when(u < _VAL_HI, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    half_assign = {
        r["doc_id"]: r["split"]
        for r in half.select("doc_id", split.alias("split")).collect()
    }
    assert all(full[d] == s for d, s in half_assign.items())


def test_hll_rollup_union_matches_rescan(spark, sf_dir):
    """The unioned per-lang sketches estimate the SAME cardinality a
    fresh corpus-wide sketch would — the mergeability contract — and
    every in-tolerance boolean holds."""
    from bigdata_pipelines_aws_glue_spark.operators.corpus_stats import (
        hll_vocab_rollup,
    )
    from bigdata_pipelines_aws_glue_spark.operators.dedup import _tokens

    rows = {r["lang"]: r for r in hll_vocab_rollup(spark, sf_dir).collect()}
    assert "ALL" in rows and len(rows) > 2
    assert all(r["within_5pct"] for r in rows.values())
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(_tokens(F.col("text"))).alias("tok"))
    )
    fresh = toks.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("tok")).alias("est")
    ).collect()[0]["est"]
    # identical sketch parameters + same input set -> identical registers
    assert rows["ALL"]["n_vocab_exact"] > 0
    assert abs(fresh - rows["ALL"]["n_vocab_exact"]) / rows["ALL"]["n_vocab_exact"] < 0.05


def test_compression_ratio_orders_repetitive_below_random(spark):
    """Deterministic, and repetitive text compresses far smaller than
    high-entropy text — the signal's whole point."""
    import random

    from bigdata_pipelines_aws_glue_spark.operators.text import (
        _compression_ratio_series,
    )
    import pandas as pd

    rng = random.Random(3)
    rand_text = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(8))
        for _ in range(200)
    )
    rep_text = "the same line again " * 80
    s = pd.Series([rep_text, rand_text, rep_text])
    r = _compression_ratio_series(s)
    assert r[0] == r[2]  # deterministic
    assert r[0] < 0.1 < r[1]
    # and the Spark path agrees with the local kernel
    df = spark.createDataFrame(
        [(1, rep_text), (2, rand_text)], "doc_id long, text string"
    )
    from bigdata_pipelines_aws_glue_spark.operators.text import (
        make_compression_ratio,
    )

    got = {
        row["doc_id"]: row["cr"]
        for row in df.select(
            "doc_id", make_compression_ratio()(F.col("text")).alias("cr")
        ).collect()
    }
    assert abs(got[1] - r[0]) < 1e-12 and abs(got[2] - r[1]) < 1e-12


def test_simhash_hamming_locality(spark):
    """Identical docs share the signature; a one-token edit moves few
    bits; unrelated docs differ in many — the locality property the
    banded near-dup pairing depends on."""
    from bigdata_pipelines_aws_glue_spark.operators.dedup import (
        _tokens,
        simhash_signature,
    )

    base = " ".join(f"tok{i}" for i in range(60))
    edited = base.replace("tok30", "zzz")
    other = " ".join(f"other{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, edited), (4, other)],
        "doc_id long, text string",
    )
    sig = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", simhash_signature(_tokens(F.col("text"))).alias("s")
        ).collect()
    }
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert sig[1] == sig[2]
    assert ham(sig[1], sig[3]) < 15 < ham(sig[1], sig[4])


def test_simhash_hamming_selfjoin_df_cap_on_hot_keys(spark, tmp_path):
    """The corpus-scale SimHash pair join's block-key frequency cap
    (r11): a constructed hot key — 70 identical docs, all four block
    keys at frequency 70 > cap 64 — must propose NO pairs (that
    cluster is dedup_exact's job), while a small identical pair with
    cold keys IS found at Hamming 0. Also pins the Manku pigeonhole:
    any pair within radius 3 shares one of the 4 15-bit blocks."""
    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.dedup import (
        SIMHASH_BLOCK_BITS,
        SIMHASH_BLOCK_DF_CAP,
        SIMHASH_BLOCKS,
        SIMHASH_HAMMING_RADIUS,
        dedup_simhash_hamming,
    )

    hot_text = " ".join(f"hot{i}" for i in range(40))
    cold_text = " ".join(f"cold{i}" for i in range(40))
    rows = [(i, hot_text) for i in range(100, 100 + SIMHASH_BLOCK_DF_CAP + 6)]
    rows += [(1, cold_text), (2, cold_text)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in dedup_simhash_hamming(spark, str(tmp_path)).collect()
    }
    assert got == {(1, 2): 0}, got  # hot cluster: zero pairs proposed

    # pigeonhole: <=3 flips over 60 bits always leave a block intact
    mask = (1 << SIMHASH_BLOCK_BITS) - 1
    rng = np.random.default_rng(7)
    for _ in range(200):
        a = int(rng.integers(0, 1 << 60))
        flips = rng.choice(
            60, size=int(rng.integers(0, SIMHASH_HAMMING_RADIUS + 1)),
            replace=False,
        )
        b = a
        for f in flips:
            b ^= 1 << int(f)
        assert any(
            ((a >> (SIMHASH_BLOCK_BITS * k)) & mask)
            == ((b >> (SIMHASH_BLOCK_BITS * k)) & mask)
            for k in range(SIMHASH_BLOCKS)
        )


def test_incremental_neardup_matches_cross_boundary_truth(spark, sf_dir):
    """The incremental NEW x CORPUS form must find exactly the true
    Jaccard>=0.8 pairs that cross the batch boundary (subset of the
    full-corpus truth; LSH recall is 1.0 on this corpus' planted
    dups), with exact jaccard values."""
    from bigdata_pipelines_aws_glue_spark.operators.dedup import (
        dedup_incremental_neardup,
    )

    docs = load_table(spark, sf_dir, "documents")
    truth = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    cross = {
        frozenset(p): j
        for p, j in truth.items()
        if (p[0] % 5 == 0) != (p[1] % 5 == 0)
    }
    got = {
        frozenset((r["new_id"], r["corpus_id"])): r["jaccard"]
        for r in dedup_incremental_neardup(spark, sf_dir).collect()
    }
    assert cross, "corpus should have cross-boundary near-dups"
    assert set(got) <= set(cross)
    for p, j in got.items():
        assert abs(j - cross[p]) < 1e-12
    assert len(got) / len(cross) >= 0.9


#: 48x64 RGB gradient JPEG produced by java.awt + javax.imageio
#: (public JDK stdlib) — an independent baseline-JPEG implementation
#: used as the interop fixture for jpeg.py. Generator: JpegGen.java
#: pattern r=(y*4)&255, g=(x*3)&255, b=((x+y)*2)&255.
_JAVA_IMAGEIO_JPEG_B64 = (
    "/9j/4AAQSkZJRgABAgAAAQABAAD/2wBDAAgGBgcGBQgHBwcJCQgKDBQNDAsLDBkSEw8UHRof"
    "Hh0aHBwgJC4nICIsIxwcKDcpLDAxNDQ0Hyc5PTgyPC4zNDL/2wBDAQkJCQwLDBgNDRgyIRwh"
    "MjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjL/wAAR"
    "CAAwAEADASIAAhEBAxEB/8QAHwAAAQUBAQEBAQEAAAAAAAAAAAECAwQFBgcICQoL/8QAtRAA"
    "AgEDAwIEAwUFBAQAAAF9AQIDAAQRBRIhMUEGE1FhByJxFDKBkaEII0KxwRVS0fAkM2JyggkK"
    "FhcYGRolJicoKSo0NTY3ODk6Q0RFRkdISUpTVFVWV1hZWmNkZWZnaGlqc3R1dnd4eXqDhIWG"
    "h4iJipKTlJWWl5iZmqKjpKWmp6ipqrKztLW2t7i5usLDxMXGx8jJytLT1NXW19jZ2uHi4+Tl"
    "5ufo6erx8vP09fb3+Pn6/8QAHwEAAwEBAQEBAQEBAQAAAAAAAAECAwQFBgcICQoL/8QAtREA"
    "AgECBAQDBAcFBAQAAQJ3AAECAxEEBSExBhJBUQdhcRMiMoEIFEKRobHBCSMzUvAVYnLRChYk"
    "NOEl8RcYGRomJygpKjU2Nzg5OkNERUZHSElKU1RVVldYWVpjZGVmZ2hpanN0dXZ3eHl6goOE"
    "hYaHiImKkpOUlZaXmJmaoqOkpaanqKmqsrO0tba3uLm6wsPExcbHyMnK0tPU1dbX2Nna4uPk"
    "5ebn6Onq8vP09fb3+Pn6/9oADAMBAAIRAxEAPwDwuGOtCGOooY60IY6qxdagSwx1oQx+1RQx"
    "1oQx0WPLrUCWGOtCGOooYq0IY6LHl1qBJDHWhDHUcMdaEMftTseVWoHjcMftWhDHUUMdaEMd"
    "aWP1etQJYY6vwx1HDHWhDHRY8utQJIY60IY/ao4Y60IY/aix5dagSQx1oQx1HDHWhDHRY8qt"
    "QPG4Y6vwx1HDHWhDHWlj9XrUCSGOtCGOo4Y/atCGOnY8utQJIY60IY6jhjq/DHRY8utQJYYq"
    "0IY6ihjrQhj9qLHl1qB//9k="
)
_JAVA_PROG_RGB_B64 = (
    "/9j/4AAQSkZJRgABAgAAAQABAAD/2wBDAAgGBgcGBQgHBwcJCQgKDBQNDAsLDBkSEw8UHRofHh0a"
    "HBwgJC4nICIsIxwcKDcpLDAxNDQ0Hyc5PTgyPC4zNDL/2wBDAQkJCQwLDBgNDRgyIRwhMjIyMjIy"
    "MjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjL/wgARCAAwAEADASIA"
    "AhEBAxEB/8QAFwABAQEBAAAAAAAAAAAAAAAABAIGA//EABgBAQEBAQEAAAAAAAAAAAAAAAQAAQIG"
    "/9oADAMBAAIQAxAAAAHCohG7aIRFtEIi0iURcaiUderpEoi0iURaRKIuN7yjr1dIlGlpEoi0iURf"
    "/8QAFRABAQAAAAAAAAAAAAAAAAAAAQD/2gAIAQEAAQUCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCC"
    "CCCCCCCCCCCCCCCC/8QAFREBAQAAAAAAAAAAAAAAAAAAAgD/2gAIAQMBAT8BYmJiYmJiYmJiYmJi"
    "/8QAFBEBAAAAAAAAAAAAAAAAAAAAMP/aAAgBAgEBPwFP/8QAFBABAAAAAAAAAAAAAAAAAAAAUP/a"
    "AAgBAQAGPwJD/8QAFBABAAAAAAAAAAAAAAAAAAAAUP/aAAgBAQABPyFCqqqqqqqqqqqqqqqr/9oA"
    "DAMBAAIAAwAAABA0037OMMJ/3nH/xAAUEQEAAAAAAAAAAAAAAAAAAAAw/9oACAEDAQE/EEVVVV//"
    "xAAVEQEBAAAAAAAAAAAAAAAAAAAAEf/aAAgBAgEBPxCIiIiIiIj/xAAYEAEAAwEAAAAAAAAAAAAA"
    "AABhACAwEP/aAAgBAQABPxDoAaAAAgECoAGAAAGoAAIAVAAn/9k="
)
_JAVA_PROG_GRAY_B64 = (
    "/9j/4AAQSkZJRgABAgAAAQABAAD/2wBDAAgGBgcGBQgHBwcJCQgKDBQNDAsLDBkSEw8UHRofHh0a"
    "HBwgJC4nICIsIxwcKDcpLDAxNDQ0Hyc5PTgyPC4zNDL/wgALCAAoADgBAREA/8QAFQABAQAAAAAA"
    "AAAAAAAAAAAABAb/2gAIAQEAAAABh0IQhCJtCEIQmaQhCUImkIShCJpKEIQj/8QAFhAAAwAAAAAA"
    "AAAAAAAAAAAAAAEC/9oACAEBAAEFAlIpFIpFIpFIpFIpFIpFIpFIpFIpFIpFIpFIpFIpFIpFIpFI"
    "pFIpFJ//xAAUEAEAAAAAAAAAAAAAAAAAAABQ/9oACAEBAAY/Ag//xAAUEAEAAAAAAAAAAAAAAAAA"
    "AABQ/9oACAEBAAE/IQ6qqqqqqqqqqq//2gAIAQEAAAAQ/wD7xwgf/8QAFRABAQAAAAAAAAAAAAAA"
    "AAAAAGH/2gAIAQEAAT8Qiiiiiiiiiiiiiiiiiiiiiiiiiiiiiiiiiii//9k="
)
_JAVA_PROG_NOISE_B64 = (
    "/9j/4AAQSkZJRgABAgAAAQABAAD/2wBDAAgGBgcGBQgHBwcJCQgKDBQNDAsLDBkSEw8UHRofHh0a"
    "HBwgJC4nICIsIxwcKDcpLDAxNDQ0Hyc5PTgyPC4zNDL/2wBDAQkJCQwLDBgNDRgyIRwhMjIyMjIy"
    "MjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjL/wgARCABQAGADASIA"
    "AhEBAxEB/8QAGAABAQEBAQAAAAAAAAAAAAAAAwIBBgD/xAAZAQEBAAMBAAAAAAAAAAAAAAADAQAC"
    "BgT/2gAMAwEAAhADEAAAAeSY2zKabgIsrqNJiwaWWnn1ZaDxKwz9PaYkGllYOvKQKaG1C2hIHFLC"
    "v1FLiwaTFga0vqGpjQKSWweIaGbp/ND4NMbahTQsG78uoUktB4hPL6Onu8TULXEg08JBRIeeelhd"
    "R//EAB0QAQEAAgMBAQEAAAAAAAAAAAEAEBECITFBEjL/2gAIAQEAAQUC1HgbAiL51BaMEGPpfdbt"
    "QRG4tX0giIjHE3k943kREeEd4C4xag610YDs43d+bWsagvpg/kLUEGoweBEXE1ERGDJatdWrWNR1"
    "ERERFxtdkXE7C1EXkWsEQRHePL//xAAWEQEBAQAAAAAAAAAAAAAAAAACAAH/2gAIAQMBAT8BRkZG"
    "RtyWSyRllplkjLJZLLTblpty3LRI2m02m3JZIyy3L//EABkRAAIDAQAAAAAAAAAAAAAAAAEQABEg"
    "QP/aAAgBAgEBPwF1Cjg8RX//xAAcEAAABwEBAAAAAAAAAAAAAAAAARARICExMGH/2gAIAQEABj8C"
    "kWpiOw8GQzhR8mngyLi0Lv4pI6XwtLGRsldu3o8g6Omy/8QAIhAAAgICAgMBAQEBAAAAAAAAAREA"
    "ITFBUWFxgZGhscHw/9oACAEBAAE/IQANpwDgA+YoAV7cbwYDNoSgunuA0WPiEF0BNQYcCAgw13AN"
    "v3A8f6loLAREnPzcFi2YG+cLcA6DwlBRzioFOKw4PCS9iCqzw5qFnzAQfyf8uAehAYFUcdTWYDtX"
    "/YmD7MTYVYicn7CL9RACD01CjTmAgFnk4gmwTiDRseJ+4Fov5AQGu5VvIzSgCUBMgDuAIVW7lQIL"
    "e4GrxDLsYMKXguOHeK4gQW/MC1YcFlJncQCNbMIEOIBYE1kQBQ6+wIBd8QbGu4PQyrI8GAUwtRCB"
    "zhmBsofk2K/KgiW/aCjOTGaoxzRcwsP5BvPmB7uE01qAAH6gX3GhcEnO+oAbvxDBvcBaFwUhgdxG"
    "n6EAwzmO39gMZ/YHpKC0kxNBsbgfAdwQHgZxmC9EFMWKhB4gAnFwCKocS2KWoNY9wW6oZUMGkWrB"
    "MBW5wMWu4CJQHybD6JQFAOMPPhAmuxgimOswC8HnuAIqmTZNSyY1AlR3mYgFSoLbzDLE2I4uD0EF"
    "WyEYil1P/9oADAMBAAIAAwAAABAaVB49h0UySMJ2JgtIGKEkVNfUZZA03//EABsRAAMAAwEBAAAA"
    "AAAAAAAAAAABESExQRBR/9oACAEDAQE/EMIxo+BAkJShxKDdly5E5ncTI9eT08EnnzXpnYZtjlod"
    "MitGcfSBlYuU/8QAGxEAAgMBAQEAAAAAAAAAAAAAAAERITFhQVH/2gAIAQIBAT8QMIXo4CDdlKOM"
    "ajDLPo8gal0QMbb0iuDkj6RXDSE9Gjo9ogS9Gvojkiz/xAAlEAEAAgICAQQCAwEAAAAAAAABESEA"
    "MUFRYXGBkfChscHh8dH/2gAIAQEAAT8QQhigmC2deD7eUAoQJmO/fWQAgiZFOCI/ysVzEzAjME68"
    "ZIkx7EZ8/n3cQG3SEAkv5HGbBbGXMNYKLsgm9xvXfsYESG1oj7PWn0xxMUBSEHz9u6yOUs9zfAOs"
    "ISIBqNy/e/x8lEuIqGJX34wIZDAChlT7fesARAkKd+HXnEFVySSH3TExy+cmZODSy719rDQYfUTe"
    "v5MQJhVS4PPHGsABiE7k4Tr/ADH3sCwgD7H5yGOqgW457++TGWESNvfT4xkRzJbK4IZ+bxRgiyQN"
    "IHHePJbo8Ln3yTRBoZY418n/AHDggFnp21X38ZVJKFjD089Lf1JYVS2oZ+O8DmWF06dutxrBFDZI"
    "CeP9+PjAECVseZrswytAxCZm5X1rKMDEpnccTjy6FvCGda+mSp54D1UQxV/nCSXIXaZ9dYB2iwoZ"
    "TxfHpk5gQsBCNNd/XE3IMQqvfe8e8laBghfj+8hsjImyul9TAAEAJhMeT34/rGlE9ttHj5yiF2n2"
    "/fg6xaQBomnmQPM6/jJQITVRJ6+28otzdCILf1kIOMraddawkWAWlhS/i8kLYGxQa09/3jKgTjvu"
    "q/3ARMtUl6/nAEWenBTWv5wkgggC6aqNa34wMBM+2V91r4nLhMZEL/c4Id3O0IgefDicRMqpEOeg"
    "YZB+1kSAkEUm/f6T8KhmEAj0dzGMk0ExKlmPecUlKizcH0/vBVx7RH38YnUeXW7KnrATNClIg4vR"
    "xkvFs4THPgrLjFkuSjX+d/xl2Rlo1BFV7/nHCyQpaTJIZKB5kSd7u/tYsBEkprq59zElQqICg9K4"
    "lciER0waJd8zeBIahy1448HnBokNk9slhkUCNJj1nf2/bJtUgIQmJi+de2FXDrxHdwVv8YJ1ZbGL"
    "7n+MjUktD2t+k5A5gJFVYGpf3xd4AkqBR23/AAfdY4gAyCQ9cyGuKyFkowCkH+ZG8kmfE9wHX4nE"
    "TMEJ7D3rCREpFumNSvc/vxkQiiaFCPTnCsoLlAPrjAsS243IeKfH8BLrMK2npWsMMyCpt3rXpgg2"
    "ZgTNaI7nBCBNFiYdbfTBRIgAF8wenjASnYyc1XyfrKDIFBNea1+sk6JKgljmfnBTCGyEVeZwQWOB"
    "B66p3vCSFiSCkkEffTAgVCEkl9d+fTKwiTWjZrXAd4VGiEHStXfffHnEQgB2krzPxFYeSsyZ9Vfn"
    "9404LENzE3Xj/mBlCoSakRn0wSS1SFP1vGlKKSYiFjZ0a7cYSSCAK874H+OcNiVqKEmOf+ZH62Ut"
    "83P2PXAWtITY74/HftkiUSfYY69zJWIkS9RPHkwixyZR6P3/AHn/2Q=="
)
_JAVA_PROG_NOISE_REF_SUB4_B64 = (
    "ERoZBQsLIi4sDCcgEi4fKEUzIEc1BTwpN3pZKHNIInFBM4hRMZBYKpJXF4NJEoRJAYFELLNxGKFb"
    "HqtfH8d6ELhqIcdzINiCKSkrHBweHicmMEVAHTkqEjEhK1JAIldDK2ZGHV04JnFKJXhOIn5NMZJd"
    "MpliHotSGJNaJ6lrPsWATNmNFbNpFbNmNtWBJNR/IBUbFgsRPjk9HignQFdNKkI1RWVWPWpVKlg8"
    "IlQ3LW5QHmpMHWpGI3VNEG0+LZRfGo1WLKZtPL5+T9iSJ7dxNcd8SeWRQuqVRS44OyQuPS41REJF"
    "NEA8LDkySlxQPltJPmZOPGpOLGNEP39dSIhtR45wJ3xTN5loR7GASbuHHZteKrFuLbZyRdaJKMZv"
    "JMx1OR4nVjdHQSY3Qzo/My8wUVJWR1NRNVBBVm9ZVXdfNGBHS3tlTYduVZt5N4pgSqaBP5l2Rqd6"
    "TL6DJqRlQcqCQNGMRNuYONaJTCo6OxgsQSQ2TUBHTERCNzM0Nz9BSl1XTGBVSGRVN2FNOWlTRn5j"
    "VJVzQ49pSp58PI1tWbGHP6hwUceLSs2HQ8qIRdOXKsB4PQ8ra0FXVzhHVT5GUUFCRTk5S0lKQkdK"
    "SFhYVWxmS2xbaZV6OW5SVYtxRYRnVpx6T5t3W7CHWbmJM55mP7N0Vc2QXuOkSteSQAMsUyM9ZUVQ"
    "UTM7QCg1XElPUkZGWVNVU1tdWmRjUWBZZod2UHxjRnNebJ2IYJd4U5l0U6N+bMSaS653W8CIX8qS"
    "XdiZW+CfbCpOWRo3RxIkZD1PXDVIZ0hXZFNbdmtxa3N1XFpdbmxtZ4d6QWlhTHFqU4Jwap+BUJVm"
    "UZ56armcYbCDbcaaYMWZY9WiXNOdZxtJcitNXR82bUFSSx4yaURWXEZTZFRfWVRaZWNmcHJxUGFZ"
    "V3JpaYt9a5WBSHheca6MfMSeWqqDecqhhNyyY8maY8+dY86aaRJFey9WaChCcz1Ucz9WZDdOg2B0"
    "ZU5eeWNvZ15jZGhnd3Z0gpB/aIFrZIRvZox3WYh0VpZ0cL+Sdcqje9Cngt6va82adtmjdxVEfilQ"
    "eTZVYSFEhEtrgUpnkGJ8b1JmeWVxgG93jYSHYmdjYW1jgZGEk6qagp+NjbWac6eQYKCIhsyqi8ys"
    "dsKecMugfd+whydXdBtHey1UdCxRcjRLkFN0ekFqf1xwc1hnjHqGeXJ5gYGBjoWKf39/a3tuj6eR"
    "f6WMhbGagq+ajbmeoNa8cq+OmuW8gNiwdhRDhilViTRekUNtbitMgD1gjk1vmmWDe1Vqh299jn6I"
    "fnN5fHN2oqKih5SNgI+IiKeXfJ6Nha+XmcqticWpjMyqhsqliteziiNQnjtqdxlLgChbhDVllkxx"
    "pF98j0hwmWeAiWJ0ooKRkXaFgHV5pKChi4qQen6HdIN+cIh7iq+dd6ePi8incK2OgL2el9q3ihpU"
    "oDVtjipelThnjjZgrlyKikV0kU9znGV6pXCEtICXto+kmH6HoouTlYSMl5WafYOBk56YkKaag6KS"
    "ibGWkrykmMWwjcqpjhpZnSdkgxFMiiVdo0FwizRfl0x3rmaLpl9/n195q3iLnnCMlHOIsZWknYiP"
    "saemloyUpK6tmqqgip6TpcazqdG3pNK1lcytjwxYtTR3nyFepzVwmTNlkTRhmUhxnUx1qlyDs3OO"
    "yJetnHCLqoSZpISTrJWfmIePtKKujpeUpLGnucm8tM/AfJyFpcyxsd/FyjaMwDJ+pB9enx9ayFeN"
    "mjZoqE99pk98uGaMsWqMll9+jl17x5asqXyQr42eu6OzuaGvtLa1rLKouL+3tszAsMW0tMu30fTg"
    "wyd6tiRtmhRTrCdpu0OAz2SaqUh7p0l71HihtWOLsW2Wp2qMvH2cv4ekr4SYupuqvp6zq6Ssqaeo"
    "u7u5rsK5yNjLwtTEs9XE"
)


def test_jpeg_progressive_decode_interop_and_fuzz():
    """Progressive JPEG (SOF2, T.81 Annex G): files written by
    javax.imageio's default progressive scan script (interleaved
    point-transformed DC scan, AC spectral selection, Ah=2->1->0
    successive-approximation refinements, 4:2:0 subsampling) must
    decode to the generating pattern. The LCG-noise fixture stresses
    EOB runs / ZRL / correction bits; its decode is pinned against
    javax.imageio's OWN decode of the same bytes (4x-subsampled
    vendored reference, near-exact bound) — a refinement-logic bug
    cannot hide behind JPEG's quantization loss there. Every
    truncation offset must fail with ValueError, never IndexError."""
    import base64

    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.jpeg import decode_jpeg

    rgb_bytes = base64.b64decode(_JAVA_PROG_RGB_B64)
    dec = decode_jpeg(rgb_bytes)
    yy, xx = np.mgrid[0:48, 0:64]
    want = np.stack(
        [(yy * 4) % 256, (xx * 3) % 256, ((xx + yy) * 2) % 256], axis=-1
    ).astype(int)
    err = np.abs(dec.astype(int) - want)
    assert dec.shape == (48, 64, 3)
    assert err.mean() < 4 and err.max() < 32, (err.mean(), err.max())

    gray_bytes = base64.b64decode(_JAVA_PROG_GRAY_B64)
    decg = decode_jpeg(gray_bytes)
    yg, xg = np.mgrid[0:40, 0:56]
    wantg = ((xg * 2 + yg * 3) % 256).astype(int)
    errg = np.abs(decg.astype(int) - wantg)
    assert decg.shape == (40, 56)
    assert errg.mean() < 4 and errg.max() < 32, (errg.mean(), errg.max())

    # noise fixture: same 64-bit LCG as the Java generator
    noise_bytes = base64.b64decode(_JAVA_PROG_NOISE_B64)
    s, mask = 12345, (1 << 64) - 1
    wantn = np.zeros((80, 96, 3), int)
    for y in range(80):
        for x in range(96):
            c = []
            for _ in range(3):
                s = (s * 6364136223846793005 + 1442695040888963407) & mask
                c.append((s >> 33) & 255)
            wantn[y, x] = [
                ((y * 2) + (c[0] >> 2)) & 255,
                ((x * 2) + (c[1] >> 2)) & 255,
                ((x + y) + (c[2] >> 2)) & 255,
            ]
    decn = decode_jpeg(noise_bytes).astype(int)
    errn = np.abs(decn - wantn)
    assert decn.shape == (80, 96, 3)
    assert errn.mean() < 20 and errn.max() < 80, (errn.mean(), errn.max())
    # near-exact vs the independent decoder (IDCT rounding only)
    ref_sub = np.frombuffer(
        base64.b64decode(_JAVA_PROG_NOISE_REF_SUB4_B64), np.uint8
    ).reshape(20, 24, 3).astype(int)
    errj = np.abs(decn[::4, ::4] - ref_sub)
    assert errj.mean() < 2 and errj.max() <= 8, (errj.mean(), errj.max())

    # truncation fuzz at EVERY cut offset across all three fixtures
    for data in (rgb_bytes, gray_bytes, noise_bytes):
        for k in range(2, len(data)):
            try:
                out = decode_jpeg(data[:k])
                assert out.shape[0] > 0
            except (ValueError, NotImplementedError):
                pass


def test_mp4_size_extensions_largesize_toeof_co64():
    """r7 MP4 seam, closed r9: ISO 14496-12 64-bit (size==1 +
    largesize) and to-EOF (size==0) box sizes, plus the co64 64-bit
    chunk-offset table — the DECLARED size fields are the seam, so a
    small fixture rewritten into each form exercises them without a
    4 GiB payload. All three variants must decode bit-identically to
    the plain file."""
    import struct as _s

    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.multimodal import (
        decode_mp4_mjpeg,
        encode_mp4_mjpeg,
    )

    yy, xx = np.mgrid[0:12, 0:16]
    frames = [
        np.stack(
            [(yy * 7 + i * 9) % 256, (xx * 5) % 256, ((xx * yy) + i) % 256],
            axis=-1,
        ).astype(np.uint8)
        for i in range(3)
    ]
    mp4 = encode_mp4_mjpeg(frames)
    want = decode_mp4_mjpeg(mp4)

    # --- variant 1: mdat declared via 64-bit largesize (header grows
    # by 8, so the absolute stco offset shifts by 8 too)
    ftyp_size = _s.unpack(">I", mp4[:4])[0]
    mdat_pos = ftyp_size
    assert mp4[mdat_pos + 4 : mdat_pos + 8] == b"mdat"
    mdat_size = _s.unpack(">I", mp4[mdat_pos : mdat_pos + 4])[0]
    big = (
        mp4[:mdat_pos]
        + _s.pack(">I", 1)
        + b"mdat"
        + _s.pack(">Q", mdat_size + 8)
        + mp4[mdat_pos + 8 : ]
    )
    pos = big.rindex(b"stco")
    off = _s.unpack(">I", big[pos + 12 : pos + 16])[0]
    big = big[: pos + 12] + _s.pack(">I", off + 8) + big[pos + 16 :]
    got = decode_mp4_mjpeg(big)
    assert len(got) == len(want)
    assert all(np.array_equal(a, b) for a, b in zip(got, want))

    # --- variant 2: moov (the last top-level box) declared size==0
    # (runs to end of file)
    moov_pos = mp4.rindex(b"moov") - 4
    toeof = mp4[:moov_pos] + _s.pack(">I", 0) + mp4[moov_pos + 4 :]
    got = decode_mp4_mjpeg(toeof)
    assert all(np.array_equal(a, b) for a, b in zip(got, want))

    # --- variant 3: stco (20 bytes, 1 chunk) replaced by co64 (24
    # bytes, 8-byte offset); every ancestor box grows by 4
    stco_start = mp4.rindex(b"stco") - 4
    off = _s.unpack(">I", mp4[stco_start + 16 : stco_start + 20])[0]
    co64 = (
        _s.pack(">I", 24) + b"co64"
        + mp4[stco_start + 8 : stco_start + 16]  # ver/flags + count
        + _s.pack(">Q", off)
    )
    grown = bytearray(mp4[:stco_start] + co64 + mp4[stco_start + 20 :])
    for tag in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
        p = bytes(grown).rindex(tag) - 4
        grown[p : p + 4] = _s.pack(
            ">I", _s.unpack(">I", bytes(grown[p : p + 4]))[0] + 4
        )
    got = decode_mp4_mjpeg(bytes(grown))
    assert all(np.array_equal(a, b) for a, b in zip(got, want))


def test_pnm_16bit_roundtrip_and_literal():
    """r9 seam: 16-bit PNM (maxval 65535, big-endian samples)."""
    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.multimodal import (
        _decode_ppm,
        encode_ppm,
    )

    rng = np.random.default_rng(21)
    rgb16 = rng.integers(0, 65536, (5, 7, 3)).astype(np.uint16)
    out = _decode_ppm(encode_ppm(rgb16))
    assert out.dtype == np.uint16 and np.array_equal(out, rgb16)
    gray16 = rng.integers(0, 65536, (4, 6)).astype(np.uint16)
    assert np.array_equal(_decode_ppm(encode_ppm(gray16)), gray16)
    # literal spec fixture: one pixel (0x1234, 0x0000, 0xFFFF)
    lit = b"P6\n1 1\n65535\n" + bytes([0x12, 0x34, 0, 0, 0xFF, 0xFF])
    assert _decode_ppm(lit).tolist() == [[[0x1234, 0x0000, 0xFFFF]]]
    # 8-bit path unchanged
    rgb8 = rng.integers(0, 256, (3, 3, 3)).astype(np.uint8)
    assert np.array_equal(_decode_ppm(encode_ppm(rgb8)), rgb8)


def _bmp32(pixels, comp):
    """Hand-assemble a 32-bpp bottom-up BMP (BI_RGB or BI_BITFIELDS
    with the standard 888 masks)."""
    import struct as _s

    import numpy as np

    h, w = pixels.shape[:2]
    masks = (
        _s.pack("<III", 0x00FF0000, 0x0000FF00, 0x000000FF)
        if comp == 3
        else b""
    )
    off = 54 + len(masks)
    img = b"".join(
        bytes(
            np.stack(
                [
                    pixels[y, :, 2],
                    pixels[y, :, 1],
                    pixels[y, :, 0],
                    np.full(w, 0xAA, np.uint8),
                ],
                axis=-1,
            )
            .astype(np.uint8)
            .tobytes()
        )
        for y in range(h - 1, -1, -1)
    )
    header = _s.pack("<2sIHHI", b"BM", off + len(img), 0, 0, off)
    info = _s.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 32, comp, len(img), 2835, 2835, 0, 0
    )
    return header + info + masks + img


def test_bmp_32bpp_and_palette_variants(spark):
    """r9 seam: 32-bit BGRX/BGRA (BI_RGB and standard-mask
    BI_BITFIELDS) and 8-bit palette BMPs. The 32-bit forms are also
    cross-validated against javax.imageio's BMP reader on the same
    bytes."""
    import struct as _s

    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.multimodal import (
        _decode_bmp,
    )

    rng = np.random.default_rng(33)
    px = rng.integers(0, 256, (6, 5, 3)).astype(np.uint8)
    for comp in (0, 3):
        raw = _bmp32(px, comp)
        assert np.array_equal(_decode_bmp(raw), px)
        # third-party agreement on the same bytes
        jvm = spark._jvm
        stream = jvm.java.io.ByteArrayInputStream(bytearray(raw))
        img = jvm.javax.imageio.ImageIO.read(stream)
        assert img is not None
        for y in range(6):
            for x in range(5):
                rgb = img.getRGB(x, y)
                assert (
                    (rgb >> 16) & 255,
                    (rgb >> 8) & 255,
                    rgb & 255,
                ) == tuple(int(v) for v in px[y, x])

    # 8-bit palette: 3-wide rows pad to 4. Palette entries are BGRX:
    # index i -> B=i, G=255-i, R=i^0x5A
    pal = bytes(b for i in range(256) for b in (i, 255 - i, i ^ 0x5A, 0))
    idx = np.array([[0, 7, 255], [1, 128, 3]], np.uint8)
    rows = b"".join(
        idx[y].tobytes() + b"\x00" for y in range(1, -1, -1)
    )
    off = 54 + 1024
    raw8 = (
        _s.pack("<2sIHHI", b"BM", off + len(rows), 0, 0, off)
        + _s.pack("<IiiHHIIiiII", 40, 3, 2, 1, 8, 0, len(rows), 0, 0, 0, 0)
        + pal
        + rows
    )
    got = _decode_bmp(raw8)
    want = np.array(
        [[(i ^ 0x5A, 255 - i, i) for i in row] for row in idx], np.uint8
    )
    assert np.array_equal(got, want)

    # non-standard bitfields still raise loudly
    import pytest as _pytest

    bad = bytearray(_bmp32(px, 3))
    bad[54:58] = _s.pack("<I", 0x0000F800)  # 565-style mask
    with _pytest.raises(NotImplementedError):
        _decode_bmp(bytes(bad))


def test_wav_variant_decodes(spark):
    """r9 seam: 8-bit, 24-bit, float32, and EXTENSIBLE WAV layouts.
    Each fixture is hand-assembled; the integer forms are additionally
    header-validated by javax.sound.sampled on the same bytes."""
    import struct as _s

    import numpy as np

    from bigdata_pipelines_aws_glue_spark.operators.multimodal import (
        decode_wav,
    )

    def wav(fmt_code, bits, ch, rate, data, ext_sub=None):
        if ext_sub is None:
            fmt_body = _s.pack(
                "<HHIIHH", fmt_code, ch, rate,
                rate * ch * bits // 8, ch * bits // 8, bits,
            )
        else:
            guid = _s.pack("<H", ext_sub) + bytes.fromhex(
                "0000000010800080" + "00aa00389b71"
            )
            fmt_body = _s.pack(
                "<HHIIHHHHI", 0xFFFE, ch, rate,
                rate * ch * bits // 8, ch * bits // 8, bits,
                22, bits, 0b11 if ch == 2 else 0b1,
            ) + guid
        chunks = (
            b"fmt " + _s.pack("<I", len(fmt_body)) + fmt_body
            + (b"\x00" * (len(fmt_body) & 1))
            + b"data" + _s.pack("<I", len(data)) + data
        )
        return b"RIFF" + _s.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    rng = np.random.default_rng(55)

    # 8-bit unsigned mono
    u8 = rng.integers(0, 256, 40).astype(np.uint8)
    s, r = decode_wav(wav(1, 8, 1, 8000, u8.tobytes()))
    assert r == 8000 and s.dtype == np.uint8 and np.array_equal(s, u8)

    # 24-bit mono incl. negative values
    i24 = np.array([0, 1, -1, 8388607, -8388608, 123456, -123456], np.int32)
    raw24 = b"".join(
        int(v & 0xFFFFFF).to_bytes(3, "little") for v in i24
    )
    s, r = decode_wav(wav(1, 24, 1, 44100, raw24))
    assert s.dtype == np.int32 and np.array_equal(s, i24)

    # float32 stereo
    f32 = rng.standard_normal((9, 2)).astype(np.float32)
    s, r = decode_wav(wav(3, 32, 2, 16000, f32.tobytes()))
    assert s.dtype == np.float32 and np.array_equal(s, f32)

    # EXTENSIBLE wrapping PCM 24-bit
    s, r = decode_wav(wav(None, 24, 1, 22050, raw24, ext_sub=1))
    assert np.array_equal(s, i24)
    # EXTENSIBLE wrapping float32
    s, r = decode_wav(
        wav(None, 32, 2, 22050, f32.tobytes(), ext_sub=3)
    )
    assert np.array_equal(s, f32)

    # javax.sound.sampled agrees on the integer-form headers
    jvm = spark._jvm
    for raw, want_bits, want_ch, want_rate, n_frames in (
        (wav(1, 8, 1, 8000, u8.tobytes()), 8, 1, 8000, len(u8)),
        (wav(1, 24, 1, 44100, raw24), 24, 1, 44100, len(i24)),
    ):
        stream = jvm.java.io.ByteArrayInputStream(bytearray(raw))
        ais = jvm.javax.sound.sampled.AudioSystem.getAudioInputStream(
            stream
        )
        f = ais.getFormat()
        assert f.getSampleSizeInBits() == want_bits
        assert f.getChannels() == want_ch
        assert int(f.getSampleRate()) == want_rate
        assert ais.getFrameLength() == n_frames

    # mu-law decodes since r10 (javax-pinned G.711 expansion)
    from bigdata_pipelines_aws_glue_spark.operators.multimodal import (
        ulaw_to_pcm16,
    )

    s, r = decode_wav(wav(7, 8, 1, 8000, u8.tobytes()))
    assert np.array_equal(s, ulaw_to_pcm16(u8))

    # remaining compressed formats (MS ADPCM, MP3) still raise loudly
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_wav(wav(2, 4, 1, 8000, u8.tobytes()))  # MS ADPCM
    with _pytest.raises(NotImplementedError):
        decode_wav(wav(0x55, 0, 1, 8000, u8.tobytes()))  # MP3
