"""The banded-ANN kernel (``operators/similarity.py``'s ``_bands`` +
``_probe``) against a pure-Python replay on hand-built signatures, the
one signature builder ``sign_words`` against its DuckDB twin on a
vector shorter than 64 dims, and the partition- and AQE-invariance of
the queries built on the kernel."""

from __future__ import annotations

import duckdb
import pytest

from bigdata_pipelines_aws_glue_spark.operators.similarity import (
    MIH_PROBE_FLIPS,
    MW_OFFSETS,
    N_QUERIES,
    PROBE_MASKS,
    _bands,
    _probe,
    _sql_sigs,
    ann_lsh_multiprobe_topk,
    binary_mih_topk,
    binary_multiword_mih_multiprobe_topk,
    dedup_embedding_cosine,
    sign_words,
)
from bigdata_pipelines_aws_glue_spark.sources.local import local_frame

U64 = (1 << 64) - 1


def _signed(w: int) -> int:
    """An unsigned 64-bit word as the bigint Spark stores."""
    return w - (1 << 64) if w >= 1 << 63 else w


def _flip_every_key(w: int, bits: int) -> int:
    """``w`` with the low bit of each of its ``bits``-wide keys
    flipped: no key stays equal, each is one probe flip away."""
    return w ^ sum(1 << (bits * k) for k in range(64 // bits))


Q1 = (0x0123456789ABCDEF, 0xFEDCBA9876543210)
Q2 = (0x8000000000000001, 0x00FF00FF00FF00FF)
Q3 = (0xF0F0F0F0F0F0F0F0, 0x0F0F0F0F0F0F0F0F)


def signatures(bits: int) -> dict:
    """Two-word signatures (unsigned); queries are ids < N_QUERIES.
    60 shares only query 1's byte 11 (word 1, byte 3); 61 is query 2
    with every key one bit off, so only a probe finds it; 62 shares
    no key with any query; 63 has bit 63 set in both words and equals
    query 3 in word 0 only; 64 copies query 1."""
    return {
        1: Q1,
        2: Q2,
        3: Q3,
        60: (0x5555555555555555, (Q1[1] & (0xFF << 24)) | 0xAAAAAA0000AAAAAA),
        61: (_flip_every_key(Q2[0], bits), _flip_every_key(Q2[1], bits)),
        62: (0x3C3C3C3C3C3C3C3C, 0xC3C3C3C3C3C3C3C3),
        63: (Q3[0], 0x8000000000000000),
        64: Q1,
    }


def _keys(words: tuple[int, ...], n_bands: int, bits: int) -> set:
    per_word = 64 // bits
    return {
        (b, (words[b // per_word] >> ((b % per_word) * bits)) & ((1 << bits) - 1))
        for b in range(n_bands)
    }


def probe_replay(sigs: dict, n_bands: int, bits: int, masks: tuple) -> set:
    """(query, neighbor) pairs sharing a probed (band, key)."""
    out = set()
    for q, qs in sigs.items():
        if q >= N_QUERIES:
            continue
        probes = {(b, k ^ m) for b, k in _keys(qs, n_bands, bits) for m in masks}
        for n, ns in sigs.items():
            if n != q and probes & _keys(ns, n_bands, bits):
                out.add((q, n))
    return out


@pytest.mark.parametrize(
    "n_bands, bits, masks",
    [(16, 8, MIH_PROBE_FLIPS), (32, 4, PROBE_MASKS)],
)
def test_probe_matches_python_replay(spark, n_bands, bits, masks):
    sigs = signatures(bits)
    frame = local_frame(
        spark,
        [(i, [_signed(w) for w in ws]) for i, ws in sigs.items()],
        "vec_id long, sig array<bigint>",
    )
    bands = _bands(frame, n_bands, bits)
    for m in ((0,), masks):
        rows = _probe(bands, m).collect()
        pairs = [(r["query_id"], r["neighbor_id"]) for r in rows]
        assert len(pairs) == len(set(pairs))  # distinct
        assert set(pairs) == probe_replay(sigs, n_bands, bits, m), m
        for r in rows:  # the payload rides along untouched
            assert [w & U64 for w in r["q_sig"]] == list(sigs[r["query_id"]])
            assert [w & U64 for w in r["n_sig"]] == list(sigs[r["neighbor_id"]])
    plain = probe_replay(sigs, n_bands, bits, (0,))
    probed = probe_replay(sigs, n_bands, bits, masks)
    assert plain < probed
    assert {(1, 60), (1, 64), (3, 63)} <= plain
    assert (2, 61) in probed - plain
    assert not any(62 in p for p in plain)


def test_short_vector_signature_matches_twin(spark):
    """A vector shorter than 64 dims: missing dims give 0 bits in both
    engines. [0.5, -1.0, 2.0] has sign bits 0b101, one rank-order bit
    (0.5 > -1.0) at offset 1 and none at offset 17."""
    vec = [0.5, -1.0, 2.0]
    frame = local_frame(spark, [(1, vec)], "vec_id long, embedding array<float>")
    row = frame.select(
        sign_words("embedding", (0,)).alias("one"),
        sign_words("embedding", MW_OFFSETS).alias("multi"),
    ).first()
    assert row["one"] == [5]
    assert row["multi"] == [5, 1, 0]

    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.execute("INSERT INTO embeddings VALUES (1, [0.5, -1.0, 2.0])")
    one = con.sql(f"WITH {_sql_sigs((0,))} SELECT w0 FROM sigs").fetchall()
    multi = con.sql(
        f"WITH {_sql_sigs(MW_OFFSETS)} SELECT w0, w1, w2 FROM sigs"
    ).fetchall()
    assert [list(r) for r in one] == [row["one"]]
    assert [list(r) for r in multi] == [row["multi"]]


def test_banded_consumers_partition_and_aqe_invariant(spark, sf_dir):
    consumers = [
        ann_lsh_multiprobe_topk,
        binary_mih_topk,
        binary_multiword_mih_multiprobe_topk,
        dedup_embedding_cosine,
    ]
    keys = ["spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"]
    saved = [spark.conf.get(k) for k in keys]
    results = {}
    try:
        for parts in ("1", "7"):
            for aqe in ("true", "false"):
                spark.conf.set(keys[0], parts)
                spark.conf.set(keys[1], aqe)
                results[(parts, aqe)] = [
                    sorted(tuple(r) for r in fn(spark, sf_dir).collect())
                    for fn in consumers
                ]
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v)
    first, *rest = results.values()
    assert all(len(rows) > 0 for rows in first)
    for setting, rows in results.items():
        assert rows == first, setting
