"""IMA/DVI ADPCM WAV codec ([north-star] N4 adjacency; no reference
citation — the reference has no audio). Closes the ADPCM half of the
compressed-audio seam (VERDICT_r9 item 8): WAV format tag 0x0011,
4-bit IMA ADPCM in the standard block framing (4-byte block header =
initial predictor int16 + step index + reserved; then two LOW-nibble-
first samples per byte; the step index carries ACROSS blocks, the
predictor resets to each block's first sample).

Honesty of the close (the build's "no validator → stays a seam"
rule): the per-nibble compress/expand state machine is the classic
Intel/DVI algorithm, cross-validated in ``tests/test_adpcm.py``
against CPython's ``audioop`` (``lin2adpcm``/``adpcm2lin`` implement
the same DVI arithmetic over a high-nibble-first raw stream, so the
tests compare under nibble reorder with explicit initial state).
MS ADPCM (tag 0x0002) has no in-container validator and stays a loud
seam at ``decode_wav``'s dispatch.

Oracle design — a FULL hash oracle, not a bounds boolean: an ADPCM
encoder tracks its decoder's state exactly (each step's new
prediction IS what the decoder will reconstruct), so
``decode(encode(pcm))`` equals the encoder's prediction sequence.
The DuckDB twin therefore replays the ENCODER state machine from the
synth recipe's PCM as a recursive CTE (one level per sample index,
all documents advance in lockstep — the ``cdc_clamped_chunks``
pattern) and aggregates the same per-doc sums the Spark kernel
computes from the REAL container bytes. A hash match proves encoder,
container framing, and decoder end to end.

Scale notes (100 TB): both kernels are Arrow-batched ``mapInPandas``
map-only passes over KB-sized payloads — the same shape as every
other modality kernel; no shuffle beyond the input partitioning.
The codec runs lane-parallel: encoding steps every stream of an Arrow
batch (one lane per document, or per document and channel) through
one numpy step per sample position, since the step index carries
across blocks; decoding steps every block of the batch at once, since
each block header restarts the state. The encoder keeps all streams in
one flat buffer, longest first, and each step touches only the streams
not yet finished, so its memory and work follow the batch's total
length, not its stream count times its longest stream; once at most
``SCALAR_LANES`` streams are left it finishes each in a plain Python
loop, so a lone long stream pays no numpy call per sample. Measured on
a 4-core host (CPU per sample, round trip with container writing and
reading, against the per-sample loop this replaced): 62-document
batches of the sf0.1 corpus (742k samples) 1.0 µs against 3.2 µs; one
batch of 999 corpus documents plus one 200k-sample document 0.95 µs
against 2.8 µs; ``ima_encode`` of one 100k-sample stream 1.2 µs
against 1.6 µs.
"""

from __future__ import annotations

import struct
from bisect import bisect_right
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

#: IMA/DVI step-size table (89 entries) and index-adjustment table —
#: fixed by the IMA ADPCM specification (and byte-identical in
#: CPython's audioop implementation of the same algorithm).
STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660,
    4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493,
    10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385,
    24623, 27086, 29794, 32767,
)
INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)

#: WAV block align for the synth corpus: 36 bytes → 65 samples per
#: block, so ~150-sample documents span 3 blocks and the cross-block
#: index carry is ON the attested path (a 256-byte align would leave
#: most docs single-block and the framing untested).
BLOCK_ALIGN = 36
SAMPLES_PER_BLOCK = (BLOCK_ALIGN - 4) * 2 + 1  # 65

WAVE_FMT_IMA_ADPCM = 0x11

#: stereo block align: 72 → 65 samples/block/channel, matching the
#: mono profile (align 36) so both paths exercise multi-block docs.
BLOCK_ALIGN_STEREO = 72


def _step_tables() -> tuple[np.ndarray, ...]:
    """Flat lookup tables of one DVI step, keyed ``index * 16 + code``:
    the signed vpdiff and the next step index. Plus the encoder's
    code search: for step index i the code is a step function of the
    signed difference ``s - pred`` (in [-65535, 65535]) with 16
    intervals. ``bounds`` holds each interval's lower bound
    ``+ i * 2**17``, so that the rows of all 89 indexes form one sorted
    array, and ``bound_code`` the key ``i * 16 + code`` of each
    interval (after a leading 0), so
    ``bound_code[bounds.searchsorted(key, "right")]`` picks the code
    for ``key = i * 2**17 + s - pred``."""
    step = np.array(STEP_TABLE, dtype=np.int32)[:, None]
    code = np.arange(16, dtype=np.int32)[None, :]
    # magnitude thresholds: the greedy 3-bit code of |s - pred| is the
    # largest c with mag[c] <= |s - pred| (mag rises strictly: step >= 7)
    mag = (
        np.where(code & 4, step, 0)
        + np.where(code & 2, step >> 1, 0)
        + np.where(code & 1, step >> 2, 0)
    )
    vp = np.where(code & 8, -1, 1) * ((step >> 3) + mag)
    nxt = np.clip(
        np.arange(89, dtype=np.int32)[:, None]
        + np.array(INDEX_TABLE, dtype=np.int32)[code & 7],
        0,
        88,
    )
    # ascending s - pred: codes 15..8 (negative), then 0..7
    order = np.r_[15:7:-1, 0:8]
    low = np.concatenate(
        [np.full((89, 1), -65536), 1 - mag[:, 7:0:-1], mag[:, :8]], axis=1
    )
    rows = np.arange(89)[:, None]
    bounds = (low + (rows << 17)).ravel()
    bound_code = np.r_[0, (rows * 16 + order).ravel()].astype(np.int32)
    return vp.ravel(), nxt.ravel(), bounds.astype(np.int32), bound_code


_VPDIFF, _NEXT_INDEX, _CODE_BOUNDS, _BOUND_CODE = _step_tables()
# the same tables as lists, for the scalar steps of ``_encode_tail``
_BOUNDS_LIST, _BOUND_CODE_LIST = _CODE_BOUNDS.tolist(), _BOUND_CODE.tolist()
_VPDIFF_LIST, _NEXT_INDEX_LIST = _VPDIFF.tolist(), _NEXT_INDEX.tolist()
_NEXT_KEY = _NEXT_INDEX << 17  # the next index as a code-search row

#: the encoder finishes a batch in a scalar loop per stream once no
#: more than this many of its streams are unfinished: one numpy step
#: over a few lanes costs about as much as this many scalar steps
#: (about 14 µs against 0.9 µs a step on a 4-core x86 host)
SCALAR_LANES = 16


def _layout(block_align: int, channels: int) -> tuple[int, int, int]:
    """(body bytes per channel, bytes per interleave group, samples
    per block per channel). Stereo bodies interleave 4-byte (8-code)
    channel groups, so their per-channel body must be a multiple of
    4; a mono body is one group."""
    body = (block_align - 4 * channels) // channels
    if body < 0 or (channels == 2 and body % 4):
        raise ValueError(
            f"IMA ADPCM: bad block align {block_align} for "
            f"{channels} channel(s)"
        )
    group = 4 if channels == 2 else max(body, 1)
    return body, group, 2 * body + 1


def _encode_tail(
    x: list, t: int, pred: int, index: int, spb: int
) -> tuple[list, list]:
    """Scalar DVI-compress of one stream ``x`` from sample ``t`` on,
    given the state there: the codes of samples ``t..`` (0 at block
    starts) and the step index of each block started on the way."""
    bounds, bound_code = _BOUNDS_LIST, _BOUND_CODE_LIST
    vpdiff, next_index = _VPDIFF_LIST, _NEXT_INDEX_LIST
    codes, heads = [], []
    for s in x[t:]:
        if t % spb == 0:
            heads.append(index)
            pred = s
            codes.append(0)
        else:
            k = bound_code[bisect_right(bounds, (index << 17) + s - pred)]
            codes.append(k & 15)
            pred = min(max(pred + vpdiff[k], -32768), 32767)
            index = next_index[k]
        t += 1
    return codes, heads


def _encode_flat(
    pcm: np.ndarray, starts: np.ndarray, lengths: np.ndarray, spb: int
) -> tuple[np.ndarray, np.ndarray]:
    """DVI-compress independent streams in lockstep. Stream j's samples
    are ``pcm[starts[j] : starts[j] + lengths[j]]``, each stream padded
    to whole blocks of ``spb``. Returns the codes (same layout as
    ``pcm``; 0 at block starts and in padding) and the step index of
    every block (``starts // spb`` layout). The step index carries
    across blocks and the predictor restarts at each block's first
    sample; each step's new predictor is what the decoder will
    reconstruct for its code, the property the oracle replays.

    Streams are taken longest first, so the unfinished ones at step t
    are a prefix and each step touches only those: work and memory
    stay in proportion to the total length. The last few streams
    finish in ``_encode_tail``, so a lone long stream pays no numpy
    call per sample."""
    keys = np.zeros(len(pcm), dtype=np.int16)
    head_idx = np.zeros(len(pcm) // spb, dtype=np.uint8)
    order = np.argsort(-lengths, kind="stable")
    off, n = starts[order], lengths[order].tolist()
    pred = np.zeros(len(order), dtype=np.int32)
    ikey = np.zeros(len(order), dtype=np.int32)  # step index << 17
    a, t = len(n), 0
    o, p, ik = off, pred, ikey
    while True:
        while a and n[a - 1] <= t:
            a -= 1
        if a <= SCALAR_LANES:
            break
        if len(o) != a:
            o, p, ik = off[:a], pred[:a], ikey[:a]
        pos = o + t
        s = pcm.take(pos)
        if t % spb == 0:
            head_idx[pos // spb] = ik >> 17
            p[:] = s
        else:
            k = _BOUND_CODE.take(
                _CODE_BOUNDS.searchsorted(ik + s - p, "right")
            )
            keys[pos] = k
            p += _VPDIFF.take(k)
            np.maximum(p, -32768, out=p)
            np.minimum(p, 32767, out=p)
            _NEXT_KEY.take(k, out=ik)
        t += 1
    b = -(-t // spb)  # the first block the scalar tail starts
    for j in range(a):
        o = int(off[j])
        x = pcm[o : o + n[j]].tolist()
        c, h = _encode_tail(x, t, int(pred[j]), int(ikey[j]) >> 17, spb)
        keys[o + t : o + n[j]] = c
        head_idx[o // spb + b : o // spb + b + len(h)] = h
    codes = (keys & 15).astype(np.uint8)
    return codes, head_idx


def _encode_streams(
    lanes: list, channels: int, block_align: int
) -> list[bytes]:
    """IMA-ADPCM ``data`` chunk bytes for many streams in one lockstep
    pass. ``lanes`` holds ``channels`` equal-length int16-range sample
    arrays per stream, channel-major within a stream; a sample outside
    the int16 range raises ``ValueError``. Every emitted block is
    full-size (the final partial block is zero-padded; the decoder
    trims by the fact-chunk sample count)."""
    body, group, spb = _layout(block_align, channels)
    lengths = np.array([len(x) for x in lanes], dtype=np.int64)
    n_blocks = -(-lengths // spb)
    starts = np.cumsum(n_blocks * spb) - n_blocks * spb
    pcm = np.zeros(int(n_blocks.sum()) * spb, dtype=np.int32)
    if lengths.sum():
        x = np.concatenate([np.asarray(v) for v in lanes])
        if x.min() < -32768 or x.max() > 32767:
            raise ValueError("IMA ADPCM: sample outside the int16 range")
        dest = np.repeat(starts - (np.cumsum(lengths) - lengths), lengths)
        pcm[dest + np.arange(len(x))] = x
    codes, head_idx = _encode_flat(pcm, starts, lengths, spb)
    hdr = np.zeros((len(head_idx), 4), dtype=np.uint8)
    hdr[:, :2] = pcm[::spb].astype("<i2").view(np.uint8).reshape(-1, 2)
    hdr[:, 2] = head_idx
    c = codes.reshape(-1, spb)[:, 1:]
    nib = c[:, 0::2] | (c[:, 1::2] << 4)
    # block b of a stream holds block b of each of its channel lanes,
    # whose blocks lie nb apart: rows[k, ch] for the k-th output block
    nb = n_blocks[::channels]
    k0 = np.cumsum(nb) - nb
    b = np.arange(int(nb.sum())) - np.repeat(k0, nb)
    rows = (np.repeat(starts[::channels] // spb, nb) + b)[:, None] + (
        np.repeat(nb, nb)[:, None] * np.arange(channels)
    )
    blocks = np.concatenate(
        [
            hdr[rows].reshape(len(rows), 4 * channels),
            nib[rows]
            .reshape(len(rows), channels, body // group, group)
            .transpose(0, 2, 1, 3)
            .reshape(len(rows), body * channels),
        ],
        axis=1,
    ).tobytes()
    return [
        blocks[i * block_align : j * block_align]
        for i, j in zip(k0.tolist(), (k0 + nb).tolist())
    ]


def ima_encode(samples, block_align: int = BLOCK_ALIGN) -> bytes:
    """int16 mono PCM → raw WAV IMA-ADPCM ``data`` chunk bytes."""
    return _encode_streams([np.asarray(samples)], 1, block_align)[0]


def ima_encode_stereo(
    left, right, block_align: int = BLOCK_ALIGN_STEREO
) -> bytes:
    """Stereo companion of ``ima_encode``: per-channel predictors
    reset per block, per-channel step indices carry across blocks,
    codes packed LOW-nibble-first inside interleaved 4-byte channel
    groups. Channels must be equal length (pad upstream)."""
    if len(left) != len(right):
        raise ValueError("stereo channels must be equal length")
    lanes = [np.asarray(left), np.asarray(right)]
    return _encode_streams(lanes, 2, block_align)[0]


def _block_lanes(
    data: bytes, block_align: int, channels: int, n: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Split one stream's ``data`` chunk into the blocks that hold its
    first ``n`` samples per channel: header sample, step index and
    codes per (block, channel) lane, in that order. Raises
    ``ValueError`` at the first block whose header or needed codes
    are cut off, or whose step index exceeds 88."""
    body, group, spb = _layout(block_align, channels)
    n_blocks = -(-n // spb)
    head = 4 * channels
    if n_blocks:
        last = n - (n_blocks - 1) * spb - 1  # codes in the last block
        if last:
            j = (last - 1) // 2  # byte of the last code, per channel
            need = (j // group) * group * channels
            need += (channels - 1) * group + j % group + 1
        else:
            need = 0
        short = len(data) < (n_blocks - 1) * block_align + head + need
    else:
        short = False
    # blocks whose header is present, each checked before its body
    usable = 0
    if len(data) >= head:
        usable = min(n_blocks, (len(data) - head) // block_align + 1)
    buf = np.zeros(n_blocks * block_align, dtype=np.uint8)
    got = np.frombuffer(data[: len(buf)], dtype=np.uint8)
    buf[: len(got)] = got
    buf = buf.reshape(n_blocks, block_align)
    hdr = buf[:, :head].reshape(n_blocks, channels, 4)
    idx = hdr[:, :, 2].astype(np.int32)
    bad = np.flatnonzero(idx[:usable].ravel() > 88)
    if len(bad):
        raise ValueError(
            f"IMA ADPCM: bad step index {idx[:usable].ravel()[bad[0]]}"
        )
    if short:
        k = min(len(data) // block_align, n_blocks - 1)
        part = "header" if len(data) < k * block_align + head else "body"
        raise ValueError(f"IMA ADPCM: truncated block {part}")
    pred = hdr[:, :, :2].copy().view("<i2")[..., 0].astype(np.int32)
    nib = (
        buf[:, head:]
        .reshape(n_blocks, body // group, channels, group)
        .transpose(0, 2, 1, 3)
        .reshape(n_blocks, channels, body)
    )
    codes = np.empty((n_blocks, channels, 2 * body), dtype=np.int32)
    codes[..., 0::2] = nib & 0x0F
    codes[..., 1::2] = nib >> 4
    return pred.ravel(), idx.ravel(), codes.reshape(-1, 2 * body)


def _expand(
    pred: np.ndarray, index: np.ndarray, codes: np.ndarray
) -> np.ndarray:
    """DVI-expand every block lane in lockstep from its header state:
    ``[lanes, 1 + codes per block]`` int32 samples."""
    out = np.empty((len(pred), codes.shape[1] + 1), dtype=np.int32)
    out[:, 0] = pred
    pred = pred.copy()
    for j in range(codes.shape[1]):
        k = index * 16 + codes[:, j]
        pred += _VPDIFF[k]
        np.maximum(pred, -32768, out=pred)
        np.minimum(pred, 32767, out=pred)
        index = _NEXT_INDEX[k]
        out[:, j + 1] = pred
    return out


def _decode_streams(
    streams: list[tuple[bytes, int]], channels: int, block_align: int
) -> list[np.ndarray]:
    """Decode many ``(data chunk, samples per channel)`` streams with
    one lockstep expand over all of their blocks: int16 ``(n,)`` per
    mono stream, ``(n, 2)`` per stereo one."""
    if not streams:
        return []
    parts = [_block_lanes(d, block_align, channels, n) for d, n in streams]
    samples = _expand(*(np.concatenate(p) for p in zip(*parts)))
    out, row = [], 0
    spb = samples.shape[1]
    for (_, n), p in zip(streams, parts):
        lanes = samples[row : row + len(p[0])]
        row += len(p[0])
        frames = lanes.reshape(-1, channels, spb).transpose(0, 2, 1)
        frames = frames.reshape(-1, channels)[:n].astype(np.int16)
        out.append(frames if channels == 2 else frames[:, 0])
    return out


def ima_decode(
    data: bytes, block_align: int, n_samples: int
) -> np.ndarray:
    """Raw ``data`` chunk bytes → int16 mono PCM (``n_samples`` from
    the fact chunk bounds the final partial block)."""
    return _decode_streams([(data, n_samples)], 1, block_align)[0]


def ima_decode_stereo(
    data: bytes, block_align: int, n_frames: int
) -> np.ndarray:
    """Stereo WAV IMA-ADPCM block layout: TWO 4-byte channel headers
    (left then right), then the codes interleaved in 4-byte (8-code)
    channel groups — left group, right group, ... Returns (n, 2)
    int16. Samples per block per channel = block_align - 7 (the
    standard ``(block_align - 4*ch) * 8 / (4*ch) + 1`` for ch=2)."""
    return _decode_streams([(data, n_frames)], 2, block_align)[0]


def ima_length(
    data: bytes, block_align: int, channels: int, fact: int | None
) -> int:
    """Samples per channel of a ``data`` chunk: the fact chunk's
    count, else every block's full count."""
    if fact is not None:
        return fact
    return (len(data) // block_align) * _layout(block_align, channels)[2]


def _wav_container(
    data: bytes, n: int, channels: int, block_align: int, rate: int
) -> bytes:
    """RIFF/WAVE container around IMA-ADPCM ``data``: fmt tag 0x0011
    with the cbSize=2 wSamplesPerBlock extension, the spec-required
    ``fact`` chunk carrying the exact per-channel sample count ``n``,
    then data."""
    spb = _layout(block_align, channels)[2]
    byte_rate = (rate * block_align + spb - 1) // spb  # avg, per spec
    fmt_body = struct.pack(
        "<HHIIHHHH",
        WAVE_FMT_IMA_ADPCM,
        channels,
        rate,
        byte_rate,
        block_align,
        4,  # bits per sample
        2,  # cbSize
        spb,
    )
    chunks = (
        b"fmt "
        + struct.pack("<I", len(fmt_body))
        + fmt_body
        + b"fact"
        + struct.pack("<II", 4, n)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def encode_wav_ima(
    samples,
    sample_rate: int | None = None,
    block_align: int | None = None,
    right=None,
) -> bytes:
    """IMA-ADPCM WAV file of ``samples``. Pass ``right`` for stereo
    (``samples`` becomes the left channel)."""
    from bigdata_pipelines_aws_glue_spark.operators.multimodal import (
        AUDIO_SAMPLE_RATE,
    )

    channels = 2 if right is not None else 1
    if block_align is None:
        block_align = BLOCK_ALIGN_STEREO if channels == 2 else BLOCK_ALIGN
    if channels == 2:
        data = ima_encode_stereo(samples, right, block_align)
    else:
        data = ima_encode(samples, block_align)
    rate = sample_rate or AUDIO_SAMPLE_RATE
    return _wav_container(data, len(samples), channels, block_align, rate)


# ------------------------------------------------- registry query


def _synth_pcm(texts) -> list[np.ndarray]:
    """The established audio recipe: a document's text bytes as
    little-endian int16 pairs, odd tail zero-padded."""
    out = []
    for text in texts:
        b = (text or "").encode()
        out.append(np.frombuffer(b + b"\x00" * (len(b) % 2), dtype="<i2"))
    return out


def _wav_roundtrip(lanes: list, channels: int) -> list[np.ndarray]:
    """Encode every stream of ``lanes`` (see ``_encode_streams``) in one
    pass, wrap each in a REAL WAV container, read each back through
    ``decode_wav``'s chunk walk, and decode all of their blocks in one
    pass: the reconstructed samples per stream."""
    from bigdata_pipelines_aws_glue_spark.operators.multimodal import (
        AUDIO_SAMPLE_RATE,
        wav_chunks,
    )

    block_align = BLOCK_ALIGN_STEREO if channels == 2 else BLOCK_ALIGN
    datas = _encode_streams(lanes, channels, block_align)
    back = []
    for data, lane in zip(datas, lanes[::channels]):
        wav = _wav_container(
            data, len(lane), channels, block_align, AUDIO_SAMPLE_RATE
        )
        fmt, body, fact = wav_chunks(wav)
        tag, ch, _rate, ba, bits = fmt
        if (tag, ch, ba, bits) != (
            WAVE_FMT_IMA_ADPCM, channels, block_align, 4
        ):
            raise ValueError(f"IMA ADPCM WAV read back as {fmt}")
        back.append((body, ima_length(body, ba, ch, fact)))
    return _decode_streams(back, channels, block_align)


ADPCM_SCHEMA = "doc_id long, n_samples int, pcm_sum long, peak long"


def adpcm_roundtrip_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: synth PCM from text bytes, round-trip the
    whole batch through real IMA-ADPCM WAV containers
    (``_wav_roundtrip``), and emit per-doc sums of the RECONSTRUCTED
    samples."""
    for pdf in batches:
        rows = []
        decoded = _wav_roundtrip(_synth_pcm(pdf["text"]), 1)
        for doc_id, samples in zip(pdf["doc_id"], decoded):
            s = samples.astype(np.int64)
            rows.append(
                (
                    doc_id,
                    len(s),
                    int(s.sum()),
                    int(np.abs(s).max()) if len(s) else 0,
                )
            )
        yield pd.DataFrame(
            rows, columns=["doc_id", "n_samples", "pcm_sum", "peak"]
        )


def multimodal_audio_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: IMA-ADPCM round-trip attestation (full hash
    oracle — see module docstring for why the twin can replay exact
    reconstructed values without the byte stream)."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    docs = load_table(spark, sf_dir, "documents")
    return (
        spread(docs.select("doc_id", "text"))
        .mapInPandas(adpcm_roundtrip_batch, schema=ADPCM_SCHEMA)
        .select("doc_id", "n_samples", "pcm_sum", "peak")
    )


_SQL_STEPS = "[" + ", ".join(str(v) for v in STEP_TABLE) + "]"
_SQL_IDX = "[" + ", ".join(str(v) for v in INDEX_TABLE) + "]"

#: Recursive replay of the encoder state machine (lockstep over all
#: docs, one level per sample index). Block boundary: sample k is a
#: block start iff (k-1) % SAMPLES_PER_BLOCK == 0 — there the
#: predictor resets to the raw sample and the index carries.
#: PRECONDITION (same as the G.711 oracle, multimodal.py): the
#: corpus text is ASCII, so ``ascii(substr(text, i, 1))`` (character
#: indexing) equals the i-th encoded BYTE the kernel consumes. On
#: non-ASCII text the two diverge (DuckDB 1.0 has no BLOB substr).
#: NULL text is coalesced to '' so every doc_id gets a (0,0,0) row,
#: matching the kernel's ``text or ""``.
AUDIO_ADPCM_ORACLE = f"""
WITH RECURSIVE
t AS (SELECT doc_id, coalesce(text, '') AS text,
             CAST(ceil(octet_length(encode(coalesce(text, ''))) / 2.0)
                  AS BIGINT) AS n
      FROM documents),
walk AS (
    SELECT doc_id, CAST(1 AS BIGINT) AS k,
           s1 AS pred, 0 AS idx,
           s1 AS acc, abs(s1) AS peak
    FROM (
        SELECT doc_id, n,
               CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
                    AS BIGINT) AS s1
        FROM (
            SELECT doc_id, n,
                   ascii(substr(text, 1, 1))
                   + 256 * CASE WHEN length(text) >= 2
                                THEN ascii(substr(text, 2, 1))
                                ELSE 0 END AS v
            FROM t WHERE n >= 1
        )
    )
    UNION ALL
    SELECT w.doc_id, w.k + 1,
           CASE WHEN b.bnd THEN sx.s ELSE p.rawpred END,
           CASE WHEN b.bnd THEN w.idx
                ELSE least(88, greatest(0, w.idx + {_SQL_IDX}[
                    (CASE WHEN g.d4 THEN 4 ELSE 0 END)
                    + (CASE WHEN g.d2 THEN 2 ELSE 0 END)
                    + (CASE WHEN g.d1 THEN 1 ELSE 0 END) + 1])) END,
           w.acc + (CASE WHEN b.bnd THEN sx.s ELSE p.rawpred END),
           greatest(w.peak,
                    abs(CASE WHEN b.bnd THEN sx.s ELSE p.rawpred END))
    FROM walk w
    JOIN t ON t.doc_id = w.doc_id AND w.k < t.n
    CROSS JOIN LATERAL (
        SELECT CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
                    AS BIGINT) AS s
        FROM (
            SELECT ascii(substr(t.text,
                                CAST(2 * (w.k + 1) - 1 AS INTEGER), 1))
                   + 256 * CASE WHEN length(t.text) >= 2 * (w.k + 1)
                                THEN ascii(substr(t.text,
                                        CAST(2 * (w.k + 1) AS INTEGER), 1))
                                ELSE 0 END AS v
        )
    ) sx
    CROSS JOIN LATERAL (
        SELECT (w.k % {SAMPLES_PER_BLOCK}) = 0 AS bnd
    ) b
    CROSS JOIN LATERAL (
        SELECT {_SQL_STEPS}[CAST(w.idx AS INTEGER) + 1] AS st,
               abs(sx.s - w.pred) AS adiff
    ) l0
    CROSS JOIN LATERAL (SELECT l0.adiff >= l0.st AS d4) l1
    CROSS JOIN LATERAL (
        SELECT l0.adiff - CASE WHEN l1.d4 THEN l0.st ELSE 0 END AS r2
    ) l2
    CROSS JOIN LATERAL (SELECT l2.r2 >= l0.st // 2 AS d2) l3
    CROSS JOIN LATERAL (
        SELECT l2.r2 - CASE WHEN l3.d2 THEN l0.st // 2 ELSE 0 END AS r1
    ) l4
    CROSS JOIN LATERAL (SELECT l4.r1 >= l0.st // 4 AS d1) l5
    CROSS JOIN LATERAL (
        SELECT l1.d4 AS d4, l3.d2 AS d2, l5.d1 AS d1,
               l0.st // 8
               + (CASE WHEN l1.d4 THEN l0.st ELSE 0 END)
               + (CASE WHEN l3.d2 THEN l0.st // 2 ELSE 0 END)
               + (CASE WHEN l5.d1 THEN l0.st // 4 ELSE 0 END) AS vp
    ) g
    CROSS JOIN LATERAL (
        SELECT CASE WHEN sx.s < w.pred
                    THEN greatest(-32768, w.pred - g.vp)
                    ELSE least(32767, w.pred + g.vp) END AS rawpred
    ) p
)
SELECT w.doc_id,
       CAST(w.k AS INT) AS n_samples,
       CAST(w.acc AS BIGINT) AS pcm_sum,
       CAST(w.peak AS BIGINT) AS peak
FROM walk w JOIN t USING (doc_id) WHERE w.k = t.n
UNION ALL
SELECT doc_id, 0 AS n_samples, CAST(0 AS BIGINT) AS pcm_sum,
       CAST(0 AS BIGINT) AS peak
FROM t WHERE n = 0
"""


ADPCM_STEREO_SCHEMA = (
    "doc_id long, n_frames int, left_sum long, right_sum long"
)


def adpcm_stereo_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Stereo kernel: the synth PCM stream de-interleaves into
    left = even-index samples / right = odd-index (right zero-padded
    when the stream is odd), and the batch round-trips through REAL
    stereo IMA-ADPCM containers (``_wav_roundtrip``)."""
    for pdf in batches:
        lanes = []
        for pcm in _synth_pcm(pdf["text"]):
            left, right = pcm[0::2], pcm[1::2]
            lanes += [left, np.append(right, [0] * (len(left) - len(right)))]
        rows = []
        decoded = _wav_roundtrip(lanes, 2)
        for doc_id, frames in zip(pdf["doc_id"], decoded):
            f = frames.astype(np.int64)
            rows.append(
                (doc_id, f.shape[0], int(f[:, 0].sum()), int(f[:, 1].sum()))
            )
        yield pd.DataFrame(
            rows, columns=["doc_id", "n_frames", "left_sum", "right_sum"]
        )


def multimodal_audio_adpcm_stereo(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry entry: STEREO IMA-ADPCM round-trip attestation —
    closes the mono-only limitation the mono query shipped with.
    Same full-hash-oracle argument (decode == per-channel encoder
    prediction sequence); the twin's recursive walk adds a channel
    dimension, so both channels' carried step indices and per-block
    predictor resets replay independently."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    docs = load_table(spark, sf_dir, "documents")
    return (
        spread(docs.select("doc_id", "text"))
        .mapInPandas(adpcm_stereo_batch, schema=ADPCM_STEREO_SCHEMA)
        .select("doc_id", "n_frames", "left_sum", "right_sum")
    )


#: Stereo twin: identical encode-step lateral chain, with channel ch
#: (0 = left, 1 = right) threaded through the walk. Channel ch's
#: sample k is interleaved PCM sample j = 2(k-1) + ch + 1 (0 beyond
#: the stream = the right-channel pad); samples per block per channel
#: is block_align - 7 = 65. Same PRECONDITION as the mono oracle:
#: ASCII corpus (char indexing == byte indexing), NULL text coalesced
#: to '' so every doc_id gets a zero row like the kernel's
#: ``text or ""``.
_STEREO_SPB = BLOCK_ALIGN_STEREO - 7

AUDIO_ADPCM_STEREO_ORACLE = f"""
WITH RECURSIVE
t AS (SELECT doc_id, coalesce(text, '') AS text,
             CAST(ceil(octet_length(encode(coalesce(text, ''))) / 2.0)
                  AS BIGINT) AS np,
             CAST(ceil(ceil(octet_length(encode(coalesce(text, ''))) / 2.0)
                       / 2.0) AS BIGINT) AS nf
      FROM documents),
walk AS (
    SELECT doc_id, ch, CAST(1 AS BIGINT) AS k,
           s1 AS pred, 0 AS idx, s1 AS acc
    FROM (
        SELECT doc_id, ch, nf,
               CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
                    AS BIGINT) AS s1
        FROM (
            SELECT doc_id, nf, c.ch,
                   CASE WHEN (c.ch + 1) > np THEN 0 ELSE
                     ascii(substr(text,
                           CAST(2 * (c.ch + 1) - 1 AS INTEGER), 1))
                     + 256 * CASE WHEN length(text) >= 2 * (c.ch + 1)
                                  THEN ascii(substr(text,
                                       CAST(2 * (c.ch + 1) AS INTEGER), 1))
                                  ELSE 0 END
                   END AS v
            FROM t CROSS JOIN (SELECT unnest([0, 1]) AS ch) c
            WHERE nf >= 1
        )
    )
    UNION ALL
    SELECT w.doc_id, w.ch, w.k + 1,
           CASE WHEN b.bnd THEN sx.s ELSE p.rawpred END,
           CASE WHEN b.bnd THEN w.idx
                ELSE least(88, greatest(0, w.idx + {_SQL_IDX}[
                    (CASE WHEN l1.d4 THEN 4 ELSE 0 END)
                    + (CASE WHEN l3.d2 THEN 2 ELSE 0 END)
                    + (CASE WHEN l5.d1 THEN 1 ELSE 0 END) + 1])) END,
           w.acc + (CASE WHEN b.bnd THEN sx.s ELSE p.rawpred END)
    FROM walk w
    JOIN t ON t.doc_id = w.doc_id AND w.k < t.nf
    CROSS JOIN LATERAL (
        SELECT CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
                    AS BIGINT) AS s
        FROM (
            SELECT CASE WHEN (2 * w.k + w.ch + 1) > t.np THEN 0 ELSE
                     ascii(substr(t.text,
                           CAST(2 * (2 * w.k + w.ch + 1) - 1
                                AS INTEGER), 1))
                     + 256 * CASE WHEN length(t.text)
                                       >= 2 * (2 * w.k + w.ch + 1)
                                  THEN ascii(substr(t.text,
                                       CAST(2 * (2 * w.k + w.ch + 1)
                                            AS INTEGER), 1))
                                  ELSE 0 END
                   END AS v
        )
    ) sx
    CROSS JOIN LATERAL (
        SELECT (w.k % {_STEREO_SPB}) = 0 AS bnd
    ) b
    CROSS JOIN LATERAL (
        SELECT {_SQL_STEPS}[CAST(w.idx AS INTEGER) + 1] AS st,
               abs(sx.s - w.pred) AS adiff
    ) l0
    CROSS JOIN LATERAL (SELECT l0.adiff >= l0.st AS d4) l1
    CROSS JOIN LATERAL (
        SELECT l0.adiff - CASE WHEN l1.d4 THEN l0.st ELSE 0 END AS r2
    ) l2
    CROSS JOIN LATERAL (SELECT l2.r2 >= l0.st // 2 AS d2) l3
    CROSS JOIN LATERAL (
        SELECT l2.r2 - CASE WHEN l3.d2 THEN l0.st // 2 ELSE 0 END AS r1
    ) l4
    CROSS JOIN LATERAL (SELECT l4.r1 >= l0.st // 4 AS d1) l5
    CROSS JOIN LATERAL (
        SELECT l0.st // 8
               + (CASE WHEN l1.d4 THEN l0.st ELSE 0 END)
               + (CASE WHEN l3.d2 THEN l0.st // 2 ELSE 0 END)
               + (CASE WHEN l5.d1 THEN l0.st // 4 ELSE 0 END) AS vp
    ) g
    CROSS JOIN LATERAL (
        SELECT CASE WHEN sx.s < w.pred
                    THEN greatest(-32768, w.pred - g.vp)
                    ELSE least(32767, w.pred + g.vp) END AS rawpred
    ) p
)
SELECT t.doc_id,
       CAST(t.nf AS INT) AS n_frames,
       CAST(max(CASE WHEN w.ch = 0 THEN w.acc END) AS BIGINT)
           AS left_sum,
       CAST(max(CASE WHEN w.ch = 1 THEN w.acc END) AS BIGINT)
           AS right_sum
FROM walk w JOIN t ON t.doc_id = w.doc_id AND w.k = t.nf
GROUP BY t.doc_id, t.nf
UNION ALL
SELECT doc_id, 0 AS n_frames, CAST(0 AS BIGINT) AS left_sum,
       CAST(0 AS BIGINT) AS right_sum
FROM t WHERE nf = 0
"""


def _register() -> None:
    registry.register(
        "multimodal_audio_adpcm", multimodal_audio_adpcm, AUDIO_ADPCM_ORACLE
    )
    registry.register(
        "multimodal_audio_adpcm_stereo",
        multimodal_audio_adpcm_stereo,
        AUDIO_ADPCM_STEREO_ORACLE,
    )
