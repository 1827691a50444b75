"""IMA ADPCM codec: cross-validated against CPython's ``audioop``
(the in-container third-party validator — its lin2adpcm/adpcm2lin
implement the same Intel/DVI state machine over a HIGH-nibble-first
raw stream, so comparisons reorder nibbles and thread explicit
(predictor, index) state per block), plus block framing, the
decode==encoder-prediction oracle property, and container dispatch.

The codec runs lane-parallel (numpy steps over many streams or
blocks at once); the per-sample scalar replay below is its spec, and
the lane codec must match it bit for bit."""

from __future__ import annotations

import struct

import numpy as np
import pytest

audioop = pytest.importorskip("audioop")  # removed in Python 3.13

import pandas as pd

from bigdata_pipelines_aws_glue_spark.operators import adpcm
from bigdata_pipelines_aws_glue_spark.operators.adpcm import (
    _BOUND_CODE,
    _CODE_BOUNDS,
    BLOCK_ALIGN,
    BLOCK_ALIGN_STEREO,
    INDEX_TABLE,
    SAMPLES_PER_BLOCK,
    STEP_TABLE,
    _decode_streams,
    _encode_streams,
    adpcm_roundtrip_batch,
    adpcm_stereo_batch,
    encode_wav_ima,
    ima_decode,
    ima_decode_stereo,
    ima_encode,
    ima_encode_stereo,
)
from bigdata_pipelines_aws_glue_spark.operators.multimodal import decode_wav

# ------------------------------------------------ scalar spec


def _encode_step(s: int, pred: int, index: int) -> tuple[int, int, int]:
    """One DVI compress step: (4-bit code, new predictor, new index).
    The new predictor equals what the decoder reconstructs."""
    step = STEP_TABLE[index]
    diff = s - pred
    sign = 8 if diff < 0 else 0
    if sign:
        diff = -diff
    delta = 0
    vpdiff = step >> 3
    if diff >= step:
        delta = 4
        diff -= step
        vpdiff += step
    step >>= 1
    if diff >= step:
        delta |= 2
        diff -= step
        vpdiff += step
    step >>= 1
    if diff >= step:
        delta |= 1
        vpdiff += step
    pred = pred - vpdiff if sign else pred + vpdiff
    pred = max(-32768, min(32767, pred))
    delta |= sign
    index = max(0, min(88, index + INDEX_TABLE[delta & 7]))
    return delta, pred, index


def _spec_codes(samples, spb):
    """Per block: (header sample, header index, codes), index carried."""
    index, out = 0, []
    for b0 in range(0, len(samples), spb):
        blk = [int(v) for v in samples[b0 : b0 + spb]]
        pred, head = blk[0], index
        codes = []
        for s in blk[1:]:
            code, pred, index = _encode_step(s, pred, index)
            codes.append(code)
        codes += [0] * (spb - 1 - len(codes))
        out.append((blk[0], head, codes))
    return out


def _pack(codes):
    return bytes(lo | (hi << 4) for lo, hi in zip(codes[0::2], codes[1::2]))


def spec_encode(samples, block_align=BLOCK_ALIGN):
    out = bytearray()
    for pred, index, codes in _spec_codes(samples, (block_align - 4) * 2 + 1):
        out += struct.pack("<hBB", pred, index, 0) + _pack(codes)
    return bytes(out)


def spec_encode_stereo(left, right, block_align=BLOCK_ALIGN_STEREO):
    spb = block_align - 7
    out = bytearray()
    for (pl, il, cl), (pr, ir, cr) in zip(
        _spec_codes(left, spb), _spec_codes(right, spb)
    ):
        out += struct.pack("<hBBhBB", pl, il, 0, pr, ir, 0)
        for g in range(0, spb - 1, 8):
            out += _pack(cl[g : g + 8]) + _pack(cr[g : g + 8])
    return bytes(out)


def _spec_expand(pred, index, codes):
    out = [pred]
    for code in codes:
        step = STEP_TABLE[index]
        vpdiff = step >> 3
        if code & 4:
            vpdiff += step
        if code & 2:
            vpdiff += step >> 1
        if code & 1:
            vpdiff += step >> 2
        pred = pred - vpdiff if code & 8 else pred + vpdiff
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + INDEX_TABLE[code & 7]))
        out.append(pred)
    return out


def _nibbles(body):
    return [v for b in body for v in (b & 0x0F, b >> 4)]


def spec_decode(data, block_align, n):
    spb, out = (block_align - 4) * 2 + 1, []
    for pos in range(0, -(-n // spb) * block_align, block_align):
        pred, index, _ = struct.unpack("<hBB", data[pos : pos + 4])
        codes = _nibbles(data[pos + 4 : pos + block_align])
        out += _spec_expand(pred, index, codes[: spb - 1])
    return out[:n]


def spec_decode_stereo(data, block_align, n):
    spb, out = block_align - 7, ([], [])
    for pos in range(0, -(-n // spb) * block_align, block_align):
        body = data[pos + 8 : pos + block_align]
        groups = [body[i : i + 4] for i in range(0, len(body), 4)]
        for c in (0, 1):
            pred, index, _ = struct.unpack(
                "<hBB", data[pos + 4 * c : pos + 4 * c + 4]
            )
            codes = _nibbles(b"".join(groups[c::2]))
            out[c].extend(_spec_expand(pred, index, codes[: spb - 1]))
    return [list(v) for v in zip(out[0][:n], out[1][:n])]


# ------------------------------------------------ tests


def _pcm(n, seed=5):
    rng = np.random.default_rng(seed)
    return rng.integers(-32768, 32768, n).astype(np.int64)


def _blocks(data, n_total):
    """(first_sample, index, nibble_bytes, n_samples) per block."""
    pos, k = 0, 0
    while k < n_total:
        pred, idx, _ = struct.unpack("<hBB", data[pos : pos + 4])
        nib = data[pos + 4 : pos + BLOCK_ALIGN]
        pos += BLOCK_ALIGN
        n = min(SAMPLES_PER_BLOCK, n_total - k)
        yield pred, idx, nib, n
        k += n


def test_encoder_matches_audioop_nibble_for_nibble():
    pcm = _pcm(333)
    data = ima_encode(pcm)
    idx = 0
    checked = 0
    for b0, (pred, bidx, nib, bn) in zip(
        range(0, len(pcm), SAMPLES_PER_BLOCK), _blocks(data, len(pcm))
    ):
        blk = pcm[b0 : b0 + SAMPLES_PER_BLOCK]
        assert pred == blk[0] and bidx == idx  # header = sample + carry
        frag, state = audioop.lin2adpcm(
            blk[1:].astype("<i2").tobytes(), 2, (int(pred), idx)
        )
        n = bn - 1
        # audioop's output buffer drops a trailing odd nibble (its
        # size is len/(size*2)) — compare the pairs-complete prefix
        ncmp = (n // 2) * 2
        ours = [
            (nib[j >> 1] & 0xF) if j % 2 == 0 else (nib[j >> 1] >> 4)
            for j in range(ncmp)
        ]  # WAV: LOW nibble first
        theirs = [
            (frag[j >> 1] >> 4) if j % 2 == 0 else (frag[j >> 1] & 0xF)
            for j in range(ncmp)
        ]  # audioop: HIGH nibble first
        assert ours == theirs
        checked += ncmp
        idx = state[1]
    assert checked > 300  # multi-block coverage actually happened


def test_decoder_matches_audioop_sample_for_sample():
    pcm = _pcm(333, seed=7)
    data = ima_encode(pcm)
    ours = ima_decode(data, BLOCK_ALIGN, len(pcm))
    theirs = []
    for pred, bidx, nib, bn in _blocks(data, len(pcm)):
        theirs.append(pred)
        n = bn - 1
        swapped = bytes(((b & 0xF) << 4) | (b >> 4) for b in nib)
        frag, _ = audioop.adpcm2lin(
            swapped[: (n + 1) // 2], 2, (int(pred), bidx)
        )
        theirs.extend(
            int(v) for v in np.frombuffer(frag, dtype="<i2")[:n]
        )
    assert np.array_equal(ours.astype(int), np.array(theirs))


def test_decode_equals_encoder_prediction_sequence():
    """The property the DuckDB oracle replays: reconstructed samples
    ARE the encoder's prediction sequence."""
    pcm = _pcm(200, seed=9)
    dec = ima_decode(ima_encode(pcm), BLOCK_ALIGN, len(pcm))
    preds, idx = [], 0
    for b0 in range(0, len(pcm), SAMPLES_PER_BLOCK):
        blk = pcm[b0 : b0 + SAMPLES_PER_BLOCK]
        p = int(blk[0])
        preds.append(p)
        for s in blk[1:]:
            _, p, idx = _encode_step(int(s), p, idx)
            preds.append(p)
    assert np.array_equal(dec.astype(int), np.array(preds))


def test_container_roundtrip_and_fact_trim():
    for n in (1, 2, 64, 65, 66, 130, 333):
        pcm = _pcm(n, seed=n)
        wav = encode_wav_ima(pcm)
        samples, rate = decode_wav(wav)
        assert rate == 8000 and samples.dtype == np.int16
        assert len(samples) == n  # fact chunk trims block padding
        assert np.array_equal(
            samples, ima_decode(ima_encode(pcm), BLOCK_ALIGN, n)
        )


def test_stereo_channels_match_audioop_and_mono_state_machine():
    """Stereo framing (two channel headers + interleaved 4-byte code
    groups): each de-interleaved channel must decode exactly as the
    mono state machine — pinned per channel against audioop with
    threaded block state, across block boundaries."""
    from bigdata_pipelines_aws_glue_spark.operators.adpcm import (
        BLOCK_ALIGN_STEREO,
        ima_decode_stereo,
        ima_encode_stereo,
    )

    n = 333
    rng = np.random.default_rng(17)
    left = rng.integers(-32768, 32768, n).astype(np.int64)
    right = rng.integers(-32768, 32768, n).astype(np.int64)
    data = ima_encode_stereo(left, right)
    dec = ima_decode_stereo(data, BLOCK_ALIGN_STEREO, n)
    spb = BLOCK_ALIGN_STEREO - 7
    pos, k = 0, 0
    ref = {0: [], 1: []}
    while k < n:
        heads = [
            struct.unpack("<hBB", data[pos + 4 * c : pos + 4 * c + 4])
            for c in (0, 1)
        ]
        body = data[pos + 8 : pos + BLOCK_ALIGN_STEREO]
        pos += BLOCK_ALIGN_STEREO
        groups = [body[i : i + 4] for i in range(0, len(body), 4)]
        nibs = {0: b"".join(groups[0::2]), 1: b"".join(groups[1::2])}
        take = min(spb, n - k)
        for c in (0, 1):
            pred, bidx, _ = heads[c]
            ref[c].append(pred)
            m = take - 1
            swapped = bytes(
                ((b & 0xF) << 4) | (b >> 4) for b in nibs[c]
            )
            frag, _ = audioop.adpcm2lin(
                swapped[: (m + 1) // 2], 2, (int(pred), bidx)
            )
            ref[c].extend(
                int(v) for v in np.frombuffer(frag, dtype="<i2")[:m]
            )
        k += take
    for c in (0, 1):
        assert np.array_equal(dec[:, c].astype(int), np.array(ref[c]))


def test_stereo_container_roundtrip_shapes():
    from bigdata_pipelines_aws_glue_spark.operators.adpcm import (
        BLOCK_ALIGN_STEREO,
        ima_decode_stereo,
        ima_encode_stereo,
    )

    for n in (1, 2, 64, 65, 66, 130, 333):
        left = _pcm(n, seed=n)
        right = _pcm(n, seed=n + 1000)
        wav = encode_wav_ima(left, right=right)
        frames, rate = decode_wav(wav)
        assert rate == 8000 and frames.shape == (n, 2)
        assert np.array_equal(
            frames,
            ima_decode_stereo(
                ima_encode_stereo(left, right), BLOCK_ALIGN_STEREO, n
            ),
        )


def test_reconstruction_tracks_smooth_signal():
    """ADPCM is lossy but adaptive: on a smooth signal the
    reconstruction error must be far below full scale."""
    t = np.arange(2000)
    pcm = (8000 * np.sin(t / 25.0)).astype(np.int64)
    dec = ima_decode(ima_encode(pcm), BLOCK_ALIGN, len(pcm)).astype(
        np.int64
    )
    err = np.abs(dec - pcm)
    assert float(err.mean()) < 100 and int(err.max()) < 2000


def test_truncated_block_body_raises_value_error():
    """A data chunk cut mid-block must raise a descriptive
    ValueError (not IndexError) — ADVICE r10: header checks existed
    but the nibble body walk could index past the buffer."""
    pcm = _pcm(SAMPLES_PER_BLOCK + 10)
    data = ima_encode(pcm)
    with pytest.raises(ValueError, match="truncated block body"):
        ima_decode(data[: BLOCK_ALIGN + 6], BLOCK_ALIGN, len(pcm))
    with pytest.raises(ValueError, match="truncated block header"):
        ima_decode(data[: BLOCK_ALIGN + 3], BLOCK_ALIGN, len(pcm))
    # the last block needs only the bytes that hold its codes
    assert len(ima_decode(data[: BLOCK_ALIGN + 9], BLOCK_ALIGN, len(pcm)))
    # stereo: 9 codes per channel in the last block, the right
    # channel's ninth in its second group (byte 12 of the body)
    stereo = ima_encode_stereo(pcm, pcm)
    with pytest.raises(ValueError, match="truncated block body"):
        ima_decode_stereo(stereo[: BLOCK_ALIGN_STEREO + 20], BLOCK_ALIGN_STEREO, len(pcm))
    assert len(ima_decode_stereo(stereo[: BLOCK_ALIGN_STEREO + 21], BLOCK_ALIGN_STEREO, len(pcm)))


def test_oracle_emits_zero_row_for_null_and_empty_text():
    """ADVICE r10: the ADPCM oracles must not drop NULL-text docs —
    the kernel emits a (0,0,0) row via ``text or \"\"``, so the twin
    must coalesce NULL to '' and keep the doc_id."""
    duckdb = pytest.importorskip("duckdb")
    from bigdata_pipelines_aws_glue_spark.operators.adpcm import (
        AUDIO_ADPCM_ORACLE,
        AUDIO_ADPCM_STEREO_ORACLE,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES"
        " (1, 'ab'), (2, NULL), (3, '')) t(doc_id, text)"
    )
    mono = dict(
        (r[0], r[1:])
        for r in con.execute(AUDIO_ADPCM_ORACLE).fetchall()
    )
    stereo = dict(
        (r[0], r[1:])
        for r in con.execute(AUDIO_ADPCM_STEREO_ORACLE).fetchall()
    )
    assert set(mono) == set(stereo) == {1, 2, 3}
    assert mono[2] == mono[3] == (0, 0, 0)
    assert stereo[2] == stereo[3] == (0, 0, 0)


def _mixed_lanes():
    """Lengths around the block edges, plus full-scale alternating
    samples that drive the step index to 88 and clip the predictor."""
    lanes = [_pcm(n, seed=n) for n in (0, 1, 2, 65, 66, 130, 131)]
    lanes.append(np.resize(np.array([32767, -32768], np.int64), 300))
    lanes.append(_pcm(333, seed=11))
    return lanes


#: 0 steps every lane in lockstep to its end; 4 hands the four longest
#: lanes to the scalar tail mid-block (at sample 66); 16 runs them all
#: in the scalar tail
SCALAR_SPLITS = pytest.mark.parametrize("scalar_lanes", [0, 4, 16])


@SCALAR_SPLITS
def test_lane_codec_matches_scalar_spec_mono(monkeypatch, scalar_lanes):
    monkeypatch.setattr(adpcm, "SCALAR_LANES", scalar_lanes)
    lanes = _mixed_lanes()
    datas = _encode_streams(lanes, 1, BLOCK_ALIGN)
    assert datas == [spec_encode(x) for x in lanes]
    decoded = _decode_streams(
        [(d, len(x)) for d, x in zip(datas, lanes)], 1, BLOCK_ALIGN
    )
    for d, x, out in zip(datas, lanes, decoded):
        assert out.dtype == np.int16
        assert out.tolist() == spec_decode(d, BLOCK_ALIGN, len(x))
    full = datas[7]
    assert full[2 * BLOCK_ALIGN + 2] == 88  # carried index, third block
    assert {32767, -32768} <= set(decoded[7].tolist())


@SCALAR_SPLITS
def test_lane_codec_matches_scalar_spec_stereo(monkeypatch, scalar_lanes):
    monkeypatch.setattr(adpcm, "SCALAR_LANES", scalar_lanes)
    lanes = []
    for x in _mixed_lanes():
        lanes += [x, -np.clip(x, -32767, None)[::-1]]
    datas = _encode_streams(lanes, 2, BLOCK_ALIGN_STEREO)
    assert datas == [
        spec_encode_stereo(lanes[i], lanes[i + 1])
        for i in range(0, len(lanes), 2)
    ]
    decoded = _decode_streams(
        [(d, len(lanes[2 * i])) for i, d in enumerate(datas)],
        2,
        BLOCK_ALIGN_STEREO,
    )
    for i, (d, out) in enumerate(zip(datas, decoded)):
        n = len(lanes[2 * i])
        assert out.shape == (n, 2)
        assert out.tolist() == spec_decode_stereo(d, BLOCK_ALIGN_STEREO, n)


def test_batch_kernels_match_scalar_spec():
    """The registry kernels on one batch: text byte counts give 0, 1,
    2, 65, 66, 130 and 131 samples (odd counts zero-padded), and a
    NULL text."""
    texts = [
        "x" * n for n in (0, 1, 3, 4, 129, 132, 260, 261)
    ] + [None]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    mono = next(adpcm_roundtrip_batch(iter([pdf])))
    stereo = next(adpcm_stereo_batch(iter([pdf])))
    for i, text in enumerate(texts):
        b = (text or "").encode()
        pcm = np.frombuffer(b + b"\x00" * (len(b) % 2), "<i2")
        s = spec_decode(spec_encode(pcm), BLOCK_ALIGN, len(pcm))
        peak = max(map(abs, s), default=0)
        assert tuple(mono.iloc[i]) == (i, len(s), sum(s), peak)
        left, right = pcm[0::2], np.resize(pcm[1::2], len(pcm[0::2]))
        right[len(pcm[1::2]) :] = 0
        f = spec_decode_stereo(
            spec_encode_stereo(left, right), BLOCK_ALIGN_STEREO, len(left)
        )
        assert tuple(stereo.iloc[i]) == (
            i,
            len(f),
            sum(v[0] for v in f),
            sum(v[1] for v in f),
        )


def test_code_search_table_matches_greedy_dvi_rule():
    """Every step index and every int16 difference: the interval table
    picks the code the bit-by-bit DVI rule of ``_encode_step`` picks."""
    diff = np.arange(-65535, 65536, dtype=np.int64)
    mag = np.abs(diff)
    for index, step in enumerate(STEP_TABLE):
        c4 = mag >= step
        r = mag - step * c4
        c2 = r >= step >> 1
        c1 = r - (step >> 1) * c2 >= step >> 2
        want = 8 * (diff < 0) + 4 * c4 + 2 * c2 + c1
        key = _BOUND_CODE[_CODE_BOUNDS.searchsorted((index << 17) + diff, "right")]
        assert np.array_equal(key >> 4, np.full(len(diff), index)), index
        assert np.array_equal(key & 15, want), index


def test_sample_outside_int16_raises_value_error():
    with pytest.raises(ValueError, match="int16"):
        ima_encode(np.array([0, 32768]))
    with pytest.raises(ValueError, match="int16"):
        ima_encode_stereo(np.array([-32769, 0]), np.array([0, 0]))


def test_skewed_batch_matches_spec_in_memory_of_its_length():
    """One long document among many short ones: rows still match the
    spec, and the encoder's memory follows the total length, not the
    number of lanes times the longest one (that would be about 80 MB
    per int32 matrix here)."""
    import tracemalloc

    long = "".join(chr(33 + i * 7919 % 90) for i in range(200_000))
    texts = ["ab" * (40 + i) for i in range(200)] + [long]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    tracemalloc.start()
    try:
        mono = next(adpcm_roundtrip_batch(iter([pdf])))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    total = sum(len(t) // 2 for t in texts)
    assert peak < 200 * total, peak  # bytes
    for i in (0, 57, 199, 200):
        pcm = np.frombuffer(texts[i].encode(), "<i2")
        s = spec_decode(spec_encode(pcm), BLOCK_ALIGN, len(pcm))
        assert tuple(mono.iloc[i]) == (i, len(s), sum(s), max(map(abs, s)))
