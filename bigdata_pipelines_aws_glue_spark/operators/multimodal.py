"""Multimodal columns ([north-star] N4, BASELINE.json:6).

Pattern for image/audio/video at 100 TB: payloads are opaque
``binary`` columns with typed metadata travelling beside them;
decode / feature-extraction runs as Arrow-batched ``mapInPandas``
so each Python worker touches a columnar batch, never a row at a
time.

The container ships no imaging libraries, so the codecs here are
real, dependency-free numpy implementations: binary PPM/PGM (P6/P5),
uncompressed 24-bit BMP, spec-complete PNG (color types
gray/RGB/palette/gray+alpha/RGBA at every legal bit depth 1/2/4/8/16,
sequential or Adam7-interlaced), and — in ``jpeg.py`` —
baseline-sequential AND progressive JPEG per ITU-T T.81 (the
dominant formats of real image corpora), all round-trip tested and
the JPEG + PNG-variant paths cross-validated against
``javax.imageio`` in BOTH directions (their reader on our bytes,
our reader on their writer's palette/bilevel/gray output). The
synthetic corpus payloads are REAL encoded images; ``decode_image``
dispatches on the magic bytes and actually decodes them; animated
GIF (full LZW, ``gif.py``) is a real multi-frame path with its own
query. Remaining formats (arithmetic/hierarchical JPEG, non-MJPEG/
GIF video codecs) raise ``NotImplementedError`` at the same dispatch
point — the PIL/ffmpeg integration seam at deploy time.

``multimodal_bytes_meta`` — the metadata/integrity pass (sizes,
digests) — is pure JVM expressions and oracle-checked.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

#: Output schema of the feature-extraction pass.
FEATURE_SCHEMA = (
    "doc_id long, n_bytes int, mean_byte double, byte_entropy double, "
    "width int, height int"
)


# ---------------------------------------------------------------- codecs


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Binary PPM (P6, RGB (H,W,3)) / PGM (P5, gray (H,W)) encoder.
    uint16 input emits the 16-bit form (maxval 65535, big-endian
    samples per the PNM spec); everything else is 8-bit."""
    wide = pixels.dtype == np.uint16
    if pixels.ndim == 3:
        magic, arr = b"P6", pixels.astype(">u2" if wide else np.uint8)
        h, w = arr.shape[:2]
    else:
        magic, arr = b"P5", pixels.astype(">u2" if wide else np.uint8)
        h, w = arr.shape
    maxval = 65535 if wide else 255
    return magic + f"\n{w} {h}\n{maxval}\n".encode() + arr.tobytes()


def _decode_ppm(payload: bytes) -> np.ndarray:
    depth = 3 if payload[:2] == b"P6" else 1
    i, vals = 2, []
    while len(vals) < 3:
        while i < len(payload):
            c = payload[i : i + 1]
            if c == b"#":  # comment runs to end of line
                while i < len(payload) and payload[i : i + 1] != b"\n":
                    i += 1
            elif c.isspace():
                i += 1
            else:
                break
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        vals.append(int(payload[i:j]))
        i = j
    i += 1  # exactly one whitespace separates maxval from the raster
    w, h, maxval = vals
    if maxval > 65535:
        raise ValueError(f"PNM maxval {maxval} out of spec")
    if maxval > 255:
        # 16-bit form (r9): two-byte big-endian samples per the spec
        raster = np.frombuffer(
            payload, ">u2", count=w * h * depth, offset=i
        ).astype(np.uint16)
    else:
        raster = np.frombuffer(
            payload, np.uint8, count=w * h * depth, offset=i
        )
    return raster.reshape((h, w, 3)) if depth == 3 else raster.reshape((h, w))


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER, bottom-up, BGR,
    rows padded to 4 bytes) from an (H, W, 3) RGB array."""
    arr = pixels.astype(np.uint8)
    h, w = arr.shape[:2]
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    pad = b"\x00" * (row_size - w * 3)
    rows = [
        arr[y, :, ::-1].tobytes() + pad for y in range(h - 1, -1, -1)
    ]
    return header + info + b"".join(rows)


def _decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit BI_RGB plus, since r9, the two other uncompressed forms
    in the wild: 32-bit BGRX/BGRA (BI_RGB, or BI_BITFIELDS with the
    standard 888 masks — alpha is dropped, BMP has no compositing
    semantics) and 8-bit palette (BGRX color table after the 40-byte
    info header). RLE and non-standard bitfields still raise."""
    off = int.from_bytes(payload[10:14], "little")
    hdr_size = int.from_bytes(payload[14:18], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    bottom_up, h = h > 0, abs(h)
    if bpp == 24 and comp == 0:
        row_size = (w * 3 + 3) & ~3
        arr = np.frombuffer(payload, np.uint8, count=row_size * h, offset=off)
        px = arr.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]
    elif bpp == 32 and comp in (0, 3):
        if comp == 3:
            masks = struct.unpack(
                "<III", payload[14 + hdr_size : 26 + hdr_size]
            ) if hdr_size == 40 else struct.unpack("<III", payload[54:66])
            if masks != (0x00FF0000, 0x0000FF00, 0x000000FF):
                raise NotImplementedError(
                    f"BMP non-standard bitfields {masks}"
                )
        arr = np.frombuffer(payload, np.uint8, count=w * 4 * h, offset=off)
        px = arr.reshape(h, w, 4)[:, :, 2::-1]  # BGRA -> RGB
    elif bpp == 8 and comp == 0:
        n_colors = int.from_bytes(payload[46:50], "little") or 256
        pal_off = 14 + hdr_size
        pal = np.frombuffer(
            payload, np.uint8, count=4 * n_colors, offset=pal_off
        ).reshape(n_colors, 4)[:, 2::-1]  # BGRX -> RGB
        row_size = (w + 3) & ~3
        arr = np.frombuffer(payload, np.uint8, count=row_size * h, offset=off)
        px = pal[arr.reshape(h, row_size)[:, :w]]
    else:
        raise NotImplementedError(f"BMP variant bpp={bpp} comp={comp}")
    return (px[::-1] if bottom_up else px).copy()


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


#: Adam7 pass origins/strides (PNG spec §8.2): (x0, y0, dx, dy).
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def encode_png(pixels: np.ndarray, interlace: bool = False) -> bytes:
    """PNG encoder (stdlib zlib + numpy): color type 2 (RGB) for
    (H, W, 3) input, 0 (grayscale) for (H, W); bit depth 8 for uint8
    input, 16 (big-endian samples) for uint16; optional Adam7
    interlacing (each pass is an independently-filtered sub-image in
    spec pass order; empty passes emit no bytes). Scanlines use
    filter 0 — valid PNG any decoder reads; compression comes from
    zlib itself."""
    arr = np.asarray(pixels)
    depth = 16 if arr.dtype == np.uint16 else 8
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, 0 if gray else 2, 0, 0,
        1 if interlace else 0,
    )
    a3 = arr.reshape(h, w, -1)

    def rows(sub: np.ndarray) -> bytes:
        flat = sub.reshape(sub.shape[0], -1)
        conv = flat.astype(">u2") if depth == 16 else flat.astype(np.uint8)
        return b"".join(b"\x00" + conv[y].tobytes() for y in range(len(conv)))

    if not interlace:
        raster = rows(a3)
    else:
        raster = b"".join(
            rows(a3[y0::dy, x0::dx])
            for x0, y0, dx, dy in _ADAM7
            if a3[y0::dy, x0::dx].size
        )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raster, 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_unfilter(
    raw: bytes, pos: int, stride: int, ph: int, bpp: int
) -> tuple[np.ndarray, int]:
    """Unfilter one (sub-)image of ``ph`` scanlines of ``stride``
    bytes with the previous-pixel offset at ``bpp`` bytes (= the
    pixel's byte width, floored to 1 for sub-byte depths, per spec),
    starting at ``pos`` in the inflated stream. All five filter
    types; 0/2 vectorize, 1/3/4 are the per-byte recurrence the spec
    defines. Returns the byte raster and the new stream position."""
    out = np.zeros((ph, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(ph):
        f = raw[pos]
        line = np.frombuffer(
            raw, np.uint8, count=stride, offset=pos + 1
        ).astype(np.int32)
        pos += stride + 1
        if f == 0:
            cur = line
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        elif f in (1, 3, 4):  # Sub / Average / Paeth: byte recurrence
            cur = np.zeros(stride, dtype=np.int32)
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) >> 1
                else:
                    pred = _png_paeth(int(a), int(b), int(c))
                cur[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = cur
        prev = cur
    return out, pos


def _png_samples(
    raw: bytes, pos: int, pw: int, ph: int, channels: int, depth: int
) -> tuple[np.ndarray, int]:
    """Unfilter + unpack one (sub-)image to a (ph, pw, channels)
    uint8 array of byte samples (16-bit samples keep their high
    byte — the standard 16->8 tone mapping; sub-byte samples stay as
    raw index/level values for the caller to scale or palette-map)."""
    sw = max(1, depth // 8)
    stride = (pw * channels * depth + 7) // 8
    bpp = max(1, channels * depth // 8)
    img, pos = _png_unfilter(raw, pos, stride, ph, bpp)
    if depth >= 8:
        # big-endian samples: byte 0 of each sample is the value (8-bit)
        # or the high byte (16-bit)
        return (
            img.reshape(ph, pw, channels, sw)[..., 0].copy(),
            pos,
        )
    # 1/2/4-bit: MSB-first packed samples, scanline-padded to bytes
    bits = np.unpackbits(img, axis=1)  # (ph, stride*8)
    n = pw * channels
    groups = bits[:, : n * depth].reshape(ph, n, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    vals = (groups * weights).sum(axis=2).astype(np.uint8)
    return vals.reshape(ph, pw, channels), pos


def _decode_png(payload: bytes) -> np.ndarray:
    """Full-coverage PNG decoder: color types 0 (gray), 2 (RGB),
    3 (palette), 4 (gray+alpha), 6 (RGBA); bit depths 1/2/4/8/16 as
    the spec allows per type; sequential or Adam7-interlaced layout
    (seven independently-filtered sub-images scattered to their spec
    origin/stride grids). Chunk walk -> zlib inflate -> unfilter ->
    bit-unpack -> palette map / gray scale. 16-bit samples reduce to
    their high byte, sub-byte grays scale by 255/(2^d-1) (exact
    integers), and alpha drops, so every codec here lands on the
    same (H, W[, 3]) uint8 contract. Cross-validated against
    javax.imageio's PNG reader AND writer
    (tests/test_png_variants.py)."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + ln  # len + tag + body + crc
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    ok_depths = {
        0: (1, 2, 4, 8, 16),
        2: (8, 16),
        3: (1, 2, 4, 8),
        4: (8, 16),
        6: (8, 16),
    }.get(color, ())
    if (
        channels is None
        or depth not in ok_depths
        or comp != 0
        or interlace not in (0, 1)
        or (color == 3 and plte is None)
    ):
        raise NotImplementedError(
            f"PNG variant depth={depth} color={color} interlace={interlace}"
            " needs an external codec (PIL seam)"
        )
    raw = zlib.decompress(b"".join(idat))
    if interlace == 0:
        img, _ = _png_samples(raw, 0, w, h, channels, depth)
    else:
        img = np.zeros((h, w, channels), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = max(0, (w - x0 + dx - 1) // dx)
            ph = max(0, (h - y0 + dy - 1) // dy)
            if pw == 0 or ph == 0:
                continue
            sub, pos = _png_samples(raw, pos, pw, ph, channels, depth)
            img[y0::dy, x0::dx] = sub
    if color == 3:
        return plte[img.reshape(h, w)]
    if color == 0 and depth < 8:
        img = (img.astype(np.int32) * 255 // ((1 << depth) - 1)).astype(
            np.uint8
        )
    px = img[..., 0] if channels in (1, 2) else img
    px = px.reshape(h, w) if channels in (1, 2) else px.reshape(h, w, channels)
    return px[:, :, :3].copy() if channels == 4 else px


def decode_image(payload: bytes) -> np.ndarray:
    """Decode a binary image payload to an (H, W[, 3]) uint8 array.

    Real decoders for PPM/PGM, 24-bit BMP, spec-complete PNG (all
    color types and bit depths, sequential or Adam7-interlaced),
    and baseline-sequential + progressive JPEG (``jpeg.py``,
    cross-validated against javax.imageio output — numpy + stdlib
    only, see module docstring); animated GIF is decoded for real
    too (``gif.py``, full LZW, javax.imageio-cross-validated both
    directions) via its own frame query. Anything else — arithmetic/
    hierarchical JPEG, non-MJPEG/GIF video
    codecs — raises ``NotImplementedError`` here, the
    integration seam where a real deployment wires PIL / torchvision
    / ffmpeg."""
    if payload[:2] in (b"P5", b"P6"):
        return _decode_ppm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:8] == _PNG_SIG:
        return _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from bigdata_pipelines_aws_glue_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from bigdata_pipelines_aws_glue_spark.operators.tiff import decode_tiff

        return decode_tiff(payload)
    raise NotImplementedError(
        "codec for this format not available in this environment; "
        "wire PIL/torchvision/ffmpeg here at deploy time"
    )


# ------------------------------------------------------------- kernels


def extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: decode each payload and extract features
    from the REAL pixel array (dims from the parsed header, mean over
    decoded pixels) plus container-level byte entropy. One Python
    round-trip per Arrow batch, not per row."""
    for pdf in batches:
        feats = []
        for p in pdf["payload"]:
            arr = np.frombuffer(p, dtype=np.uint8)
            counts = np.bincount(arr, minlength=256)
            probs = counts[counts > 0] / max(len(arr), 1)
            entropy = float(-(probs * np.log2(probs)).sum()) if len(arr) else 0.0
            px = decode_image(p)
            h, w = px.shape[:2]
            feats.append((len(p), float(px.mean()), entropy, w, h))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": pd.Series([f[0] for f in feats], dtype="int32"),
                "mean_byte": [f[1] for f in feats],
                "byte_entropy": [f[2] for f in feats],
                "width": pd.Series([f[3] for f in feats], dtype="int32"),
                "height": pd.Series([f[4] for f in feats], dtype="int32"),
            }
        )


def resize_image(pixels: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize over a decoded (H, W[, 3]) array —
    numpy index arithmetic only (a real deployment swaps in
    PIL/opencv interpolation behind the same signature)."""
    h, w = pixels.shape[:2]
    rows = (np.arange(height) * h // height).clip(0, h - 1)
    cols = (np.arange(width) * w // width).clip(0, w - 1)
    return pixels[rows][:, cols]


def sample_frames(payload: bytes, n_frames: int = 4) -> list[bytes]:
    """Frame sampling for video-shaped payloads: evenly spaced byte
    windows standing in for decoded frames (ffmpeg keyframe extraction
    at deploy time; the *sampling policy* — even spacing over the
    stream — is the tested logic)."""
    if not payload:
        return []
    step = max(1, len(payload) // n_frames)
    return [payload[i : i + step] for i in range(0, len(payload), step)][
        :n_frames
    ]


RESIZED_SCHEMA = "doc_id long, out_w int, out_h int, mean_px double"
RESIZED_ORACLE_SCHEMA = (
    "doc_id long, codec int, out_w int, out_h int, px_sum long, src_sum long"
)
#: |resized-mean(decode(jpeg)) - resized-mean(source)| ceiling for the
#: lossy codec's attestation boolean. Observed max 12.1 at sf0.01
#: (nearest-neighbor sampling reads single lossy pixels, not block
#: means); a broken decoder lands tens-to-hundreds off.
JPEG_RESIZE_MEAN_TOL = 32.0
FRAMES_SCHEMA = (
    "doc_id long, frame_idx int, frame_bytes int, payload_bytes int, "
    "frame_digest string"
)


def resize_oracle_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel behind the HASH-ORACLED resize query: one
    pass per document runs the full synth -> encode -> REAL decode ->
    nearest-neighbor 16x16 resize chain and emits the resized
    pixel-value sum as an EXACT integer (768 uint8 addends — no float
    rounding anywhere), alongside the same sum taken over the
    pre-encode source raster. For the three lossless codecs the two
    sums are equal iff the decoder and resize are correct, and the
    DuckDB twin recomputes the source sum independently from the text
    recipe — so the hash match attests the decode chain. JPEG is
    lossy; its rows attest a tolerance boolean instead."""
    from bigdata_pipelines_aws_glue_spark.operators.jpeg import encode_jpeg

    encoders = (encode_ppm, encode_bmp, encode_png, encode_jpeg)
    for pdf in batches:
        rows = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            b = np.frombuffer((text or "").encode(), dtype=np.uint8)
            w, h = len(b) % 64 + 1, len(b) % 48 + 1
            px = np.resize(b, (h, w, 3))
            codec = int(doc_id % 4)
            decoded = decode_image(encoders[codec](px))
            px_sum = int(resize_image(decoded, 16, 16).astype(np.int64).sum())
            src_sum = int(resize_image(px, 16, 16).astype(np.int64).sum())
            rows.append((doc_id, codec, 16, 16, px_sum, src_sum))
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "codec", "out_w", "out_h", "px_sum", "src_sum"],
        )


def frame_sample_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: per payload, emit one row per sampled frame
    (fan-out kernel — output rows > input rows, the shape a video
    pipeline needs)."""
    import hashlib

    for pdf in batches:
        rows = []
        for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
            for i, frame in enumerate(sample_frames(p)):
                rows.append(
                    (
                        doc_id,
                        i,
                        len(frame),
                        len(p),  # container size, for the policy check
                        hashlib.sha256(frame).hexdigest()[:16],
                    )
                )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id",
                "frame_idx",
                "frame_bytes",
                "payload_bytes",
                "frame_digest",
            ],
        )


# ----------------------------------------------------- corpus payloads


def synth_image_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel synthesizing REAL encoded images from each
    document's text bytes: doc_id % 4 picks the codec — P6 PPM, 24-bit
    BMP, 8-bit RGB PNG, or baseline JPEG — so every downstream decode
    exercises all four, including the (lossy) entropy-coded format
    real corpora are dominated by. Deterministic — dims derive from
    the byte length, pixels tile the text bytes."""
    from bigdata_pipelines_aws_glue_spark.operators.jpeg import encode_jpeg

    encoders = (encode_ppm, encode_bmp, encode_png, encode_jpeg)
    for pdf in batches:
        payloads = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            b = np.frombuffer((text or "").encode(), dtype=np.uint8)
            w, h = len(b) % 64 + 1, len(b) % 48 + 1
            px = np.resize(b, (h, w, 3))
            payloads.append(encoders[doc_id % 4](px))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary image-payload column synthesized from document text (the
    corpus ships no real media; the payloads ARE real PPM/BMP
    encodings, so decode paths run genuinely)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "text").mapInPandas(
        synth_image_batch, schema="doc_id long, payload binary"
    )


def multimodal_features_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw feature rows (n_bytes / mean_byte / byte_entropy / dims)
    from genuinely decoded payloads — the analysis-facing shape."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    return spread(_payloads(spark, sf_dir)).mapInPandas(
        extract_features, schema=FEATURE_SCHEMA
    )


def _expected_container(nb):
    """Cross-engine container-size expressions for the synth payloads
    (dims from the recipe, then the codec's closed form): returns
    (codec, ppm_len, bmp_len, png_in) columns given the text byte
    length ``nb``. PNG has no closed form (deflate) — ``png_in`` is
    the raw filter+raster input size for the zlib-overhead bound."""
    w = nb % 64 + 1
    h = nb % 48 + 1
    raster = w * h * 3
    ppm_len = (
        F.lit(9)
        + F.length(w.cast("string"))
        + F.length(h.cast("string"))
        + raster
    )
    bmp_len = F.lit(54) + F.floor((w * 3 + 3) / 4) * 4 * h
    png_in = h * (F.lit(1) + w * 3)  # filter byte + row bytes
    return w, h, ppm_len, bmp_len, png_in


def _container_ok(codec, n_bytes, ppm_len, bmp_len, png_in):
    """n_bytes matches the codec's container: exact for PPM/BMP,
    zlib-overhead bound for PNG, fixed-headers + entropy bound for
    JPEG (~625 B of Annex-K tables, entropy data bounded by ~2x the
    raw raster for the noise-like tiled-text pixels)."""
    return (
        F.when(codec == 0, n_bytes == ppm_len)
        .when(codec == 1, n_bytes == bmp_len)
        .when(
            codec == 2,
            (n_bytes >= 40)
            & (n_bytes <= F.lit(134) + png_in + F.floor(png_in / 100)),
        )
        .otherwise(
            (n_bytes >= 500) & (n_bytes <= F.lit(800) + 2 * png_in)
        )
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode attestation for the feature pass (the bounds-boolean
    oracle contract of ``doc_compression_ratio``): WIDTH/HEIGHT come
    from the kernel's parse of the real encoded headers, while the
    DuckDB twin derives the same dims from the synth recipe
    (octet_length(text) % 64 + 1, % 48 + 1) — a hash match proves all
    three codecs decoded the actual containers. ``n_bytes_ok``
    asserts the container size: EXACT closed forms for PPM
    (9 + digits(w) + digits(h) + 3wh) and BMP (54 + padded-stride*h),
    a zlib-overhead bound for PNG (deflate has no closed form).
    ``stats_ok`` is only a degenerate-decode guard (an empty pixel
    array yields NaN stats, which fail every comparison) — the
    substantive decode proof is the dims equality; exact pixel means
    would need per-byte SQL access neither engine has. Raw values
    stay available via :func:`multimodal_features_raw`."""
    feats = multimodal_features_raw(spark, sf_dir)
    nb = F.length(F.encode("text", "UTF-8"))
    _w, _h, ppm_len, bmp_len, png_in = _expected_container(nb)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        ppm_len.alias("_ppm"),
        bmp_len.alias("_bmp"),
        png_in.alias("_pin"),
    )
    j = feats.join(docs, "doc_id")
    n_bytes_ok = _container_ok(
        F.col("doc_id") % 4,
        F.col("n_bytes"),
        F.col("_ppm"),
        F.col("_bmp"),
        F.col("_pin"),
    )
    stats_ok = (
        (F.col("mean_byte") >= 0.0)
        & (F.col("mean_byte") <= 255.0)
        & (F.col("byte_entropy") >= 0.0)
        & (F.col("byte_entropy") <= 8.0)
    )
    return j.select(
        "doc_id",
        "width",
        "height",
        n_bytes_ok.alias("n_bytes_ok"),
        stats_ok.alias("stats_ok"),
    )


MULTIMODAL_FEATURES_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) % 64 + 1 AS INT) AS width,
       CAST(octet_length(encode(text)) % 48 + 1 AS INT) AS height,
       TRUE AS n_bytes_ok,
       TRUE AS stats_ok
FROM documents
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + nearest-neighbor resize over the synthesized corpus,
    HASH-ORACLED (round 6; previously rows-only): nearest-neighbor is
    pure index selection, so the resized pixel sum of every LOSSLESS
    payload is replayable in SQL from the synthesis recipe — the
    DuckDB twin recomputes it from the text bytes, attesting the
    whole PPM/BMP/PNG decode + resize chain, not just row counts.
    JPEG rows (lossy by design) carry a tolerance boolean the twin
    asserts TRUE."""
    from bigdata_pipelines_aws_glue_spark.functions.rounding import (
        stable_round,
    )
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    raw = spread(docs).mapInPandas(
        resize_oracle_batch, schema=RESIZED_ORACLE_SCHEMA
    )
    mean = F.col("px_sum").cast("double") / F.lit(768.0)
    src_mean = F.col("src_sum").cast("double") / F.lit(768.0)
    return raw.select(
        "doc_id",
        "codec",
        "out_w",
        "out_h",
        F.when(F.col("codec") != 3, F.col("px_sum")).alias("px_sum"),
        F.when(F.col("codec") != 3, stable_round(mean, 6)).alias("mean_px"),
        (F.abs(mean - src_mean) <= F.lit(JPEG_RESIZE_MEAN_TOL)).alias(
            "mean_within_tol"
        ),
    )


# Corpus assumptions (pinned by tests, like the other payload
# oracles): documents.text is ASCII (length(text) chars == encoded
# byte count, so ascii(substr(...)) IS the payload byte) and the
# nb=0 guard below mirrors the kernel's np.resize zero-fill
# (empty source -> all-zero pixels -> px_sum 0), where a bare
# "% nb" would divide by zero in DuckDB.
MULTIMODAL_RESIZE_ORACLE = """
WITH d AS (
    SELECT doc_id, CAST(doc_id % 4 AS INT) AS codec, text,
           length(text) AS nb,
           length(text) % 64 + 1 AS w,
           length(text) % 48 + 1 AS h
    FROM documents
),
idx AS (
    SELECT i.i, j.j, ch.ch
    FROM generate_series(0, 15) i(i),
         generate_series(0, 15) j(j),
         generate_series(0, 2) ch(ch)
),
sel AS (
    SELECT d.doc_id,
           ascii(substr(d.text,
                CAST((((i * d.h // 16) * d.w + (j * d.w // 16)) * 3 + ch)
                     % d.nb AS BIGINT) + 1, 1)) AS byte
    FROM d CROSS JOIN idx
    WHERE d.nb > 0
),
s AS (
    SELECT doc_id, CAST(sum(byte) AS BIGINT) AS sel_sum
    FROM sel GROUP BY doc_id
)
SELECT d.doc_id, d.codec,
       CAST(16 AS INT) AS out_w, CAST(16 AS INT) AS out_h,
       CASE WHEN d.codec <> 3
            THEN coalesce(s.sel_sum, 0) END AS px_sum,
       CASE WHEN d.codec <> 3
            THEN floor((coalesce(s.sel_sum, 0) / 768.0) * 1000000.0 + 0.5)
                 / 1000000.0
       END AS mean_px,
       TRUE AS mean_within_tol
FROM d LEFT JOIN s USING (doc_id)
"""


def multimodal_frame_sample_raw(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Raw per-frame rows (frame bytes + digest) — the analysis shape."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    return spread(_payloads(spark, sf_dir)).mapInPandas(
        frame_sample_batch, schema=FRAMES_SCHEMA
    )


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling attestation (bounds-boolean contract): the
    DuckDB twin emits exactly 4 rows per document (frame_idx 0-3) —
    so the hash match attests the fan-out count — and the Spark side
    asserts per-frame that (a) the even-spacing policy held
    (frame_bytes == floor(container/4), against the payload length
    the kernel measured on the actual bytes) and (b) the container
    size matches the codec's closed form (exact PPM/BMP, zlib-bounded
    PNG). One synthesis pass: the kernel carries the payload length
    out, rather than re-encoding the corpus for it. Raw frame rows
    with digests stay available via
    :func:`multimodal_frame_sample_raw`."""
    frames = multimodal_frame_sample_raw(spark, sf_dir)
    nb = F.length(F.encode("text", "UTF-8"))
    _w, _h, ppm_len, bmp_len, png_in = _expected_container(nb)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        ppm_len.alias("_ppm"),
        bmp_len.alias("_bmp"),
        png_in.alias("_pin"),
    )
    j = frames.withColumnRenamed("payload_bytes", "_pn").join(docs, "doc_id")
    policy_ok = F.col("frame_bytes") == F.floor(F.col("_pn") / 4)
    container_ok = _container_ok(
        F.col("doc_id") % 4,
        F.col("_pn"),
        F.col("_ppm"),
        F.col("_bmp"),
        F.col("_pin"),
    )
    return j.select(
        "doc_id",
        "frame_idx",
        (policy_ok & container_ok).alias("frame_ok"),
    )


FRAME_SAMPLE_ORACLE = """
SELECT doc_id, CAST(g.f AS INT) AS frame_idx, TRUE AS frame_ok
FROM documents
CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS f) g
"""


# ------------------------------------------------------------- audio

AUDIO_SAMPLE_RATE = 8000  # Hz, mono 16-bit PCM


def encode_wav(samples: np.ndarray, sample_rate: int = AUDIO_SAMPLE_RATE) -> bytes:
    """Canonical 44-byte RIFF/WAVE header + mono 16-bit little-endian
    PCM data (the one WAV layout everything reads)."""
    pcm = samples.astype("<i2").tobytes()
    return (
        struct.pack(
            "<4sI4s4sIHHIIHH4sI",
            b"RIFF",
            36 + len(pcm),
            b"WAVE",
            b"fmt ",
            16,
            1,  # PCM
            1,  # mono
            sample_rate,
            sample_rate * 2,  # byte rate
            2,  # block align
            16,  # bits per sample
            b"data",
            len(pcm),
        )
        + pcm
    )


def wav_chunks(
    payload: bytes,
) -> tuple[tuple[int, int, int, int, int], bytes, int | None]:
    """Walk a RIFF/WAVE payload's chunk list (fmt may be followed by
    LIST/fact before data): ``((format tag, channels, sample rate,
    block align, bits per sample), data chunk, fact sample count or
    None)``. WAVE_FORMAT_EXTENSIBLE (0xFFFE) unwraps to its SubFormat
    tag."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos, fmt, fmt_body, data, fact = 12, None, b"", None, None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (ln,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + ln]
        if tag == b"fmt ":
            fmt, fmt_body = struct.unpack("<HHIIHH", body[:16]), body
        elif tag == b"data":
            data = body
        elif tag == b"fact" and ln >= 4:
            (fact,) = struct.unpack("<I", body[:4])
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, channels, rate, _, block_align, bits = fmt
    if audio_fmt == 0xFFFE and len(fmt_body) >= 26:
        # extensible: the real format is the SubFormat GUID's first
        # two bytes (offset 24 of the fmt body)
        (audio_fmt,) = struct.unpack("<H", fmt_body[24:26])
    return (audio_fmt, channels, rate, block_align, bits), data, fact


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """(samples array, sample_rate) from a RIFF/WAVE payload (chunk
    list walked by ``wav_chunks``).
    Since r9, all four uncompressed layouts in the wild decode, each
    returned in its NATIVE representation (callers branch on dtype):
    PCM 16-bit -> int16, PCM 8-bit (unsigned per spec) -> uint8,
    PCM 24-bit -> sign-extended int32, IEEE float 32-bit -> float32;
    WAVE_FORMAT_EXTENSIBLE (0xFFFE) unwraps to its SubFormat first
    two GUID bytes. Since r10, compressed formats decode too: G.711
    (tag 7 mu-law / tag 6 A-law, javax-pinned expansion -> int16) and
    IMA ADPCM (tag 0x11, audioop-pinned, block-framed, mono ->
    int16); MS ADPCM (tag 2) and MP3 still raise at the
    ffmpeg/soundfile seam."""
    (audio_fmt, channels, rate, block_align, bits), data, fact = wav_chunks(
        payload
    )
    if channels not in (1, 2):
        raise NotImplementedError(f"WAV with {channels} channels")
    if audio_fmt == 1 and bits == 16:
        samples = np.frombuffer(data, dtype="<i2")
    elif audio_fmt == 1 and bits == 8:
        samples = np.frombuffer(data, dtype=np.uint8)
    elif audio_fmt == 1 and bits == 24:
        b3 = np.frombuffer(data, np.uint8)
        b3 = b3[: len(b3) - len(b3) % 3].reshape(-1, 3).astype(np.int32)
        i32 = b3[:, 0] | (b3[:, 1] << 8) | (b3[:, 2] << 16)
        samples = i32 - ((i32 & 0x800000) << 1)  # sign-extend
    elif audio_fmt == 3 and bits == 32:
        samples = np.frombuffer(data, dtype="<f4")
    elif audio_fmt == 7 and bits == 8:  # WAVE_FORMAT_MULAW
        samples = ulaw_to_pcm16(np.frombuffer(data, dtype=np.uint8))
    elif audio_fmt == 6 and bits == 8:  # WAVE_FORMAT_ALAW
        samples = alaw_to_pcm16(np.frombuffer(data, dtype=np.uint8))
    elif audio_fmt == 0x11 and bits == 4:  # IMA ADPCM (r10)
        from bigdata_pipelines_aws_glue_spark.operators.adpcm import (
            ima_decode,
            ima_decode_stereo,
            ima_length,
        )

        n = ima_length(data, block_align, channels, fact)
        decode = ima_decode_stereo if channels == 2 else ima_decode
        return decode(data, block_align, n), rate
    else:
        raise NotImplementedError(
            f"WAV variant fmt={audio_fmt} bits={bits} ch={channels} "
            "needs an external codec (ffmpeg/soundfile seam)"
        )
    if channels == 2:
        samples = samples.reshape(-1, 2)
    return samples, rate


def synth_audio_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """REAL encoded WAV payloads from each document's text bytes:
    consecutive byte pairs become int16 PCM samples (odd tail
    zero-padded) — deterministic, so sample counts derive from the
    byte length exactly."""
    for pdf in batches:
        payloads = []
        for text in pdf["text"]:
            b = np.frombuffer((text or "").encode(), dtype=np.uint8)
            if len(b) % 2:
                b = np.concatenate([b, np.zeros(1, np.uint8)])
            samples = b.view("<i2").astype(np.int16)
            payloads.append(encode_wav(samples))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


AUDIO_FEATURE_SCHEMA = (
    "doc_id long, n_samples int, sample_rate int, duration_ms int, "
    "rms double, zero_crossings int"
)


def audio_features_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: parse the WAV container and extract the
    standard quick-look features (duration, RMS loudness, zero
    crossings) from the REAL decoded samples."""
    for pdf in batches:
        rows = []
        for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
            samples, rate = decode_wav(p)
            s = samples.astype(np.float64)
            rms = float(np.sqrt((s * s).mean())) if len(s) else 0.0
            zc = int(((samples[:-1] < 0) != (samples[1:] < 0)).sum())
            # integer half-up: Python round() is banker's, DuckDB's is
            # half-away — integer arithmetic sidesteps both
            dur_ms = (len(samples) * 1000 + rate // 2) // rate
            rows.append((doc_id, len(samples), rate, dur_ms, rms, zc))
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id",
                "n_samples",
                "sample_rate",
                "duration_ms",
                "rms",
                "zero_crossings",
            ],
        )


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality attestation (bounds-boolean contract):
    N_SAMPLES, SAMPLE_RATE, and DURATION_MS come from the kernel's
    parse of the real RIFF container, while the DuckDB twin derives
    them from the synth recipe (ceil(bytes/2) 16-bit samples at
    8 kHz) — a hash match proves the WAV round-trip preserved the
    stream layout end to end. ``stats_ok`` guards degenerate decode
    (NaN RMS, negative crossings). At 100 TB this is the same
    Arrow-batched map-only pass as the image path."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", "text").mapInPandas(
        synth_audio_batch, schema="doc_id long, payload binary"
    )
    feats = spread(payloads).mapInPandas(
        audio_features_batch, schema=AUDIO_FEATURE_SCHEMA
    )
    stats_ok = (
        (F.col("rms") >= 0.0)
        & (F.col("rms") <= 32768.0)
        & (F.col("zero_crossings") >= 0)
        & (F.col("zero_crossings") < F.col("n_samples"))
    )
    return feats.select(
        "doc_id",
        "n_samples",
        "sample_rate",
        "duration_ms",
        stats_ok.alias("stats_ok"),
    )


AUDIO_FEATURES_ORACLE = f"""
SELECT doc_id,
       CAST(ceil(octet_length(encode(text)) / 2.0) AS INT) AS n_samples,
       {AUDIO_SAMPLE_RATE} AS sample_rate,
       CAST((CAST(ceil(octet_length(encode(text)) / 2.0) AS BIGINT) * 1000
             + {AUDIO_SAMPLE_RATE // 2}) // {AUDIO_SAMPLE_RATE}
            AS INT) AS duration_ms,
       TRUE AS stats_ok
FROM documents
"""


# ------------------------------------------- G.711 (mu-law / A-law)

WAVE_FMT_PCM, WAVE_FMT_ALAW, WAVE_FMT_MULAW = 1, 6, 7
_G711_BIAS = 0x84  # CCITT G.711 mu-law bias


def ulaw_to_pcm16(codes: np.ndarray) -> np.ndarray:
    """CCITT G.711 mu-law expansion (the classic ``ulaw2linear``:
    complement, then ``(((mant << 3) + 132) << exp) - 132`` with the
    sign bit negating) — pinned code-for-code over all 256 codewords
    against javax.sound.sampled's ULAW→PCM_SIGNED converter in
    ``tests/test_g711.py``. [north-star] N4; no reference citation
    (the reference has no audio)."""
    u = (~codes.astype(np.int32)) & 0xFF
    mag = (
        (((u & 0x0F) << 3) + _G711_BIAS) << ((u >> 4) & 0x07)
    ) - _G711_BIAS
    return np.where(u & 0x80, -mag, mag).astype(np.int16)


def alaw_to_pcm16(codes: np.ndarray) -> np.ndarray:
    """CCITT G.711 A-law expansion (``alaw2linear``: XOR 0x55, then
    segment 0 → ``(mant << 4) + 8``, segment s >= 1 →
    ``((mant << 4) + 0x108) << (s - 1)``; set sign bit means
    POSITIVE, the inverse of mu-law) — javax-pinned over all 256
    codewords like the mu-law table."""
    a = codes.astype(np.int32) ^ 0x55
    seg = (a >> 4) & 0x07
    mant = a & 0x0F
    t = np.where(
        seg == 0,
        (mant << 4) + 8,
        ((mant << 4) + 0x108) << np.maximum(seg - 1, 0),
    )
    return np.where(a & 0x80, t, -t).astype(np.int16)


def pcm16_to_ulaw(samples: np.ndarray) -> np.ndarray:
    """G.711 mu-law COMPRESSION on the ITU-faithful 14-bit domain
    (arithmetic ``>> 2``, 14-bit clip 8159, bias 33) — bit-identical
    to CPython audioop's ``lin2ulaw`` over the full int16 range
    (pinned in ``tests/test_g711.py``). Note mu-law's two zeros:
    code 0x7F decodes to -0 and re-encodes as 0xFF (+0); every other
    code is encode∘decode-stable."""
    x = np.asarray(samples, dtype=np.int64) >> 2
    mask = np.where(x < 0, 0x7F, 0xFF)
    m = np.minimum(np.where(x < 0, -x, x), 8159) + 33
    seg = np.zeros_like(m)
    for hi in (0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF):
        seg = seg + (m > hi)
    s7 = np.minimum(seg, 7)
    uval = np.where(seg >= 8, 0x7F, (s7 << 4) | ((m >> (s7 + 1)) & 15))
    return ((uval ^ mask) & 0xFF).astype(np.uint8)


def pcm16_to_alaw(samples: np.ndarray) -> np.ndarray:
    """G.711 A-law COMPRESSION on the 13-bit domain (classic g711.c:
    arithmetic ``>> 3``; negatives take ``-m - 1``) — bit-identical
    to audioop's ``lin2alaw`` over the full int16 range, and
    encode∘decode-stable for all 256 codewords."""
    x = np.asarray(samples, dtype=np.int64)
    m = np.where(x >= 0, x >> 3, -(x >> 3) - 1)
    mask = np.where(x >= 0, 0xD5, 0x55)
    seg = np.zeros_like(m)
    for hi in (0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF):
        seg = seg + (m > hi)
    s7 = np.minimum(seg, 7)
    aval = np.where(
        seg >= 8,
        0x7F,
        (s7 << 4)
        | np.where(seg < 2, (m >> 1) & 15, (m >> s7) & 15),
    )
    return ((aval ^ mask) & 0xFF).astype(np.uint8)


#: SubFormat GUID tail shared by all WAVE_FORMAT_EXTENSIBLE media
#: types (the first two bytes carry the real format tag).
_WAVE_EXT_GUID_TAIL = bytes.fromhex("000000001000800000aa00389b71")


def encode_wav_g711(
    codes: bytes | np.ndarray,
    fmt_tag: int,
    sample_rate: int = AUDIO_SAMPLE_RATE,
    extensible: bool = False,
) -> bytes:
    """RIFF/WAVE container around raw G.711 codewords (format tag 6 =
    A-law, 7 = mu-law; 8 bits/sample, mono, block align 1). Non-PCM
    WAVs carry the spec-required ``fact`` chunk (sample count);
    ``extensible=True`` wraps the tag as WAVE_FORMAT_EXTENSIBLE
    (0xFFFE) with the real tag in the SubFormat GUID's first two
    bytes — both layouts round-trip through ``decode_wav``."""
    if fmt_tag not in (WAVE_FMT_ALAW, WAVE_FMT_MULAW):
        raise ValueError(f"not a G.711 format tag: {fmt_tag}")
    data = (
        codes.astype(np.uint8).tobytes()
        if isinstance(codes, np.ndarray)
        else bytes(codes)
    )
    if extensible:
        fmt_body = (
            struct.pack(
                "<HHIIHHHHI",
                0xFFFE,
                1,
                sample_rate,
                sample_rate,
                1,
                8,
                22,  # cbSize
                8,  # valid bits per sample
                0x4,  # channel mask: front center
            )
            + struct.pack("<H", fmt_tag)
            + _WAVE_EXT_GUID_TAIL
        )
    else:
        fmt_body = struct.pack(
            "<HHIIHH", fmt_tag, 1, sample_rate, sample_rate, 1, 8
        )
    chunks = (
        b"fmt "
        + struct.pack("<I", len(fmt_body))
        + fmt_body
        + b"fact"
        + struct.pack("<II", 4, len(data))
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    if len(data) & 1:
        chunks += b"\x00"  # word-align the final chunk
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


G711_SCHEMA = "doc_id long, n_samples int, ulaw_sum long, alaw_sum long"


def g711_features_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: each document's text bytes ARE the 8-bit
    G.711 codewords — one mu-law and one A-law RIFF container per doc
    (the mu-law one EXTENSIBLE-wrapped for every third doc, the A-law
    one for the rest, so BOTH header layouts sit on the attested
    path), decoded back through ``decode_wav`` and summed."""
    for pdf in batches:
        rows = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            codes = np.frombuffer((text or "").encode(), dtype=np.uint8)
            wrapped = int(doc_id) % 3 == 0
            su, _ = decode_wav(
                encode_wav_g711(codes, WAVE_FMT_MULAW, extensible=wrapped)
            )
            sa, _ = decode_wav(
                encode_wav_g711(codes, WAVE_FMT_ALAW, extensible=not wrapped)
            )
            rows.append(
                (
                    doc_id,
                    len(su),
                    int(su.astype(np.int64).sum()),
                    int(sa.astype(np.int64).sum()),
                )
            )
        yield pd.DataFrame(
            rows, columns=["doc_id", "n_samples", "ulaw_sum", "alaw_sum"]
        )


def multimodal_audio_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: G.711 compressed-audio attestation. The kernel
    builds REAL mu-law and A-law WAV containers (plain and
    WAVE_FORMAT_EXTENSIBLE layouts both exercised), decodes them with
    the repo's own G.711 expansion, and emits per-doc PCM sums; the
    DuckDB twin replays the exact expansion arithmetic per text byte
    — a hash match proves container walk + EXTENSIBLE unwrap + both
    decode tables end to end. At 100 TB this is the same
    Arrow-batched map-only pass as the other modality kernels."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    docs = load_table(spark, sf_dir, "documents")
    return (
        spread(docs.select("doc_id", "text"))
        .mapInPandas(g711_features_batch, schema=G711_SCHEMA)
        .select("doc_id", "n_samples", "ulaw_sum", "alaw_sum")
    )


#: The twin replays both G.711 expansions arithmetically per byte
#: (corpus is ASCII, so ascii(substr) == the encoded byte; pinned by
#: the cross-engine CDC test's charset note). (255 - b) == (~b & 255)
#: for mu-law's complement; A-law's set sign bit means positive.
AUDIO_G711_ORACLE = """
WITH codes AS (
    SELECT doc_id, ascii(substr(text, CAST(i AS INTEGER), 1)) AS b
    FROM documents, unnest(range(1, length(text) + 1)) u(i)
),
dec AS (
    SELECT doc_id,
           (CASE WHEN ((255 - b) & 128) <> 0 THEN -1 ELSE 1 END)
           * (((((255 - b) & 15) * 8 + 132)
               * (1 << (((255 - b) >> 4) & 7))) - 132) AS ulaw,
           (CASE WHEN (xor(b, 85) & 128) <> 0 THEN 1 ELSE -1 END)
           * (CASE WHEN ((xor(b, 85) >> 4) & 7) = 0
                   THEN (xor(b, 85) & 15) * 16 + 8
                   ELSE ((xor(b, 85) & 15) * 16 + 264)
                        * (1 << (((xor(b, 85) >> 4) & 7) - 1)) END) AS alaw
    FROM codes
),
agg AS (
    SELECT doc_id, count(*) AS n, sum(ulaw) AS us, sum(alaw) AS al
    FROM dec GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(a.n, 0) AS INT) AS n_samples,
       CAST(coalesce(a.us, 0) AS BIGINT) AS ulaw_sum,
       CAST(coalesce(a.al, 0) AS BIGINT) AS alaw_sum
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


# ------------------------------------------------------------- video


def _riff_chunk(tag: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return tag + struct.pack("<I", len(body)) + body + pad


def _riff_list(list_type: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + body)


def encode_avi_mjpeg(
    frames: list[np.ndarray], fps: int = 10
) -> bytes:
    """Motion-JPEG AVI (RIFF 'AVI ' per the public msdn/OpenDML
    layout): avih + one video strl (strh 'vids'/'MJPG' + strf
    BITMAPINFOHEADER), then a movi LIST with one '00dc' chunk per
    frame, each a baseline JPEG from :mod:`jpeg`. Every frame must
    share the first frame's dimensions (the AVI contract)."""
    from bigdata_pipelines_aws_glue_spark.operators.jpeg import encode_jpeg

    if not frames:
        raise ValueError("AVI needs at least one frame")
    h, w = frames[0].shape[:2]
    payloads = [encode_jpeg(f) for f in frames]
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,  # us per frame
        0, 0, 0x10,  # max bytes/sec, padding, flags (HASINDEX off)
        len(frames), 0, 1, 0,  # total frames, initial, streams, bufsize
        w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MJPG", 0, 0, 0, 0,
        1, fps,  # scale, rate -> fps
        0, len(frames), 0, 0xFFFFFFFF, 0,
        0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0x47504A4D,  # 'MJPG'
        w * h * 3, 0, 0, 0, 0,
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi = _riff_list(
        b"movi", b"".join(_riff_chunk(b"00dc", p) for p in payloads)
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi_mjpeg(payload: bytes) -> list[np.ndarray]:
    """Decode a Motion-JPEG AVI to its frame arrays: RIFF walk to the
    movi LIST, one :func:`jpeg.decode_jpeg` per '00dc'/'00db' chunk.
    Non-MJPEG codecs raise at the ffmpeg seam."""
    from bigdata_pipelines_aws_glue_spark.operators.jpeg import decode_jpeg

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    frames: list[np.ndarray] = []

    def walk(buf: bytes) -> None:
        pos = 0
        while pos + 8 <= len(buf):
            tag = buf[pos : pos + 4]
            (ln,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
            body = buf[pos + 8 : pos + 8 + ln]
            if len(body) < ln:
                raise ValueError("truncated AVI chunk")
            if tag == b"LIST":
                walk(body[4:])
            elif tag in (b"00dc", b"00db"):
                if body[:2] != b"\xff\xd8":
                    raise NotImplementedError(
                        "non-MJPEG AVI stream needs an external codec "
                        "(ffmpeg seam)"
                    )
                frames.append(decode_jpeg(body))
            elif (
                tag == b"strh"
                and body[:4] == b"vids"
                and body[4:8] != b"MJPG"
            ):
                raise NotImplementedError(
                    "non-MJPEG AVI stream needs an external codec (ffmpeg seam)"
                )
            pos += 8 + ln + (ln & 1)

    walk(payload[12:])
    return frames


#: Video synth recipe: n_frames and dims derive from the byte length.
VIDEO_W_MOD, VIDEO_H_MOD, VIDEO_NF_MOD = 24, 16, 4


# ------------------------------------------- MP4 (ISO BMFF) container


def _box(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + tag + body


def _full_box(tag: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(tag, struct.pack(">I", (version << 24) | flags) + body)


def encode_mp4_mjpeg(frames: list[np.ndarray], fps: int = 10) -> bytes:
    """Motion-JPEG in an ISO base-media (MP4) container — the second
    video container beside RIFF/AVI, per ISO/IEC 14496-12's public
    box grammar: ftyp, one mdat holding the concatenated baseline
    JPEGs, then moov/trak/mdia/minf/stbl with REAL sample tables
    (stts/stsc/stsz/stco) describing one video track of 'jpeg'
    visual sample entries (the QuickTime-compatible MJPEG signaling).
    mdat precedes moov so stco can carry absolute file offsets."""
    from bigdata_pipelines_aws_glue_spark.operators.jpeg import encode_jpeg

    if not frames:
        raise ValueError("MP4 needs at least one frame")
    h, w = frames[0].shape[:2]
    payloads = [encode_jpeg(f) for f in frames]
    n = len(payloads)

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    mdat = _box(b"mdat", b"".join(payloads))
    first_sample_off = len(ftyp) + 8  # into mdat's body

    mvhd = _full_box(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, fps, n)  # ctime, mtime, timescale, dur
        + struct.pack(">iH", 0x00010000, 0x0100)  # rate 1.0, volume 1.0
        + b"\x00" * 10
        + struct.pack(
            ">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
        )  # identity matrix
        + b"\x00" * 24  # pre_defined
        + struct.pack(">I", 2),  # next_track_id
    )
    tkhd = _full_box(
        b"tkhd", 0, 7,  # enabled | in-movie | in-preview
        struct.pack(">IIIII", 0, 0, 1, 0, n)  # times, track_id, rsvd, dur
        + b"\x00" * 8
        + struct.pack(">hhhH", 0, 0, 0, 0)  # layer, group, volume, rsvd
        + struct.pack(
            ">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
        )
        + struct.pack(">II", w << 16, h << 16),  # 16.16 fixed dims
    )
    mdhd = _full_box(
        b"mdhd", 0, 0,
        struct.pack(">IIIIHH", 0, 0, fps, n, 0x55C4, 0),  # lang 'und'
    )
    hdlr = _full_box(
        b"hdlr", 0, 0,
        struct.pack(">I4s", 0, b"vide") + b"\x00" * 12 + b"VideoHandler\x00",
    )
    # VisualSampleEntry 'jpeg' (78 bytes, no codec-specific extension)
    sample_entry = _box(
        b"jpeg",
        b"\x00" * 6 + struct.pack(">H", 1)  # reserved, data_ref_index
        + b"\x00" * 16  # pre_defined / reserved
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + struct.pack(">IH", 0, 1)  # reserved, frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 24, -1),  # depth, pre_defined
    )
    stsd = _full_box(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    stts = _full_box(b"stts", 0, 0, struct.pack(">III", 1, n, 1))
    stsc = _full_box(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n, 1))
    stsz = _full_box(
        b"stsz", 0, 0,
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", len(p)) for p in payloads),
    )
    stco = _full_box(b"stco", 0, 0, struct.pack(">II", 1, first_sample_off))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    vmhd = _full_box(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _full_box(
        b"dref", 0, 0, struct.pack(">I", 1) + _full_box(b"url ", 0, 1, b"")
    )
    dinf = _box(b"dinf", dref)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def _walk_boxes(buf: bytes, start: int, end: int):
    """Yield (tag, body_start, body_end) for the sibling boxes in
    ``buf[start:end]``, including the ISO 14496-12 §4.2 size
    extensions (r7 seam, closed r9): size==1 means a 64-bit
    ``largesize`` follows the tag (the >4 GiB form — only the DECLARED
    size field is 64-bit, so a small fixture exercises it), and
    size==0 means the box runs to the end of the enclosing container
    (legal only for the last box; the loop ends either way)."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", buf[pos : pos + 4])
        tag = buf[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated MP4 largesize")
            (size,) = struct.unpack(">Q", buf[pos + 8 : pos + 16])
            body = pos + 16
            if size < 16:
                raise ValueError("MP4 largesize smaller than its header")
        elif size == 0:
            size = end - pos
        elif size < 8:
            raise ValueError("truncated MP4 box")
        if pos + size > end:
            raise ValueError("truncated MP4 box")
        yield tag, body, pos + size
        pos += size


def _find_box(buf: bytes, start: int, end: int, path: list[bytes]):
    """Descend a container path ('moov'/'trak'/...), returning the
    body span of the first match at each level."""
    for tag in path:
        for t, s, e in _walk_boxes(buf, start, end):
            if t == tag:
                start, end = s, e
                break
        else:
            raise ValueError(f"MP4 missing {tag!r} box")
    return start, end


def decode_mp4_mjpeg(payload: bytes) -> list[np.ndarray]:
    """Decode an MJPEG MP4 to its frame arrays by walking the REAL
    sample tables: stsd confirms the 'jpeg' sample entry (anything
    else raises at the ffmpeg seam), then stsc maps samples to
    chunks, stco gives each chunk's absolute offset, and stsz sizes
    each sample — the full ISO 14496-12 addressing chain, not a scan
    for JPEG magics."""
    from bigdata_pipelines_aws_glue_spark.operators.jpeg import decode_jpeg

    tops = list(_walk_boxes(payload, 0, len(payload)))
    if not tops or tops[0][0] != b"ftyp":
        raise ValueError("not an ISO BMFF file (missing ftyp)")
    moov = next(((s, e) for t, s, e in tops if t == b"moov"), None)
    if moov is None:
        raise ValueError("MP4 missing moov")
    stbl_s, stbl_e = _find_box(
        payload, moov[0], moov[1], [b"trak", b"mdia", b"minf", b"stbl"]
    )
    boxes = {t: (s, e) for t, s, e in _walk_boxes(payload, stbl_s, stbl_e)}
    for need in (b"stsd", b"stsc", b"stsz"):
        if need not in boxes:
            raise ValueError(f"MP4 stbl missing {need!r}")
    if b"stco" not in boxes and b"co64" not in boxes:
        raise ValueError("MP4 stbl missing b'stco' (or co64)")

    s, e = boxes[b"stsd"]
    entry_tag = next(_walk_boxes(payload, s + 8, e))[0]
    if entry_tag != b"jpeg":
        raise NotImplementedError(
            f"MP4 codec {entry_tag!r} needs an external codec (ffmpeg seam)"
        )

    s, e = boxes[b"stsz"]
    fixed, count = struct.unpack(">II", payload[s + 4 : s + 12])
    sizes = (
        [fixed] * count
        if fixed
        else list(
            struct.unpack(f">{count}I", payload[s + 12 : s + 12 + 4 * count])
        )
    )

    # chunk offsets: 32-bit stco or the 64-bit co64 form a >4 GiB
    # file requires (same layout, 8-byte entries)
    if b"stco" in boxes:
        s, e = boxes[b"stco"]
        (n_chunks,) = struct.unpack(">I", payload[s + 4 : s + 8])
        offsets = struct.unpack(
            f">{n_chunks}I", payload[s + 8 : s + 8 + 4 * n_chunks]
        )
    else:
        s, e = boxes[b"co64"]
        (n_chunks,) = struct.unpack(">I", payload[s + 4 : s + 8])
        offsets = struct.unpack(
            f">{n_chunks}Q", payload[s + 8 : s + 8 + 8 * n_chunks]
        )

    s, e = boxes[b"stsc"]
    (n_runs,) = struct.unpack(">I", payload[s + 4 : s + 8])
    runs = [
        struct.unpack(">III", payload[s + 8 + 12 * r : s + 20 + 12 * r])
        for r in range(n_runs)
    ]
    # expand stsc run-lengths to per-chunk sample counts
    per_chunk: list[int] = []
    for r, (first, spc, _sdi) in enumerate(runs):
        last = runs[r + 1][0] - 1 if r + 1 < len(runs) else n_chunks
        per_chunk.extend([spc] * (last - first + 1))

    frames: list[np.ndarray] = []
    sample = 0
    for chunk, spc in enumerate(per_chunk):
        off = offsets[chunk]
        for _ in range(spc):
            if sample >= count:
                break
            body = payload[off : off + sizes[sample]]
            if body[:2] != b"\xff\xd8":
                raise ValueError("MP4 sample is not a JPEG (bad offsets)")
            frames.append(decode_jpeg(body))
            off += sizes[sample]
            sample += 1
    if sample != count:
        raise ValueError("MP4 sample tables inconsistent with mdat")
    return frames


def synth_video_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """REAL MJPEG-AVI payloads from document text: nb%4+2 frames,
    each (nb%24+8) wide x (nb%16+8) high RGB, frame i's pixels are
    the text bytes rolled by i (a deterministic 'moving' scene)."""
    for pdf in batches:
        payloads = []
        for text in pdf["text"]:
            b = np.frombuffer((text or "").encode(), dtype=np.uint8)
            w = len(b) % VIDEO_W_MOD + 8
            h = len(b) % VIDEO_H_MOD + 8
            n = len(b) % VIDEO_NF_MOD + 2
            frames = [
                np.resize(np.roll(b, -i), (h, w, 3)) for i in range(n)
            ]
            payloads.append(encode_avi_mjpeg(frames))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def video_frames_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: decode the AVI, emit one row per decoded
    frame with its parsed dimensions."""
    for pdf in batches:
        rows = []
        for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
            for i, f in enumerate(decode_avi_mjpeg(p)):
                rows.append((doc_id, i, f.shape[1], f.shape[0]))
        yield pd.DataFrame(
            rows, columns=["doc_id", "frame_idx", "frame_w", "frame_h"]
        )


def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-modality attestation: the kernel DECODES real MJPEG-AVI
    containers (RIFF walk + per-frame JPEG decode) and emits each
    frame's parsed dimensions; the DuckDB twin derives frame count
    and dims from the synth recipe — a hash match proves the
    container layout, the frame fan-out, AND every frame's JPEG
    header survived the round trip."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", "text").mapInPandas(
        synth_video_batch, schema="doc_id long, payload binary"
    )
    return spread(payloads).mapInPandas(
        video_frames_batch,
        schema="doc_id long, frame_idx int, frame_w int, frame_h int",
    )


VIDEO_FRAMES_ORACLE = f"""
WITH d AS (
    SELECT doc_id, octet_length(encode(text)) AS nb FROM documents
)
SELECT doc_id,
       CAST(g.f AS INT) AS frame_idx,
       CAST(nb % {VIDEO_W_MOD} + 8 AS INT) AS frame_w,
       CAST(nb % {VIDEO_H_MOD} + 8 AS INT) AS frame_h
FROM d
CROSS JOIN (SELECT unnest(generate_series(0, {VIDEO_NF_MOD + 1})) AS f) g
WHERE g.f < nb % {VIDEO_NF_MOD} + 2
"""


def synth_mp4_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Same deterministic scene recipe as :func:`synth_video_batch`,
    packed in the MP4 container instead of RIFF/AVI — so the two
    container paths are directly comparable frame-for-frame."""
    for pdf in batches:
        payloads = []
        for text in pdf["text"]:
            b = np.frombuffer((text or "").encode(), dtype=np.uint8)
            w = len(b) % VIDEO_W_MOD + 8
            h = len(b) % VIDEO_H_MOD + 8
            n = len(b) % VIDEO_NF_MOD + 2
            frames = [
                np.resize(np.roll(b, -i), (h, w, 3)) for i in range(n)
            ]
            payloads.append(encode_mp4_mjpeg(frames))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def mp4_frames_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: walk the MP4 sample tables, decode each
    sample, emit one row per frame with its parsed dimensions."""
    for pdf in batches:
        rows = []
        for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
            for i, f in enumerate(decode_mp4_mjpeg(p)):
                rows.append((doc_id, i, f.shape[1], f.shape[0]))
        yield pd.DataFrame(
            rows, columns=["doc_id", "frame_idx", "frame_w", "frame_h"]
        )


def multimodal_mp4_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4-container attestation (round-6 sibling of
    ``multimodal_video_frames``): the kernel writes REAL ISO-BMFF
    files and decodes them back through the stsd/stsc/stco/stsz
    addressing chain; the DuckDB twin derives frame count and dims
    from the synth recipe — a hash match proves the box layout, the
    sample tables, and every per-sample JPEG round-tripped."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", "text").mapInPandas(
        synth_mp4_batch, schema="doc_id long, payload binary"
    )
    return spread(payloads).mapInPandas(
        mp4_frames_batch,
        schema="doc_id long, frame_idx int, frame_w int, frame_h int",
    )


def multimodal_bytes_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata/integrity pass over binary payloads: sizes + sha256
    digest — pure JVM expressions (sha2 over the *string*; DuckDB's
    sha256 has no BLOB overload, and UTF-8 bytes of the text are
    identical either way)."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.sha2(F.col("text"), 256).alias("digest"),
        (F.length(payload) - F.length("text")).alias("multibyte_overhead"),
    )


BYTES_META_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       sha256(text) AS digest,
       CAST(octet_length(encode(text)) - length(text) AS INT)
         AS multibyte_overhead
FROM documents
"""


def _register() -> None:
    registry.register(
        "multimodal_features", multimodal_features, MULTIMODAL_FEATURES_ORACLE
    )
    registry.register(
        "multimodal_bytes_meta", multimodal_bytes_meta, BYTES_META_ORACLE
    )
    registry.register(
        "multimodal_resize", multimodal_resize, MULTIMODAL_RESIZE_ORACLE
    )
    registry.register(
        "multimodal_frame_sample", multimodal_frame_sample, FRAME_SAMPLE_ORACLE
    )
    registry.register(
        "multimodal_audio_features",
        multimodal_audio_features,
        AUDIO_FEATURES_ORACLE,
    )
    registry.register(
        "multimodal_audio_g711", multimodal_audio_g711, AUDIO_G711_ORACLE
    )
    registry.register(
        "multimodal_video_frames", multimodal_video_frames, VIDEO_FRAMES_ORACLE
    )
    # same recipe, second container: the oracle is shared by design
    registry.register(
        "multimodal_mp4_frames", multimodal_mp4_frames, VIDEO_FRAMES_ORACLE
    )
