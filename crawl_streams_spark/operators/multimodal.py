"""Multimodal column plumbing: image and audio as opaque ``binary``
payloads plus typed metadata, decoded by Arrow-batched pandas functions
over ``mapInPandas``.

Every format here decodes for REAL with numpy and the stdlib alone: RIFF
WAV in seven encodings — PCM16/PCM8/PCM24/float32, G.711 µ-law/A-law, IMA
ADPCM (0x11), MS ADPCM (0x02) — all via ``decode_wav``; subset FLAC
(``decode_flac_features``, operators/flac.py: CRC-verified frames, Rice
residuals, fixed predictors); binary PPM (``decode_ppm``/``resize_ppm``);
baseline JPEG (``decode_jpeg_features`` via the pure-NumPy ITU-T T.81
decoder in operators/jpeg.py: Huffman, dequant, vectorized IDCT, chroma
upsampling, restart markers); PNG, GIF, BMP, QOI and TIFF
(operators/png.py, gif.py, bmp.py, qoi.py, tiff.py). Library-bound codecs
(MP3, H.264) are out of scope.

Every stage runs through ``_decode_stage``, which owns the per-row
contract: output rows keep input order, a NULL payload gives all-NULL
features plus ``"null payload"``, the codec's own error class gives
all-NULL features plus its message, and any other exception fails the
stage (tests/test_codec_totality.py holds each codec to its own error
class). At 100 TB a decode stage must quarantine bad blobs, not die on
them — but a bug must still fail loudly.

Scale notes: media blobs dominate row width — keep
``spark.sql.files.maxPartitionBytes`` low enough that a partition of blobs
fits executor memory, and never groupBy a blob column (metadata keys only).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import _ensure_worker_path

#: A media row: opaque payload + typed metadata (FIXTURES-style contract).
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType(), True),
        StructField("media_type", StringType(), True),  # image|audio|video
        StructField("mime", StringType(), True),
    ]
)


def _decode_stage(
    df: DataFrame,
    schema: StructType,
    decode: Callable[[bytes], tuple],
    error: type[Exception],
) -> DataFrame:
    """The one per-row decode stage: ``media_id`` and ``payload`` in,
    ``schema`` out (``media_id``, the features, then ``error``).

    ``decode(payload)`` returns the feature tuple. A NULL payload gives
    all-NULL features and ``"null payload"``; ``error`` raised by
    ``decode`` gives all-NULL features and ``str(e)``; any other
    exception fails the stage. Rows stay in input order. The stage puts
    the package root on the session's worker path first, so a codec the
    worker imports is found on a session no engine loader has seen."""
    _ensure_worker_path(df.sparkSession)
    columns = schema.fieldNames()
    blank = (None,) * (len(columns) - 2)

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append((mid, *blank, "null payload"))
                    continue
                try:
                    rows.append((mid, *decode(bytes(payload)), None))
                except error as e:
                    rows.append((mid, *blank, str(e)))
            yield pd.DataFrame(rows, columns=columns)

    return df.select("media_id", "payload").mapInPandas(batches, schema=schema)


def _raising(parse):
    """Adapt a by-value ``(result, err)`` parser to ``_decode_stage``:
    the returned closure gives ``result`` or raises ``ValueError(err)``,
    and pickles by value like the parser it wraps."""

    def strict(payload: bytes):
        result, err = parse(payload)
        if result is None:
            raise ValueError(err)
        return result

    return strict

# ---------------------------------------------------------------------------
# Decoders. RIFF/PCM WAV and binary PPM (P6) are pure header+array formats
# parsed by by-value closures below; the other codecs are modules the worker
# imports (operators/jpeg.py, png.py, gif.py, bmp.py, flac.py, qoi.py,
# tiff.py).

WAV_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("bits", IntegerType(), True),
        StructField("n_samples", IntegerType(), True),
        StructField("duration_ms", FloatType(), True),
        StructField("rms", FloatType(), True),
        StructField("peak", FloatType(), True),
        StructField("clip_fraction", FloatType(), True),
        StructField("error", StringType(), True),
    ]
)


def wav_bytes(samples, sample_rate: int = 16000, n_channels: int = 1) -> bytes:
    """Minimal PCM16 WAV encoder (RIFF + fmt + data) — fixture builder and
    the inverse of the decoder below. ``samples`` is an int16 array,
    interleaved if multi-channel."""
    import struct

    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    byte_rate = sample_rate * n_channels * 2
    block_align = n_channels * 2
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, n_channels, sample_rate, byte_rate,
        block_align, 16,
    )
    data = struct.pack("<4sI", b"data", len(pcm)) + pcm
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data), b"WAVE")
    return riff + fmt + data


def g711_wav_bytes(
    companded, sample_rate: int = 8000, law: str = "ulaw"
) -> bytes:
    """Minimal G.711 WAV encoder (RIFF + fmt + data) for µ-law
    (format 7) or A-law (format 6) COMPANDED bytes — fixture builder for
    the 8-bit telephony path the decoder expands."""
    import struct

    import numpy as np

    fmt_code = 7 if law == "ulaw" else 6
    raw = np.asarray(companded, dtype=np.uint8).tobytes()
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, fmt_code, 1, sample_rate, sample_rate,
        1, 8,
    )
    data = struct.pack("<4sI", b"data", len(raw)) + raw
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data), b"WAVE")
    return riff + fmt + data


# IMA/DVI ADPCM (WAV format 0x11) tables — the published IMA spec's
# 89-entry step-size table and 4-bit index-adjust table.
IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)

# Microsoft ADPCM (WAV format 0x02) tables — the published WAV spec's
# seven predictor-coefficient pairs (256-scaled) and the 16-entry
# delta-adaptation table.
MS_ADPCM_COEFFS = (
    (256, 0), (512, -256), (0, 0), (192, 64), (240, 0), (460, -208),
    (392, -232),
)
MS_ADPCM_ADAPT = (
    230, 230, 230, 230, 307, 409, 512, 614, 768, 614, 512, 409, 307, 230,
    230, 230,
)


def ms_adpcm_wav_bytes(
    codes,
    predictor: int = 0,
    idelta: int = 16,
    sample1: int = 0,
    sample2: int = 0,
    sample_rate: int = 8000,
) -> bytes:
    """Minimal MS ADPCM WAV encoder (RIFF + extended fmt + data), one
    mono block: 7-byte header (bPredictor, iDelta, iSample1, iSample2)
    then 4-bit codes packed HIGH nibble first — fixture builder for the
    format-0x02 path. ``codes`` must have even length."""
    import struct

    codes = list(codes)
    if len(codes) % 2:
        raise ValueError("codes must pack into whole bytes")
    if not 0 <= predictor < len(MS_ADPCM_COEFFS):
        raise ValueError("predictor index out of range")
    packed = bytes(
        ((codes[i] & 0xF) << 4) | (codes[i + 1] & 0xF)
        for i in range(0, len(codes), 2)
    )
    block = struct.pack("<Bhhh", predictor, idelta, sample1, sample2) + packed
    block_align = len(block)
    samples_per_block = 2 + len(codes)
    # fmt extension: cbSize=32 — wSamplesPerBlock, wNumCoef, 7 coef pairs
    ext = struct.pack("<HH", samples_per_block, 7) + b"".join(
        struct.pack("<hh", c1, c2) for c1, c2 in MS_ADPCM_COEFFS
    )
    fmt = struct.pack(
        "<4sIHHIIHHH", b"fmt ", 18 + len(ext), 0x02, 1, sample_rate,
        (sample_rate * block_align) // max(samples_per_block, 1),
        block_align, 4, len(ext),
    ) + ext
    data = struct.pack("<4sI", b"data", len(block)) + block
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data), b"WAVE")
    return riff + fmt + data


def ima_adpcm_wav_bytes(
    codes, pred0: int = 0, idx0: int = 0, sample_rate: int = 8000
) -> bytes:
    """Minimal IMA ADPCM WAV encoder (RIFF + extended fmt + data), one
    mono block: 4-byte block header (initial predictor int16, initial
    step index, reserved) then the given 4-bit codes packed LOW nibble
    first — fixture builder for the format-0x11 path the decoder
    expands. ``codes`` must have even length."""
    import struct

    codes = list(codes)
    if len(codes) % 2:
        raise ValueError("codes must pack into whole bytes")
    packed = bytes(
        (codes[i] & 0xF) | ((codes[i + 1] & 0xF) << 4)
        for i in range(0, len(codes), 2)
    )
    block = struct.pack("<hBB", pred0, idx0, 0) + packed
    block_align = len(block)
    samples_per_block = 1 + len(codes)
    # fmt chunk with the 2-byte cbSize extension carrying wSamplesPerBlock
    fmt = struct.pack(
        "<4sIHHIIHHHH", b"fmt ", 20, 0x11, 1, sample_rate,
        (sample_rate * block_align) // max(samples_per_block, 1),
        block_align, 4, 2, samples_per_block,
    )
    data = struct.pack("<4sI", b"data", len(block)) + block
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data), b"WAVE")
    return riff + fmt + data


def ms_adpcm_stereo_wav_bytes(
    codes_l,
    codes_r,
    predictor_l: int = 0,
    predictor_r: int = 0,
    idelta_l: int = 16,
    idelta_r: int = 16,
    s1_l: int = 0,
    s2_l: int = 0,
    s1_r: int = 0,
    s2_r: int = 0,
    sample_rate: int = 8000,
) -> bytes:
    """Minimal STEREO MS ADPCM WAV encoder, one block: channel-
    interleaved header fields (bPredictor[2], iDelta[2], iSample1[2],
    iSample2[2]), then each data byte carrying one LEFT code (high
    nibble) and one RIGHT code (low nibble) — per-sample interleave,
    the spec's stereo layout. Channels need equal code counts."""
    import struct

    codes_l, codes_r = list(codes_l), list(codes_r)
    if len(codes_l) != len(codes_r):
        raise ValueError("stereo channels need equal code counts")
    for p in (predictor_l, predictor_r):
        if not 0 <= p < len(MS_ADPCM_COEFFS):
            raise ValueError("predictor index out of range")
    packed = bytes(
        ((l & 0xF) << 4) | (r & 0xF) for l, r in zip(codes_l, codes_r)
    )
    block = (
        struct.pack("<BB", predictor_l, predictor_r)
        + struct.pack("<hh", idelta_l, idelta_r)
        + struct.pack("<hh", s1_l, s1_r)
        + struct.pack("<hh", s2_l, s2_r)
        + packed
    )
    block_align = len(block)
    samples_per_block = 2 + len(codes_l)  # per channel
    ext = struct.pack("<HH", samples_per_block, 7) + b"".join(
        struct.pack("<hh", c1, c2) for c1, c2 in MS_ADPCM_COEFFS
    )
    fmt = struct.pack(
        "<4sIHHIIHHH", b"fmt ", 18 + len(ext), 0x02, 2, sample_rate,
        (sample_rate * block_align) // max(samples_per_block, 1),
        block_align, 4, len(ext),
    ) + ext
    data = struct.pack("<4sI", b"data", len(block)) + block
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data), b"WAVE")
    return riff + fmt + data


def ima_adpcm_stereo_wav_bytes(
    codes_l,
    codes_r,
    pred_l: int = 0,
    idx_l: int = 0,
    pred_r: int = 0,
    idx_r: int = 0,
    sample_rate: int = 8000,
) -> bytes:
    """Minimal STEREO IMA ADPCM WAV encoder, one block: per-channel
    4-byte headers, then the spec's channel-group interleave — 4 bytes
    (8 low-nibble-first codes) of LEFT, 4 bytes of RIGHT, alternating.
    Each channel's code count must be equal and a multiple of 8."""
    import struct

    codes_l, codes_r = list(codes_l), list(codes_r)
    if len(codes_l) != len(codes_r):
        raise ValueError("stereo channels need equal code counts")
    if len(codes_l) % 8:
        raise ValueError("stereo codes must fill whole 8-nibble groups")

    def pack4(codes):
        return bytes(
            (codes[i] & 0xF) | ((codes[i + 1] & 0xF) << 4)
            for i in range(0, len(codes), 2)
        )

    body = bytearray()
    body += struct.pack("<hBB", pred_l, idx_l, 0)
    body += struct.pack("<hBB", pred_r, idx_r, 0)
    for g in range(0, len(codes_l), 8):
        body += pack4(codes_l[g : g + 8])
        body += pack4(codes_r[g : g + 8])
    block_align = len(body)
    samples_per_block = 1 + len(codes_l)  # per channel
    fmt = struct.pack(
        "<4sIHHIIHHHH", b"fmt ", 20, 0x11, 2, sample_rate,
        (sample_rate * block_align) // max(samples_per_block, 1),
        block_align, 4, 2, samples_per_block,
    )
    data = struct.pack("<4sI", b"data", len(body)) + bytes(body)
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data), b"WAVE")
    return riff + fmt + data


def _wav_decode_impl():
    """Factory (closure-pickled by value) for the real RIFF/PCM16 parser:
    walks the chunk list, reads fmt, frombuffers the data chunk, and
    computes energy features vectorized in numpy."""

    def decode(payload: bytes):
        import struct

        import numpy as np

        try:
            if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
                return None, "not a RIFF/WAVE payload"
            pos, fmt, data = 12, None, None
            spb = None  # wSamplesPerBlock from the fmt extension
            while pos + 8 <= len(payload):
                cid, size = struct.unpack_from("<4sI", payload, pos)
                body = payload[pos + 8 : pos + 8 + size]
                if cid == b"fmt ":
                    fmt = struct.unpack_from("<HHIIHH", body, 0)
                    if len(body) >= 20:
                        # extended fmt: cbSize at 16, then (for both
                        # ADPCM flavors) wSamplesPerBlock at 18
                        spb = struct.unpack_from("<H", body, 18)[0]
                elif cid == b"data":
                    data = body
                pos += 8 + size + (size & 1)  # chunks are word-aligned
            if fmt is None or data is None:
                return None, "missing fmt or data chunk"
            audio_format, n_ch, rate, _, block_align, bits = fmt
            if audio_format == 1 and bits == 16:
                x = np.frombuffer(
                    data[: len(data) - (len(data) % (2 * n_ch))], dtype="<i2"
                )
            elif audio_format == 1 and bits == 8:
                # 8-bit PCM is UNSIGNED with a 128 bias (the WAV quirk);
                # scale to 16-bit range so the energy features compare
                b = np.frombuffer(
                    data[: len(data) - (len(data) % n_ch)], dtype=np.uint8
                )
                x = (b.astype(np.int64) - 128) << 8
            elif audio_format == 1 and bits == 24:
                # 3-byte little-endian signed, widened via a zero pad
                usable = len(data) - (len(data) % (3 * n_ch))
                b = np.frombuffer(data[:usable], dtype=np.uint8)
                b = b.reshape(-1, 3)
                raw = (
                    b[:, 0].astype(np.int64)
                    | (b[:, 1].astype(np.int64) << 8)
                    | (b[:, 2].astype(np.int64) << 16)
                )
                x = np.where(raw >= 1 << 23, raw - (1 << 24), raw)
                # features are 16-bit-normalized; scale down exactly
                x = x >> 8
            elif audio_format == 3 and bits == 32:
                # IEEE float PCM in [-1, 1]; out-of-range samples clamp
                # (the float-WAV convention), NaN rejects loudly
                f = np.frombuffer(
                    data[: len(data) - (len(data) % (4 * n_ch))],
                    dtype="<f4",
                ).astype(np.float64)
                if np.isnan(f).any():
                    return None, "float PCM contains NaN samples"
                f = np.clip(f, -1.0, 1.0)
                # symmetric scale, round-half-away like a converter
                x = np.where(
                    f >= 0,
                    np.floor(f * 32767.0 + 0.5),
                    np.ceil(f * 32768.0 - 0.5),
                ).astype(np.int64)
            elif audio_format in (6, 7) and bits == 8:
                # G.711 companded audio (format 6 = A-law, 7 = µ-law):
                # expand each byte to 16-bit linear via the canonical
                # CCITT/Sun routines, vectorized. Closed-form integer
                # math, so a SQL oracle replays every sample exactly.
                b = np.frombuffer(
                    data[: len(data) - (len(data) % n_ch)], dtype=np.uint8
                ).astype(np.int64)
                if audio_format == 7:  # µ-law
                    u = 255 - b  # ~b & 0xFF
                    t = ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8))
                    x = np.where(u >= 128, 132 - t, t - 132)
                else:  # A-law
                    a = b ^ 0x55
                    seg = (a // 16) % 8
                    mant = (a % 16) * 16
                    t = np.where(
                        seg == 0,
                        mant + 8,
                        (mant + 264) * (1 << np.maximum(seg - 1, 0)),
                    )
                    x = np.where(a >= 128, t, -t)
                x = x.astype(np.int64)
            elif audio_format == 0x11 and bits == 4:
                # IMA/DVI ADPCM: per-block per-CHANNEL 4-byte headers
                # (initial predictor int16, initial step index), then
                # 4-bit codes LOW nibble first — mono as a flat byte
                # run, stereo in the spec's 4-byte channel groups (8
                # nibbles of L, 8 of R, alternating). The predictor
                # recurrence is inherently sequential WITHIN a channel
                # (each sample conditions the next step size), so the
                # inner loop is scalar integer math — exact by
                # construction, replayed step-for-step by a
                # recursive-CTE SQL oracle; Spark's parallelism lives
                # ACROSS payloads (Arrow batches), not inside one.
                if n_ch not in (1, 2):
                    return None, "ADPCM: 1 or 2 channels supported"
                if spb is None or spb < 1:
                    # conformant ADPCM WAVs always carry wSamplesPerBlock
                    # (the cbSize fmt extension); without it the trailing
                    # padding nibbles of every block would decode as
                    # audio — a silent misdecode, so reject loudly
                    return None, "ADPCM: fmt chunk missing wSamplesPerBlock"
                hdr = 4 * n_ch
                if n_ch == 1:
                    if block_align < 5:
                        return None, f"ADPCM: bad block align {block_align}"
                elif block_align < 16 or (block_align - hdr) % 8 != 0:
                    # stereo data interleaves in whole 4-byte-per-channel
                    # groups; anything else cannot be framed
                    return None, (
                        f"ADPCM: stereo block align {block_align} not "
                        f"8 + 8k"
                    )

                def ima_run(codes_bytes, pred, idx, bout):
                    for byte in codes_bytes:
                        for code in (byte & 0xF, byte >> 4):
                            step = IMA_STEP_TABLE[idx]
                            diff = step >> 3
                            if code & 1:
                                diff += step >> 2
                            if code & 2:
                                diff += step >> 1
                            if code & 4:
                                diff += step
                            pred = pred - diff if code & 8 else pred + diff
                            pred = max(-32768, min(32767, pred))
                            idx = max(
                                0, min(88, idx + IMA_INDEX_TABLE[code & 7])
                            )
                            bout.append(pred)
                    return pred, idx

                out = []
                usable = len(data) - (len(data) % block_align)
                for boff in range(0, usable, block_align):
                    block = data[boff : boff + block_align]
                    preds, idxs, bouts = [], [], []
                    for ch in range(n_ch):
                        p = struct.unpack_from("<h", block, 4 * ch)[0]
                        ix = block[4 * ch + 2]
                        if ix > 88:
                            return None, (
                                f"ADPCM: step index {ix} out of range"
                            )
                        preds.append(p)
                        idxs.append(ix)
                        bouts.append([p])
                    if n_ch == 1:
                        ima_run(block[4:], preds[0], idxs[0], bouts[0])
                    else:
                        dpos = hdr
                        while dpos < block_align:
                            for ch in range(n_ch):
                                preds[ch], idxs[ch] = ima_run(
                                    block[dpos : dpos + 4],
                                    preds[ch],
                                    idxs[ch],
                                    bouts[ch],
                                )
                                dpos += 4
                    # wSamplesPerBlock (fmt extension) bounds the block's
                    # REAL samples PER CHANNEL — the remaining nibbles are
                    # encoder padding, not audio (decoding them would skew
                    # every statistic; 'never silently misdecode')
                    if n_ch == 1:
                        out.extend(bouts[0][:spb])
                    else:
                        for pair in zip(bouts[0][:spb], bouts[1][:spb]):
                            out.extend(pair)
                if not out:
                    return None, "ADPCM: no complete block"
                x = np.array(out, dtype=np.int64)
            elif audio_format == 0x02 and bits == 4:
                # Microsoft ADPCM: per-block 7-byte header (predictor
                # index, initial delta, two seed samples) then 4-bit
                # codes HIGH nibble first; second-order linear predictor
                # with trunc-toward-zero /256 scaling and adaptive
                # delta. Sequential like IMA — scalar integer math,
                # replayed by a recursive-CTE oracle.
                # Per-channel header fields are channel-interleaved
                # (bPredictor[ch], then iDelta[ch], iSample1[ch],
                # iSample2[ch]); data nibbles alternate channels PER
                # SAMPLE — high nibble channel 0, low nibble channel 1
                # (unlike IMA's 4-byte channel groups). Mono is the
                # n_ch=1 degenerate case of the same layout.
                if n_ch not in (1, 2):
                    return None, "ADPCM: 1 or 2 channels supported"
                if spb is None or spb < 2:
                    # see the IMA branch — reject rather than decode
                    # padding ( < 2 cannot even hold the two seed samples)
                    return None, "ADPCM: fmt chunk missing wSamplesPerBlock"
                hdr = 7 * n_ch
                if block_align < hdr + 1:
                    return None, f"ADPCM: bad block align {block_align}"
                out = []
                usable = len(data) - (len(data) % block_align)
                for boff in range(0, usable, block_align):
                    block = data[boff : boff + block_align]
                    st = []  # per-channel [c1, c2, s1, s2, idelta]
                    bouts = []
                    for ch in range(n_ch):
                        pidx = block[ch]
                        if pidx >= len(MS_ADPCM_COEFFS):
                            return None, (
                                f"ADPCM: predictor {pidx} out of range"
                            )
                        idelta = struct.unpack_from(
                            "<h", block, n_ch + 2 * ch
                        )[0]
                        s1 = struct.unpack_from(
                            "<h", block, 3 * n_ch + 2 * ch
                        )[0]
                        s2 = struct.unpack_from(
                            "<h", block, 5 * n_ch + 2 * ch
                        )[0]
                        if idelta <= 0:
                            # the adaptation floor keeps idelta >= 16
                            # after the first step; a nonpositive seed is
                            # malformed (and floor-vs-trunc division
                            # would diverge on it)
                            return None, (
                                f"ADPCM: bad initial delta {idelta}"
                            )
                        c1, c2 = MS_ADPCM_COEFFS[pidx]
                        st.append([c1, c2, s1, s2, idelta])
                        bouts.append([s2, s1])
                    for byte in block[hdr:]:
                        for ci, code in enumerate((byte >> 4, byte & 0xF)):
                            ch = ci if n_ch == 2 else 0
                            c1, c2, s1, s2, idelta = st[ch]
                            signed = code - 16 if code >= 8 else code
                            num = s1 * c1 + s2 * c2
                            # C integer division truncates toward zero
                            pred = (
                                abs(num) // 256 if num >= 0
                                else -(abs(num) // 256)
                            )
                            pred += signed * idelta
                            pred = max(-32768, min(32767, pred))
                            st[ch] = [
                                c1, c2, pred, s1,
                                max(
                                    16,
                                    (MS_ADPCM_ADAPT[code] * idelta) // 256,
                                ),
                            ]
                            bouts[ch].append(pred)
                    # trim encoder padding to wSamplesPerBlock (see IMA)
                    if n_ch == 1:
                        out.extend(bouts[0][:spb])
                    else:
                        for pair in zip(bouts[0][:spb], bouts[1][:spb]):
                            out.extend(pair)
                if not out:
                    return None, "ADPCM: no complete block"
                x = np.array(out, dtype=np.int64)
            else:
                return None, f"unsupported format (fmt={audio_format}, bits={bits})"
            n_samples = x.size // n_ch if n_ch else 0
            if n_samples == 0:
                return (rate, n_ch, bits, 0, 0.0, 0.0, 0.0, 0.0), None
            # energy features from EXACT integer sufficient statistics,
            # no rounding step: every double below derives from exact
            # int64 sums through one fixed expression, so a SQL oracle
            # that regenerates the samples reproduces them bit-for-bit
            # (the round-free float discipline — ROUND itself diverges
            # between engines near .5 boundaries)
            xi = x.astype(np.int64)
            n = int(xi.size)
            import math

            sumsq = int(np.sum(xi * xi))
            peak_i = int(np.max(np.abs(xi)))
            clip_n = int(np.sum((x == 32767) | (x == -32768)))
            rms = math.sqrt(sumsq / n) / 32768.0
            peak = peak_i / 32768.0
            clip = clip_n / n
            dur = 1000.0 * n_samples / rate if rate else 0.0
            return (
                rate, n_ch, bits, int(n_samples), dur, rms, peak, clip,
            ), None
        except Exception as e:  # malformed chunk arithmetic etc.
            return None, f"parse error: {e}"

    return decode


def decode_wav(df: DataFrame) -> DataFrame:
    """REAL audio decode over mapInPandas: RIFF/PCM16 WAV payloads →
    (sample_rate, channels, duration, rms, peak, clip_fraction), malformed
    payloads reported per-row in ``error`` instead of failing the stage.
    numpy does the PCM math per payload (vectorized within each blob)."""
    return _decode_stage(
        df, WAV_FEATURES_SCHEMA, _raising(_wav_decode_impl()), ValueError
    )


PPM_DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("mean_r", FloatType(), True),
        StructField("mean_g", FloatType(), True),
        StructField("mean_b", FloatType(), True),
        StructField("mean_luma", FloatType(), True),
        StructField("error", StringType(), True),
    ]
)

PPM_RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("resized_width", IntegerType(), True),
        StructField("resized_height", IntegerType(), True),
        StructField("payload", BinaryType(), True),
        StructField("error", StringType(), True),
    ]
)


def ppm_bytes(arr) -> bytes:
    """Binary PPM (P6, maxval 255) encoder from an (h, w, 3) uint8 array —
    fixture builder and resize re-encoder."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    return f"P6\n{w} {h}\n255\n".encode() + a.tobytes()


def _ppm_parse_impl():
    def parse(payload: bytes):
        import numpy as np

        try:
            if not payload.startswith(b"P6"):
                return None, "not a P6 PPM payload"
            # header: magic, width, height, maxval separated by whitespace
            # (comments not supported — reject rather than misparse)
            parts = payload[:64].split(maxsplit=4)
            if len(parts) < 5 or parts[0] != b"P6":
                return None, "short or malformed header"
            w, h, maxval = int(parts[1]), int(parts[2]), int(parts[3])
            if maxval != 255:
                return None, f"unsupported maxval {maxval}"
            if w < 1 or h < 1:
                return None, f"bad dimensions {w}x{h}"
            header_len = len(payload[:64].rsplit(parts[4], 1)[0])
            px = np.frombuffer(payload, dtype=np.uint8, offset=header_len)
            if px.size < w * h * 3:
                return None, "truncated pixel data"
            return px[: w * h * 3].reshape(h, w, 3), None
        except Exception as e:
            return None, f"parse error: {e}"

    return parse


def decode_ppm(df: DataFrame) -> DataFrame:
    """REAL image decode over mapInPandas: P6 PPM payloads →
    dimensions + channel means + Rec.601 luminance; malformed payloads
    reported per-row."""
    parse = _raising(_ppm_parse_impl())

    def features(payload: bytes):
        px = parse(payload)
        means = px.reshape(-1, 3).mean(axis=0)
        luma = float(0.299 * means[0] + 0.587 * means[1] + 0.114 * means[2])
        return (
            px.shape[1], px.shape[0],
            round(float(means[0]), 4), round(float(means[1]), 4),
            round(float(means[2]), 4), round(luma, 4),
        )

    return _decode_stage(df, PPM_DECODED_SCHEMA, features, ValueError)


def resize_ppm(df: DataFrame, max_side: int = 32) -> DataFrame:
    """REAL pixel resize (nearest-neighbor via numpy index sampling),
    aspect-preserving fit to ``max_side``, re-encoded as P6 — an actual
    image transformation that round-trips real pixels."""
    import numpy as np

    parse = _raising(_ppm_parse_impl())

    def resized(payload: bytes):
        px = parse(payload)
        h, w = px.shape[:2]
        scale = min(max_side / w, max_side / h, 1.0)
        rw, rh = max(1, round(w * scale)), max(1, round(h * scale))
        yi = (np.arange(rh) * (h / rh)).astype(int)
        xi = (np.arange(rw) * (w / rw)).astype(int)
        return rw, rh, ppm_bytes(px[yi][:, xi])

    return _decode_stage(df, PPM_RESIZED_SCHEMA, resized, ValueError)


JPEG_DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("mean_r", FloatType(), True),
        StructField("mean_g", FloatType(), True),
        StructField("mean_b", FloatType(), True),
        StructField("mean_luma", FloatType(), True),
        StructField("error", StringType(), True),
    ]
)


def decode_jpeg_features(df: DataFrame) -> DataFrame:
    """REAL compressed-image decode over mapInPandas: baseline JPEG
    payloads → dimensions + channel means + Rec.601 luminance, via the
    pure-NumPy T.81 decoder in operators/jpeg.py (Huffman + dequant +
    vectorized IDCT + chroma upsampling — no codec library). Grayscale
    payloads report their single channel in every mean column. Malformed
    or unsupported (progressive, 12-bit) payloads land in ``error``
    per-row instead of failing the stage.

    Unlike the header parsers above (closure-pickled by value), the full
    codec is a module the WORKER imports; the session puts the package
    root on the workers' path (``session._ensure_worker_path``)."""
    from .jpeg import JpegError, decode_jpeg

    def features(payload: bytes):
        px = decode_jpeg(payload).astype("float64")
        h, w, nc = px.shape
        means = px.reshape(-1, nc).mean(axis=0)
        if nc == 3:
            r, g, b = (float(x) for x in means)
            luma = 0.299 * r + 0.587 * g + 0.114 * b
        else:
            r = g = b = luma = float(means[0])
        return (
            w, h, nc, round(r, 4), round(g, 4), round(b, 4), round(luma, 4),
        )

    return _decode_stage(df, JPEG_DECODED_SCHEMA, features, JpegError)


PNG_DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("bit_depth", IntegerType(), True),
        StructField("sum_luma", LongType(), True),
        StructField("mean_luma", DoubleType(), True),
        StructField("min_luma", IntegerType(), True),
        StructField("max_luma", IntegerType(), True),
        StructField("error", StringType(), True),
    ]
)


def decode_png_features(df: DataFrame) -> DataFrame:
    """REAL lossless-image decode over mapInPandas: PNG payloads →
    dimensions + exact sample statistics, via the pure-NumPy RFC 2083
    decoder in operators/png.py (chunk CRCs + stdlib-zlib inflate + all
    five scanline filters — no codec library). Because PNG is lossless
    the statistics are EXACT integers: ``sum_luma`` is the int64 sum of
    every decoded sample and ``mean_luma`` its exact-int division, so a
    SQL oracle that regenerates the pixels analytically matches the
    decode bit-for-bit with no rounding step (the round-free float
    discipline of record, ROUNDLOG r5 item 9). Malformed payloads land
    in ``error`` per-row instead of failing the stage."""
    from .png import PngError, decode_png

    def features(payload: bytes):
        px = decode_png(payload)
        if px.ndim == 2:
            h, w, nc = px.shape[0], px.shape[1], 1
        else:
            h, w, nc = px.shape
        # depth follows the decoded dtype (uint16 since r9)
        bd = 16 if px.dtype.itemsize == 2 else 8
        total = int(px.sum(dtype="int64"))
        return (
            w, h, nc, bd, total, total / (h * w * nc),
            int(px.min()), int(px.max()),
        )

    return _decode_stage(df, PNG_DECODED_SCHEMA, features, PngError)


GIF_DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("palette_size", IntegerType(), True),
        StructField("sum_rgb", LongType(), True),
        StructField("mean_sample", DoubleType(), True),
        StructField("min_sample", IntegerType(), True),
        StructField("max_sample", IntegerType(), True),
        StructField("error", StringType(), True),
    ]
)


def decode_gif_features(df: DataFrame) -> DataFrame:
    """REAL palette-image decode over mapInPandas: GIF payloads →
    dimensions + exact RGB sample statistics, via the pure-Python LZW
    codec in operators/gif.py (variable-width codes, clear-code table
    resets, KwKwK — no codec library). The decoded index array maps
    through the color table to (h, w, 3) RGB, and because GIF is
    lossless the statistics are EXACT integers: ``sum_rgb`` is the int64
    sum over every channel sample and ``mean_sample`` its exact-int
    division — the same round-free discipline as decode_png_features, so
    an analytic SQL oracle matches bit-for-bit. Malformed payloads land
    in ``error`` per-row instead of failing the stage."""
    from .gif import GifError, decode_gif

    def features(payload: bytes):
        px, palette = decode_gif(payload)
        rgb = palette[px]  # uint8 fancy-index -> (h, w, 3) uint8
        h, w, _ = rgb.shape
        total = int(rgb.sum(dtype="int64"))
        return (
            w, h, 3, int(palette.shape[0]), total, total / (h * w * 3),
            int(rgb.min()), int(rgb.max()),
        )

    return _decode_stage(df, GIF_DECODED_SCHEMA, features, GifError)


BMP_DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("bit_depth", IntegerType(), True),
        StructField("sum_rgb", LongType(), True),
        StructField("mean_sample", DoubleType(), True),
        StructField("min_sample", IntegerType(), True),
        StructField("max_sample", IntegerType(), True),
        StructField("error", StringType(), True),
    ]
)


def decode_bmp_features(df: DataFrame) -> DataFrame:
    """REAL uncompressed-DIB decode over mapInPandas: BMP payloads →
    dimensions + exact RGB sample statistics via the pure-NumPy codec in
    operators/bmp.py (BI_RGB, 8-bit palettized + 24-bit BGR, bottom-up
    and top-down row order, 4-byte row padding). BMP is uncompressed,
    so the statistics are EXACT integers — ``sum_rgb`` the int64 sum
    over every channel sample, ``mean_sample`` its exact division —
    and an analytic SQL oracle matches bit-for-bit (the GIF/PNG
    discipline). Malformed payloads land in ``error`` per-row instead
    of failing the stage."""
    import struct

    from .bmp import BmpError, decode_bmp

    def features(payload: bytes):
        rgb = decode_bmp(payload)
        bits = struct.unpack_from("<H", payload, 28)[0]
        h, w, _ = rgb.shape
        total = int(rgb.sum(dtype="int64"))
        return (
            w, h, 3, int(bits), total, total / (h * w * 3),
            int(rgb.min()), int(rgb.max()),
        )

    return _decode_stage(df, BMP_DECODED_SCHEMA, features, BmpError)


def decode_flac_features(df: DataFrame) -> DataFrame:
    """REAL lossless-audio decode over mapInPandas: FLAC payloads →
    energy features through the subset codec in operators/flac.py
    (mono/16-bit, CRC-verified frames, constant/verbatim/fixed-predictor
    subframes with Rice residuals). FLAC is lossless, so the decoded
    samples — and therefore the exact-integer sufficient statistics —
    are reproducible by a SQL oracle that regenerates the sample stream
    (integer prefix sums for the order-1 fixture). Output schema is the
    WAV feature schema; malformed payloads land in ``error`` per-row."""
    import math

    import numpy as np

    from .flac import FlacError, decode_flac

    def features(payload: bytes):
        (rate, n_ch, bits, _total), x = decode_flac(payload)
        n = int(x.size)
        if n == 0:
            return rate, n_ch, bits, 0, 0.0, 0.0, 0.0, 0.0
        sumsq = int(np.sum(x * x))
        peak_i = int(np.max(np.abs(x)))
        clip_n = int(np.sum((x == 32767) | (x == -32768)))
        return (
            rate,
            n_ch,
            bits,
            n,
            # duration counts per-channel frames (stereo samples
            # interleave into x)
            1000.0 * (n / n_ch) / rate if rate else 0.0,
            math.sqrt(sumsq / n) / 32768.0,
            peak_i / 32768.0,
            clip_n / n,
        )

    return _decode_stage(df, WAV_FEATURES_SCHEMA, features, FlacError)


def decode_qoi_features(df: DataFrame) -> DataFrame:
    """REAL QOI decode over mapInPandas (operators/qoi.py — the modern
    lossless web image format): dimensions + exact channel-sample
    statistics, BMP_DECODED_SCHEMA shape (``bit_depth`` carries the QOI
    channel count ×8). Lossless, so an analytic SQL oracle over the
    closed-form pattern matches bit-for-bit. Malformed payloads land in
    ``error`` per-row."""
    from .qoi import QoiError, decode_qoi

    def features(payload: bytes):
        px = decode_qoi(payload)
        h, w, ch = px.shape
        total = int(px.sum(dtype="int64"))
        return (
            w, h, int(ch), int(ch) * 8, total, total / (h * w * ch),
            int(px.min()), int(px.max()),
        )

    return _decode_stage(df, BMP_DECODED_SCHEMA, features, QoiError)


TIFF_DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("compression", IntegerType(), True),
        StructField("photometric", IntegerType(), True),
        StructField("sum_rgb", LongType(), True),
        StructField("mean_sample", DoubleType(), True),
        StructField("min_sample", IntegerType(), True),
        StructField("max_sample", IntegerType(), True),
        StructField("error", StringType(), True),
    ]
)


def decode_tiff_features(df: DataFrame) -> DataFrame:
    """REAL baseline-TIFF decode over mapInPandas: payloads →
    dimensions + exact RGB sample statistics via the pure-NumPy codec
    in operators/tiff.py (both byte orders, gray/WhiteIsZero/RGB,
    multi-strip, uncompressed + PackBits). PackBits is lossless RLE, so
    the statistics are EXACT integers — ``sum_rgb`` the int64 sum over
    every channel sample, ``mean_sample`` its exact division — and an
    analytic SQL oracle matches bit-for-bit (the GIF/PNG/BMP
    discipline). Malformed payloads land in ``error`` per-row instead
    of failing the stage."""
    from .tiff import TiffError, decode_tiff

    def features(payload: bytes):
        rgb, info = decode_tiff(payload)
        h, w, _ = rgb.shape
        total = int(rgb.sum(dtype="int64"))
        return (
            w, h, 3, info["compression"], info["photometric"],
            total, total / (h * w * 3), int(rgb.min()), int(rgb.max()),
        )

    return _decode_stage(df, TIFF_DECODED_SCHEMA, features, TiffError)
