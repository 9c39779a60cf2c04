"""Multimodal columns (X5): image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched mapInPandas.

Decode tiers:
- **Real**: binary P6 PPM images, PNG (full chunk walk + zlib inflate
  + all five scanline filters — pure stdlib/numpy), and PCM WAV are
  decoded for real, so the decode → typed-stats path is exercised
  end-to-end and value-matched against analytic oracles (catalog
  ``multimodal_image_stats`` / ``multimodal_image_stats_png`` /
  ``multimodal_audio_stats``).
- **Gated-real**: other image MIME types decode through Pillow when it
  is importable (``_HAS_PIL``); without it they raise
  ``NotImplementedError`` — loud, never silently fake.
- **Stubbed**: opaque payloads (audio/video/octet-stream) get
  deterministic md5-derived features so plumbing tests can assert
  exact outputs; swap for torchaudio/ffmpeg in production.

Scale notes:
- Binary payloads ride in the same parquet row groups as metadata;
  ``spark.sql.files.maxPartitionBytes`` bounds task input so a
  partition of 10 MB blobs still fits executor memory.
- mapInPandas streams Arrow batches — one Python worker per task,
  vectorized transfer; never a per-row Python UDF. (Per-image decode
  inside a batch is a Python loop over blobs by nature — identical to
  what Pillow/ffmpeg would do — but all row bookkeeping is pandas.)
- Feature extraction emits fixed-size vectors, so downstream
  similarity ops (operators/similarity.py) apply unchanged.

Three private cores carry the per-function skeletons:
- ``_media_frame`` builds the MEDIA_SCHEMA frame of every fixture
  builder (``media_with_*``, ``media_routing_fixture``); a builder
  supplies only its closed-form payload formula, and the WAV builders
  write their header through ``_wav_bytes``, as ``encode_wav_pcm``
  does.
- ``_MODALITIES`` maps image/audio/video to (decode, fingerprint).
  ``media_gate_hash`` and ``_fingerprints`` (behind ``image_dhash``,
  ``audio_hash``, ``audio_hash_dft`` and ``video_hash``) both read it,
  so the gate and the hash ops cannot drift apart. The ops drop rows
  that do not decode (and zero-frame videos) and let decoder errors
  raise; the gate turns every decoder error into ``decode_ok=false``
  and marks a zero-frame video ok with a null hash.
- ``_rewrite_media`` is the payload rewrite behind ``resize_media``,
  ``resize_video``, ``resample_video`` and ``resample_audio``: one
  modality mask, one ``on_exotic`` check, and one rule for a payload
  that does not decode (it and the metadata the rewrite sets go null;
  ``mime`` changes only on success).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # gated-real decode for non-PPM images
    from PIL import Image as _PILImage

    _HAS_PIL = True
except ImportError:  # pragma: no cover - environment-dependent
    _PILImage = None
    _HAS_PIL = False

# Unified multimodal record: opaque payload + typed metadata.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)


def _media_frame(
    docs: DataFrame,
    modality: str,
    mime: str,
    payloads_of,
    width: int | None = None,
    height: int | None = None,
    duration_ms=None,
) -> DataFrame:
    """The MEDIA_SCHEMA frame of a fixture builder: one row per
    ``doc_id`` (``media_id = doc_id``), payloads from
    ``payloads_of(ids)`` (an int64 id array -> one payload per id), the
    given constant modality/mime/geometry, and ``duration_ms(ids)``
    when given (null otherwise). Built batch by batch in mapInPandas,
    so payloads are made on the executors."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["doc_id"].to_numpy()
            n = len(ids)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "modality": modality,
                    "payload": payloads_of(ids),
                    "mime": mime,
                    "width": pd.Series([width] * n, dtype="Int32"),
                    "height": pd.Series([height] * n, dtype="Int32"),
                    "duration_ms": pd.Series(
                        [None] * n if duration_ms is None else duration_ms(ids),
                        dtype="Int64",
                    ),
                }
            )

    return docs.select("doc_id").mapInPandas(batches, schema=MEDIA_SCHEMA)


FEATURE_DIM = 16

_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("payload_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


PPM_MAGIC = b"P6"


def decode_ppm(payload: bytes) -> tuple[int, int, int, np.ndarray] | None:
    """REAL image decode for binary (P6) PPM: parse the canonical
    ``P6\\n<w> <h>\\n<maxval>\\n`` header, then reinterpret the raw
    pixel bytes as an (h, w, 3) uint8 array — zero-copy via
    np.frombuffer. Returns (width, height, maxval, pixels), or None
    when the payload is not a PPM. (Canonical header form only — the
    rarely-used comment lines are out of scope.)"""
    if payload is None or not payload.startswith(PPM_MAGIC):
        return None
    parts = bytes(payload).split(b"\n", 3)
    if len(parts) < 4:
        return None
    w, h = (int(x) for x in parts[1].split())
    maxval = int(parts[2])
    px = np.frombuffer(parts[3], dtype=np.uint8, count=w * h * 3).reshape(h, w, 3)
    return w, h, maxval, px


def encode_ppm(px: np.ndarray) -> bytes:
    """Encode (h, w, 3) uint8 pixels as binary P6 PPM — the inverse
    contract of decode_ppm and the lossless native re-encode target
    of resize_media (no quantization, so the resized pixels survive
    the container byte-exactly)."""
    h, w = px.shape[:2]
    return f"P6\n{w} {h}\n255\n".encode() + np.ascontiguousarray(
        px, dtype=np.uint8
    ).tobytes()


def resize_rgb(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Deterministic, engine-replayable image resize: AREA AVERAGE
    when the source dims are integer multiples of the target (each
    output pixel is the integer-sum mean of its fy x fx source block,
    rounded floor(x + 0.5) — the sums are exact and order-free, so a
    SQL oracle replays the bytes); CENTER-NEAREST otherwise (source
    index (2i+1)*src // (2*dst), pure integer arithmetic). The two
    strategies cover the training-pipeline cases: power-of-two
    downscale for thumbnails/features, arbitrary-geometry snap for
    normalization. Accepts (h, w, c) channel-last or (h, w) gray —
    gray in, gray out (the video luma-frame path)."""
    squeeze = px.ndim == 2
    if squeeze:
        px = px[:, :, None]
    h, w, c = px.shape
    if out_h <= 0 or out_w <= 0:
        raise ValueError(f"target geometry must be positive: {out_w}x{out_h}")
    if h % out_h == 0 and w % out_w == 0:
        fy, fx = h // out_h, w // out_w
        sums = (
            px.astype(np.int64)
            .reshape(out_h, fy, out_w, fx, c)
            .sum(axis=(1, 3))
            .astype(np.float64)
        )
        out = np.floor(sums / (fy * fx) + 0.5).astype(np.uint8)
    else:
        ys = ((2 * np.arange(out_h, dtype=np.int64) + 1) * h) // (2 * out_h)
        xs = ((2 * np.arange(out_w, dtype=np.int64) + 1) * w) // (2 * out_w)
        out = px[np.ix_(ys, xs)]
    return out[:, :, 0] if squeeze else out


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# PNG color type -> samples per pixel (8-bit depth, non-interlaced)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor (PNG filter 4), vectorized over a scanline."""
    p = a.astype(np.int32) + b.astype(np.int32) - c.astype(np.int32)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)).astype(
        np.uint8
    )


def decode_png(payload: bytes) -> tuple[int, int, int, np.ndarray] | None:
    """REAL compressed-image decode for PNG, pure stdlib+numpy: verify
    the signature, walk the chunk list (length/type/body/CRC), parse
    IHDR, zlib-inflate the concatenated IDAT stream, then invert the
    per-scanline filters (0 None, 1 Sub, 2 Up, 3 Average, 4 Paeth —
    the full filter set). Supports 8-bit depth, color types 0 (gray),
    2 (RGB), 4 (gray+alpha), 6 (RGBA), non-interlaced — the canonical
    output of every mainstream encoder. Returns (width, height,
    channels, pixels[(h, w, c) uint8]) or None when the payload is not
    a PNG; raises NotImplementedError for exotic depth/interlace so an
    unsupported file is loud, never silently skipped.

    Per-scanline unfiltering is sequential by spec (each row depends on
    the previous), but Sub/Paeth's intra-row dependency runs on whole
    pixel-stride slices and Up/Average vectorize across the row; the
    per-image cost is what any native decoder pays, and rows ride in
    Arrow batches through mapInPandas like every other decode here."""
    import zlib

    if payload is None or not bytes(payload).startswith(PNG_MAGIC):
        return None
    buf = bytes(payload)
    pos, n = len(PNG_MAGIC), len(buf)
    width = height = None
    idat = bytearray()
    while pos + 8 <= n:
        size = int.from_bytes(buf[pos : pos + 4], "big")
        ctype = buf[pos + 4 : pos + 8]
        body = buf[pos + 8 : pos + 8 + size]
        if ctype == b"IHDR":
            width = int.from_bytes(body[0:4], "big")
            height = int.from_bytes(body[4:8], "big")
            depth, color, _comp, _filt, interlace = body[8:13]
            if depth != 8 or color not in _PNG_CHANNELS or interlace != 0:
                raise NotImplementedError(
                    f"PNG depth={depth} color={color} interlace={interlace}"
                )
            channels = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + size  # len + type + body + crc
    if width is None or not idat:
        return None
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = width * channels
    rows = raw.reshape(height, stride + 1)  # leading byte = filter type
    out = np.zeros((height, stride), dtype=np.uint8)
    zero_row = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype, line = rows[y, 0], rows[y, 1:].copy()
        prev = out[y - 1] if y > 0 else zero_row
        if ftype == 0:
            out[y] = line
        elif ftype == 1:  # Sub: left-neighbor prefix sum per stride lane
            for x in range(channels, stride):
                line[x] = (int(line[x]) + int(line[x - channels])) & 0xFF
            out[y] = line
        elif ftype == 2:  # Up
            out[y] = line + prev  # uint8 wraparound == mod-256 spec
        elif ftype == 3:  # Average
            for x in range(stride):
                left = int(line[x - channels]) if x >= channels else 0
                line[x] = (int(line[x]) + (left + int(prev[x])) // 2) & 0xFF
            out[y] = line
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = int(line[x - channels]) if x >= channels else 0
                c = int(prev[x - channels]) if x >= channels else 0
                line[x] = (
                    int(line[x])
                    + int(_paeth(np.uint8(a), prev[x], np.uint8(c)))
                ) & 0xFF
            out[y] = line
        else:
            raise NotImplementedError(f"PNG filter type {ftype}")
    return width, height, channels, out.reshape(height, width, channels)


def encode_png(px: np.ndarray, filter_type: int = 0) -> bytes:
    """Minimal real PNG encoder (test-fixture twin of decode_png):
    8-bit gray/RGB/RGBA from an (h, w[, c]) uint8 array, every
    scanline filtered with ``filter_type`` (0-4 — exercising each
    decoder unfilter path), zlib-deflated IDAT, CRC-correct chunks.
    Round-trips through any standards-compliant decoder."""
    import zlib

    if px.ndim == 2:
        px = px[:, :, None]
    h, w, channels = px.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = w * channels
    flat = px.reshape(h, stride).astype(np.uint8)
    lines = bytearray()
    zero_row = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        cur, prev = flat[y], (flat[y - 1] if y > 0 else zero_row)
        left = np.concatenate([np.zeros(channels, dtype=np.uint8), cur[:-channels]])
        ul = np.concatenate([np.zeros(channels, dtype=np.uint8), prev[:-channels]])
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = cur - left
        elif filter_type == 2:
            filt = cur - prev
        elif filter_type == 3:
            filt = cur - ((left.astype(np.int32) + prev.astype(np.int32)) // 2).astype(
                np.uint8
            )
        elif filter_type == 4:
            filt = cur - _paeth(left, prev, ul)
        else:
            raise ValueError(f"PNG filter type {filter_type}")
        lines.append(filter_type)
        lines += filt.astype(np.uint8).tobytes()

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big")
            + ctype
            + body
            + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, color, 0, 0, 0])  # depth 8, no interlace
    )
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(lines)))
        + chunk(b"IEND", b"")
    )


# --- JPEG (baseline JFIF) — pure stdlib+numpy, like PNG/WAV/Y4M ------

JPEG_MAGIC = b"\xff\xd8\xff"


def _dct8() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix: forward block transform is
    C @ (px - 128) @ C.T, inverse is C.T @ coef @ C."""
    c = np.zeros((8, 8), dtype=np.float64)
    for u in range(8):
        a = np.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            c[u, x] = a * np.cos((2 * x + 1) * u * np.pi / 16)
    return c


_DCT8 = _dct8()


def _zigzag() -> list[tuple[int, int]]:
    """The spec's zigzag scan order, generated (diagonal walk, even
    diagonals bottom-to-top) instead of transcribed."""
    order: list[tuple[int, int]] = []
    for s in range(15):
        diag = [(i, s - i) for i in range(8) if 0 <= s - i < 8]
        if s % 2 == 0:
            diag.reverse()
        order.extend(diag)
    return order


_ZIGZAG = _zigzag()

# Canonical Huffman tables this codec WRITES (the decoder is
# table-driven off DHT, so any valid table interoperates): 12 DC size
# symbols at code length 4, the full 162 AC (run, size) alphabet at
# code length 9 — fixed-length canonical codes, generated rather than
# transcribed from Annex K (suboptimal compression, zero
# transcription risk, still a fully standard baseline JPEG).
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_DC_VALS = list(range(12))
_AC_BITS = [0] * 8 + [162] + [0] * 7
_AC_VALS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


def _huff_decode_table(bits: list[int], vals: list[int]) -> dict:
    """(code length, code value) -> symbol, canonical assignment (the
    spec's GenerateCodeTable)."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return table


def _huff_encode_table(bits: list[int], vals: list[int]) -> dict:
    return {v: (ln, c) for (ln, c), v in _huff_decode_table(bits, vals).items()}


class _BitReader:
    """MSB-first reader over entropy-coded data with 0xFF00 stuffing
    removed by the caller."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read(self, n: int) -> int:
        out = 0
        for _ in range(n):
            if self.pos >= len(self.data):
                raise NotImplementedError("JPEG entropy data truncated")
            out = (out << 1) | ((self.data[self.pos] >> (7 - self.bit)) & 1)
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.pos += 1
        return out


def _huff_read(br: _BitReader, table: dict) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | br.read(1)
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise NotImplementedError("invalid JPEG Huffman code")


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def decode_jpeg(payload: bytes) -> tuple[int, int, int, np.ndarray] | None:
    """REAL compressed-image decode for baseline JPEG, pure
    stdlib+numpy (the compressed sibling of decode_png, closing the
    r7/r8 'compressed-codec fixtures' residual without Pillow): walk
    the marker stream (DQT/SOF0/DHT/SOS), Huffman-decode the entropy
    segment (canonical tables rebuilt from DHT — any compliant
    encoder's tables work), DC-predict + run-length AC through the
    generated zigzag, dequantize, float64 inverse DCT per block,
    level-shift/round/clamp; 3-component scans invert the JFIF YCbCr
    transform. Supports 8-bit baseline (SOF0), 1 or 3 components,
    sampling factors up to 2x2 — 4:4:4, 4:2:2, AND the 4:2:0 layout
    virtually every camera emits (interleaved h_i x v_i blocks per
    MCU, chroma planes nearest-neighbor upsampled) and restart
    intervals (DRI/RSTn: byte-aligned segments, DC prediction reset
    per interval) — progressive scans and sampling factors > 2 raise
    NotImplementedError (loud, never silently skipped — the
    exotic-PNG policy). Returns (width,
    height, channels, pixels[(h, w, c) uint8]) or None when the
    payload is not a JPEG."""
    if payload is None or not bytes(payload).startswith(JPEG_MAGIC):
        return None
    buf = bytes(payload)
    pos, n = 2, len(buf)
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    width = height = None
    comps: list[tuple[int, int, int, int]] = []  # id, h, v, tq
    scan: list[tuple[int, int, int]] = []  # comp idx, dc table, ac table
    restart_interval = 0
    data = None
    while pos + 4 <= n:
        if buf[pos] != 0xFF:
            raise NotImplementedError("JPEG marker stream desynchronized")
        # ITU T.81 B.1.1.2: any number of 0xFF FILL bytes may precede
        # a marker code — skip them or a padded stream desyncs
        while pos + 1 < n and buf[pos + 1] == 0xFF:
            pos += 1
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        seglen = int.from_bytes(buf[pos : pos + 2], "big")
        body = buf[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0x0F
                if pq != 0:
                    raise NotImplementedError("JPEG 16-bit quant table")
                tbl = np.zeros((8, 8), dtype=np.int32)
                for k, (r, c) in enumerate(_ZIGZAG):
                    tbl[r, c] = body[b + 1 + k]
                qt[tq] = tbl
                b += 65
        elif marker == 0xC0:  # SOF0 baseline
            if body[0] != 8:
                raise NotImplementedError("JPEG precision != 8")
            height = int.from_bytes(body[1:3], "big")
            width = int.from_bytes(body[3:5], "big")
            nc = body[5]
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i], body[7 + 3 * i], body[8 + 3 * i]
                h, v = hv >> 4, hv & 0x0F
                if not (1 <= h <= 2 and 1 <= v <= 2):
                    raise NotImplementedError("JPEG sampling factors > 2")
                comps.append((cid, h, v, tq))
            if nc not in (1, 3):
                raise NotImplementedError(f"JPEG {nc}-component scan")
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError("JPEG non-baseline SOF")
        elif marker == 0xC4:  # DHT
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0x0F
                bits = list(body[b + 1 : b + 17])
                nv = sum(bits)
                vals = list(body[b + 17 : b + 17 + nv])
                huff[(tc, th)] = _huff_decode_table(bits, vals)
                b += 17 + nv
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(body[0:2], "big")
        elif marker == 0xDA:  # SOS — entropy data follows the header
            ns = body[0]
            for i in range(ns):
                cs, tt = body[1 + 2 * i], body[2 + 2 * i]
                idx = next(j for j, c in enumerate(comps) if c[0] == cs)
                scan.append((idx, tt >> 4, tt & 0x0F))
            # entropy data: unstuff FF00, split at RSTn (restart
            # markers byte-align the stream and reset DC prediction —
            # one segment per interval)
            segments = [bytearray()]
            p = pos + seglen
            while p < n:
                bb = buf[p]
                if bb == 0xFF:
                    nxt = buf[p + 1] if p + 1 < n else 0xD9
                    if nxt == 0x00:
                        segments[-1].append(0xFF)
                        p += 2
                        continue
                    if 0xD0 <= nxt <= 0xD7:  # RSTn: segment boundary
                        segments.append(bytearray())
                        p += 2
                        continue
                    break  # a real marker ends the scan
                segments[-1].append(bb)
                p += 1
            data = [bytes(sg) for sg in segments]
            pos = p
            continue
        pos += seglen
    if width is None or data is None:
        return None
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcx = (width + 8 * hmax - 1) // (8 * hmax)
    mcy = (height + 8 * vmax - 1) // (8 * vmax)
    planes = [
        np.zeros((mcy * c[2] * 8, mcx * c[1] * 8), dtype=np.float64)
        for c in comps
    ]
    seg_idx = 0
    br = _BitReader(data[0])
    pred = [0] * len(comps)
    for mby in range(mcy):
        for mbx in range(mcx):
            mcu_done = mby * mcx + mbx
            if restart_interval and mcu_done and mcu_done % restart_interval == 0:
                # restart: next byte-aligned segment, DC predictors reset
                seg_idx += 1
                if seg_idx >= len(data):
                    raise NotImplementedError("JPEG missing restart marker")
                br = _BitReader(data[seg_idx])
                pred = [0] * len(comps)
            for ci, dct_id, act_id in scan:
                _, ch, cv, ctq = comps[ci]
                for bv in range(cv):
                    for bh in range(ch):
                        coef = np.zeros((8, 8), dtype=np.float64)
                        s = _huff_read(br, huff[(0, dct_id)])
                        diff = _extend(br.read(s), s)
                        pred[ci] += diff
                        coef[0, 0] = pred[ci]
                        k = 1
                        while k < 64:
                            sym = _huff_read(br, huff[(1, act_id)])
                            if sym == 0x00:  # EOB
                                break
                            if sym == 0xF0:  # ZRL
                                k += 16
                                continue
                            run, size = sym >> 4, sym & 0x0F
                            k += run
                            if k > 63:
                                raise NotImplementedError(
                                    "JPEG AC index overflow"
                                )
                            r, c = _ZIGZAG[k]
                            coef[r, c] = _extend(br.read(size), size)
                            k += 1
                        coef *= qt[ctq]
                        block = _DCT8.T @ coef @ _DCT8 + 128.0
                        py = (mby * cv + bv) * 8
                        pxx = (mbx * ch + bh) * 8
                        planes[ci][py : py + 8, pxx : pxx + 8] = block
    # nearest-neighbor upsample subsampled planes to full resolution
    planes = [
        np.repeat(
            np.repeat(pl, vmax // comps[i][2], axis=0),
            hmax // comps[i][1],
            axis=1,
        )[:height, :width]
        for i, pl in enumerate(planes)
    ]
    if len(comps) == 1:
        px = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return width, height, 1, px[:, :, None]
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack(
        [np.clip(np.round(ch), 0, 255).astype(np.uint8) for ch in (r, g, b)],
        axis=2,
    )
    return width, height, 3, rgb


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.acc = (self.acc << pad) | ((1 << pad) - 1)  # 1-padding
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
        return bytes(self.out)


def encode_jpeg(
    px: np.ndarray,
    qtable: np.ndarray | None = None,
    subsample: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Minimal real baseline-JFIF encoder (test-fixture twin of
    decode_jpeg, the encode_png pattern): 8-bit gray (h, w) or RGB
    (h, w, 3) at 4:4:4 or — ``subsample='420'`` — the camera-standard
    4:2:0 (Y at 2x2 sampling, 2x2-mean-downsampled chroma, MCUs of
    4 Y + Cb + Cr blocks), one shared quant table (default: flat 16 —
    valid, and it makes constant-block reconstruction exact, which
    the analytic fixture oracle exploits), the canonical fixed-length
    Huffman tables above (declared in DHT, so ANY compliant decoder
    reads the stream), optional DRI/RSTn restart markers every
    ``restart_interval`` MCUs. Round-trips through decode_jpeg and
    any standard decoder."""
    if qtable is None:
        qtable = np.full((8, 8), 16, dtype=np.int32)
    if subsample not in ("444", "420"):
        raise ValueError(f"subsample {subsample!r} not in ('444', '420')")
    gray = px.ndim == 2 or px.shape[2] == 1
    h, w = px.shape[:2]
    if gray:
        planes = [px.reshape(h, w).astype(np.float64)]
    else:
        r = px[:, :, 0].astype(np.float64)
        g = px[:, :, 1].astype(np.float64)
        b = px[:, :, 2].astype(np.float64)
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
            128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
        ]
    sub420 = subsample == "420" and not gray
    # (h_i, v_i) per component; MCU geometry follows the max factors
    samp = [(2, 2), (1, 1), (1, 1)] if sub420 else [(1, 1)] * len(planes)
    hmax = max(sh for sh, _ in samp[: len(planes)])
    vmax = max(sv for _, sv in samp[: len(planes)])
    mcx = (w + 8 * hmax - 1) // (8 * hmax)
    mcy = (h + 8 * vmax - 1) // (8 * vmax)
    padded = []
    for ci, pl in enumerate(planes):
        sh, sv = samp[ci]
        if (sh, sv) != (hmax, vmax):
            # chroma downsample: 2x2 block mean over an edge-replicate
            # pad to even dims
            ph = pl.shape[0] + (pl.shape[0] & 1)
            pw = pl.shape[1] + (pl.shape[1] & 1)
            tmp = np.empty((ph, pw), dtype=np.float64)
            tmp[: pl.shape[0], : pl.shape[1]] = pl
            tmp[pl.shape[0] :, : pl.shape[1]] = pl[-1:, :]
            tmp[:, pl.shape[1] :] = tmp[:, pl.shape[1] - 1 : pl.shape[1]]
            pl = tmp.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
        th, tw = mcy * sv * 8, mcx * sh * 8
        canvas = np.empty((th, tw), dtype=np.float64)
        ch_, cw_ = min(pl.shape[0], th), min(pl.shape[1], tw)
        canvas[:ch_, :cw_] = pl[:ch_, :cw_]
        canvas[ch_:, :cw_] = canvas[ch_ - 1 : ch_, :cw_]  # edge-replicate
        canvas[:, cw_:] = canvas[:, cw_ - 1 : cw_]
        padded.append(canvas)

    dc_enc = _huff_encode_table(_DC_BITS, _DC_VALS)
    ac_enc = _huff_encode_table(_AC_BITS, _AC_VALS)
    bw = _BitWriter()
    pred = [0] * len(planes)

    def put(v: int, table: dict, run: int = -1) -> None:
        size = int(abs(v)).bit_length()
        sym = size if run < 0 else ((run << 4) | size)
        ln, code = table[sym]
        bw.write(code, ln)
        if size:
            bits = v if v > 0 else v + (1 << size) - 1
            bw.write(bits, size)

    def put_block(ci: int, block: np.ndarray) -> None:
        coef = _DCT8 @ (block - 128.0) @ _DCT8.T
        q = np.round(coef / qtable).astype(np.int64)
        # Alphabet clamps: the fixed DHT covers DC sizes 0-11
        # (|diff| <= 2047) and AC sizes 0-10 (|coef| <= 1023). A
        # caller qtable with tiny entries (e.g. all 1s) can quantize
        # past both — clamp instead of KeyError-ing deep in the bit
        # writer. pred tracks the CLAMPED DC so encoder and decoder
        # predictions stay in sync (the clamp costs accuracy only in
        # the pathological-qtable case, never with the default 16s).
        diff = int(q[0, 0]) - pred[ci]
        diff = max(-2047, min(2047, diff))
        pred[ci] += diff
        put(diff, dc_enc)
        zz = [max(-1023, min(1023, int(q[r, c]))) for r, c in _ZIGZAG[1:]]
        run = 0
        last_nz = max((i for i, v in enumerate(zz) if v), default=-1)
        for i in range(last_nz + 1):
            if zz[i] == 0:
                run += 1
                continue
            while run > 15:
                ln, code = ac_enc[0xF0]
                bw.write(code, ln)
                run -= 16
            put(zz[i], ac_enc, run)
            run = 0
        if last_nz < 63 - 1:
            ln, code = ac_enc[0x00]  # EOB
            bw.write(code, ln)

    chunks: list[bytes] = []
    rst = 0
    for mby in range(mcy):
        for mbx in range(mcx):
            mcu_done = mby * mcx + mbx
            if restart_interval and mcu_done and mcu_done % restart_interval == 0:
                chunks.append(bw.flush())
                chunks.append(bytes([0xFF, 0xD0 + (rst % 8)]))
                rst += 1
                bw = _BitWriter()  # rebinding: put()/put_block() see it
                pred = [0] * len(planes)
            for ci, pl in enumerate(padded):
                sh, sv = samp[ci]
                for bv in range(sv):
                    for bh in range(sh):
                        py = (mby * sv + bv) * 8
                        pxx = (mbx * sh + bh) * 8
                        put_block(ci, pl[py : py + 8, pxx : pxx + 8])

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    zz_q = bytes(int(qtable[r, c]) for r, c in _ZIGZAG)
    ncomp = len(planes)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    sos = bytes([ncomp])
    for i in range(ncomp):
        sh, sv = samp[i]
        sof += bytes([i + 1, (sh << 4) | sv, 0])  # comp id, sampling, qtable 0
        sos += bytes([i + 1, 0x00])  # dc table 0, ac table 0
    sos += bytes([0, 63, 0])  # Ss, Se, Ah/Al
    dht = (
        bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
        + bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    )
    dri = (
        seg(0xDD, restart_interval.to_bytes(2, "big"))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"
        + seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xDB, bytes([0x00]) + zz_q)
        + seg(0xC0, sof)
        + dri
        + seg(0xC4, dht)
        + seg(0xDA, sos)
        + b"".join(chunks)
        + bw.flush()
        + b"\xff\xd9"
    )


def media_with_jpeg(docs: DataFrame, width: int = 16, height: int = 16) -> DataFrame:
    """Compressed-fixture twin of media_with_ppm: each document
    becomes a REAL baseline JPEG — constant gray ``2 * ((doc_id * 13)
    % 128)`` (even values only). With the flat-16 quant table a
    constant block quantizes to an exact integer DC ((g-128)/2) and
    reconstructs EXACTLY to g, so image_stats over a genuine
    Huffman-coded, DCT-quantized payload is still analytically
    oracle-checkable — the decoder's marker walk, Huffman tables,
    zigzag, dequantize, and IDCT all sit on the certified path."""
    return _media_frame(docs, "image", "image/jpeg", lambda ids: [
        encode_jpeg(np.full((height, width), 2 * ((int(d) * 13) % 128), dtype=np.uint8))
        for d in ids
    ])


def _decode_features(payload: bytes, mime: str | None) -> list[float]:
    """Feature vector per payload. PPM: real decode — dimensions,
    per-channel means, leading pixel bytes. Other image/* MIME: Pillow
    when present, NotImplementedError otherwise (never a silent fake).
    Opaque payloads: deterministic md5-derived stub features."""
    if payload is None:
        raise NotImplementedError("media decode of null payload")
    decoded = _decode_rgb(payload)
    if decoded is not None:
        w, h, px = decoded
        flat = px.reshape(-1).astype(np.float64)
        head = [float(b) / 255.0 for b in flat[: FEATURE_DIM - 5]]
        feats = [float(w), float(h), *px.reshape(-1, 3).mean(axis=0).tolist(), *head]
        return (feats + [0.0] * FEATURE_DIM)[:FEATURE_DIM]
    if mime is not None and mime.startswith("image/"):
        if _HAS_PIL:
            import io

            img = _PILImage.open(io.BytesIO(payload)).convert("RGB")
            arr = np.asarray(img, dtype=np.float64)
            feats = [float(img.width), float(img.height), *arr.reshape(-1, 3).mean(axis=0).tolist()]
            return (feats + [0.0] * FEATURE_DIM)[:FEATURE_DIM]
        raise NotImplementedError(f"image decode for {mime} requires Pillow")
    digest = hashlib.md5(payload).digest()
    return [b / 255.0 for b in digest[:FEATURE_DIM]]


def extract_features(df: DataFrame) -> DataFrame:
    """Decode payloads and emit fixed-size feature vectors via
    mapInPandas (Arrow-batched; one Python worker per task)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "payload_bytes": pdf["payload"].map(
                        lambda p: len(p) if p is not None else 0
                    ),
                    "feature": [
                        _decode_features(p, m) if p is not None else None
                        for p, m in zip(pdf["payload"], pdf["mime"])
                    ],
                }
            )

    return df.mapInPandas(batches, schema=_FEATURES_SCHEMA)


_IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
    ]
)


def _decode_rgb(payload: bytes) -> tuple[int, int, np.ndarray] | None:
    """Dispatch decode across the real codecs (PPM, PNG, then
    baseline JPEG — all pure stdlib+numpy) to a uniform
    (w, h, rgb-pixels) view; gray/alpha
    PNGs normalize to RGB (gray broadcast across channels, alpha
    dropped) so the stats schema is format-independent. When Pillow
    is importable, any format it recognizes (WEBP, progressive or
    deep-sampled JPEG — the cases the native baseline decoder raises
    on — ...) decodes through it as the general fallback — gated,
    never silently degraded: without Pillow those payloads raise the
    native decoder's NotImplementedError (real-but-exotic JPEG) or
    return None (unrecognized format), as documented."""
    ppm = decode_ppm(payload)
    if ppm is not None:
        w, h, _, px = ppm
        return w, h, px
    png = decode_png(payload)
    if png is not None:
        w, h, c, px = png
        rgb = px[:, :, :3] if c >= 3 else np.repeat(px[:, :, :1], 3, axis=2)
        return w, h, rgb
    try:
        jpg = decode_jpeg(payload)
    except NotImplementedError:
        # a REAL JPEG outside the native decoder's baseline subset
        # (progressive, >2x2 sampling): fall through to Pillow when it
        # exists — the pre-r9 behavior — and stay loud when it doesn't
        if _HAS_PIL:
            jpg = None
        else:
            raise
    if jpg is not None:
        w, h, c, px = jpg
        rgb = px if c == 3 else np.repeat(px[:, :, :1], 3, axis=2)
        return w, h, rgb
    if _HAS_PIL:
        import io

        try:
            img = _PILImage.open(io.BytesIO(payload)).convert("RGB")
        except Exception:
            return None
        return img.width, img.height, np.asarray(img, dtype=np.uint8)
    return None


def image_stats(df: DataFrame) -> DataFrame:
    """X5 typed-stats path — REAL decode to typed columns: width,
    height, and per-channel pixel means for every decodable image
    payload (PPM, PNG, or baseline JPEG; nulls for non-images). Channel sums of uint8
    pixels are exact in float64 regardless of summation order, so the
    output is bit-identical across engines — the property the
    ``multimodal_image_stats`` oracle check relies on."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "media_id": pdf["media_id"],
                "width": [],
                "height": [],
                "mean_r": [],
                "mean_g": [],
                "mean_b": [],
            }
            for p in pdf["payload"]:
                dec = _decode_rgb(p) if p is not None else None
                if dec is None:
                    for k in ("width", "height", "mean_r", "mean_g", "mean_b"):
                        out[k].append(None)
                else:
                    w, h, px = dec
                    means = px.reshape(-1, 3).astype(np.float64).mean(axis=0)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["mean_r"].append(float(means[0]))
                    out["mean_g"].append(float(means[1]))
                    out["mean_b"].append(float(means[2]))
            o = pd.DataFrame(out)
            o["width"] = o["width"].astype("Int32")
            o["height"] = o["height"].astype("Int32")
            yield o

    return df.mapInPandas(batches, schema=_IMAGE_STATS_SCHEMA)


def _rewrite_media(
    df: DataFrame,
    modality: str,
    cols: tuple[str, ...],
    mime: str,
    rewrite,
    on_exotic: str = "raise",
) -> DataFrame:
    """The payload rewrite behind the resize/resample transforms: every
    ``modality`` row's payload goes through ``rewrite(payload)``, which
    returns the new values of ``cols`` (``"payload"`` first, then the
    metadata it fixes) or None when the payload does not decode. A
    decoded row gets those values and ``mime``; an undecodable one
    (null payload included) gets null in every column of ``cols`` —
    the decode-gate convention: a downstream gate routes it, the batch
    never crashes. Other rows pass through untouched.

    ``on_exotic`` governs real-but-exotic formats (a decoder's
    NotImplementedError, e.g. progressive JPEG without Pillow): the
    default ``'raise'`` keeps the error loud — right for batch jobs,
    where silently dropping a decodable-in-principle corpus slice is
    worse than crashing; ``'null'`` treats them as undecodable — the
    streaming-ingest setting, where one exotic payload must route to
    the DLQ, not abort the micro-batch (see run_media_pipeline)."""
    if on_exotic not in ("raise", "null"):
        raise ValueError(f"on_exotic must be 'raise' or 'null': {on_exotic!r}")

    def one(payload):
        if payload is None:
            return None
        try:
            return rewrite(bytes(payload))
        except NotImplementedError:
            if on_exotic == "null":
                return None
            raise

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            rows = pdf.index[pdf["modality"] == modality]
            new = [one(p) for p in pdf.loc[rows, "payload"]]
            for k, col in enumerate(cols):
                pdf[col] = pdf[col].astype(object)
                pdf.loc[rows, col] = pd.Series(
                    [None if v is None else v[k] for v in new], index=rows, dtype=object
                )
            pdf.loc[[r for r, v in zip(rows, new) if v is not None], "mime"] = mime
            pdf["width"] = pdf["width"].astype("Int32")
            pdf["height"] = pdf["height"].astype("Int32")
            pdf["duration_ms"] = pdf["duration_ms"].astype("Int64")
            yield pdf

    return df.mapInPandas(batches, schema=MEDIA_SCHEMA)


def resize_media(
    df: DataFrame, width: int, height: int, on_exotic: str = "raise"
) -> DataFrame:
    """Resize images to (width, height) via mapInPandas — REAL since
    r10 (this was the last stubbed decode step): each image payload
    decodes through the native codec dispatch (_decode_rgb —
    PPM/PNG/baseline JPEG, Pillow-gated rest), resizes with the
    deterministic resize_rgb kernel (integer-sum area average /
    center-nearest), and re-encodes as lossless P6 PPM with the
    geometry metadata and mime updated. Non-image rows pass through
    untouched; an UNDECODABLE image payload emits payload=None with
    null geometry. ``on_exotic`` is ``_rewrite_media``'s: ``'raise'``
    (batch default) or ``'null'`` (streaming ingest, see
    run_media_pipeline)."""

    def rewrite(payload: bytes):
        dec = _decode_rgb(payload)
        if dec is None:
            return None
        return encode_ppm(resize_rgb(dec[2], width, height)), width, height

    return _rewrite_media(
        df, "image", ("payload", "width", "height"), "image/x-portable-pixmap",
        rewrite, on_exotic,
    )


def resize_video(df: DataFrame, width: int, height: int) -> DataFrame:
    """X5 — REAL video resize (the spatial-normalization step of a
    video-training pipeline; the video twin of resize_media): decode
    through the codec dispatch (Y4M / MJPEG-AVI), resize every luma
    frame with the same deterministic resize_rgb kernel (integer-sum
    area average / center-nearest, gray path), re-encode as lossless
    YUV4MPEG2 at the original frame rate with geometry metadata and
    mime updated. Non-video rows pass through untouched; undecodable
    video payloads emit payload=None with null geometry (decode-gate
    convention)."""
    if width < 1 or height < 1:
        raise ValueError(f"target geometry must be positive: {width}x{height}")

    def rewrite(payload: bytes):
        dec = _decode_video(payload)
        if dec is None or not dec[4]:
            return None
        small = np.stack([resize_rgb(f, width, height) for f in dec[4]])
        return encode_y4m(small, fps_num=dec[2], fps_den=dec[3]), width, height

    return _rewrite_media(
        df, "video", ("payload", "width", "height"), "video/x-yuv4mpeg", rewrite
    )


def resample_video(df: DataFrame, factor: int) -> DataFrame:
    """X5 — REAL temporal video resample (fps normalization, the
    time-axis member of the r10 resize/resample family; the spatial
    member is resize_video, the audio member resample_audio): decode
    through the codec dispatch, keep every ``factor``-th frame
    starting at 0 (the standard hop), re-encode as lossless Y4M at
    fps_num/(fps_den*factor) so playback duration is preserved.
    Geometry metadata is unchanged; non-video rows pass through;
    undecodable video payloads emit payload=None (decode-gate
    convention)."""
    if factor < 1:
        raise ValueError(f"decimation factor must be >= 1: {factor}")

    def rewrite(payload: bytes):
        dec = _decode_video(payload)
        kept = dec[4][::factor] if dec is not None else []
        if not kept:
            return None
        return (encode_y4m(np.stack(kept), fps_num=dec[2], fps_den=dec[3] * factor),)

    return _rewrite_media(df, "video", ("payload",), "video/x-yuv4mpeg", rewrite)


WAV_MAGIC = b"RIFF"


def mulaw_expand(codes: np.ndarray) -> np.ndarray:
    """G.711 mu-law expansion, pure integer arithmetic (the ITU
    decode: complement, mantissa-shift by the 3-bit exponent, bias
    removal, sign): int16 linear samples from 8-bit companded codes.
    Deterministic integer math end to end, which is what lets the
    mu-law catalog oracle replay the expansion in SQL. Known anchors:
    0xFF -> 0, 0x7F -> 0, 0x00 -> -32124."""
    u = (~codes.astype(np.int64)) & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
    return np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)


def alaw_expand(codes: np.ndarray) -> np.ndarray:
    """G.711 A-law expansion (the classic CCITT g711.c arithmetic:
    XOR 0x55, segment shift, 0x108 bias above segment 0, sign bit 1 =
    positive): int16 linear samples from 8-bit companded codes. Pure
    integer math, SQL-replayed by the A-law catalog oracle (verified
    equal for all 256 codes). Anchors: 0x55 -> -8, 0xD5 -> +8,
    0xAA -> +32256."""
    a = codes.astype(np.int64) ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    t = np.where(
        seg == 0,
        t + 8,
        np.where(seg == 1, t + 0x108, (t + 0x108) << np.maximum(seg - 1, 0)),
    )
    return np.where(a & 0x80, t, -t).astype(np.int16)


def decode_wav(payload: bytes) -> tuple[int, int, int, int, np.ndarray] | None:
    """REAL audio decode for WAV: walk the RIFF chunk list, parse the
    ``fmt `` chunk (codec tag, channels, sample rate, bit depth) and
    decode the ``data`` chunk — linear PCM (uint8 for 8-bit, int16
    for 16-bit) or G.711 companded audio (tag 6 A-law / tag 7 mu-law:
    8-bit code bytes expanded to int16 through alaw_expand /
    mulaw_expand — COMPRESSED audio decoded natively). Returns (sample_rate, n_channels, bits, n_frames,
    samples), None when the payload is not RIFF/WAVE or its chunk
    data is malformed, and a loud NotImplementedError for codec tags
    or PCM widths this decoder does not implement (ADPCM, float,
    24/32-bit — the exotic-PNG policy: unsupported-but-valid files
    fail loud, the streaming gate routes them to the DLQ)."""
    if payload is None or not payload.startswith(WAV_MAGIC) or payload[8:12] != b"WAVE":
        return None
    buf = bytes(payload)
    pos, n = 12, len(buf)
    rate = channels = bits = fmt_tag = None
    samples = None
    while pos + 8 <= n:
        cid = buf[pos : pos + 4]
        size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                return None  # truncated fmt chunk: malformed, not exotic
            fmt_tag = int.from_bytes(body[0:2], "little")
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"data":
            samples = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        return None
    if fmt_tag in (6, 7):  # G.711 A-law / mu-law
        if bits != 8:
            raise NotImplementedError(f"G.711 WAV with bits={bits}")
        expand = alaw_expand if fmt_tag == 6 else mulaw_expand
        arr = expand(np.frombuffer(samples, dtype=np.uint8))
        n_frames = len(arr) // max(channels, 1)
        return rate, channels, bits, n_frames, arr
    if fmt_tag not in (None, 1) or bits not in (8, 16):
        raise NotImplementedError(f"WAV codec tag={fmt_tag} bits={bits}")
    dtype = np.uint8 if bits == 8 else np.int16
    # malformed chunk data (a 16-bit data chunk with an odd byte
    # length — truncated payload, lying header) means "not decodable",
    # same as a non-RIFF payload — a raised ValueError here would
    # crash every batch operator whose contract says undecodable
    # payloads drop out
    if len(samples) % np.dtype(dtype).itemsize:
        return None
    arr = np.frombuffer(samples, dtype=dtype)
    n_frames = len(arr) // max(channels, 1)
    return rate, channels, bits, n_frames, arr


def encode_wav_pcm(
    samples: np.ndarray, sample_rate: int, channels: int = 1
) -> bytes:
    """Encode uint8 (8-bit) or int16 (16-bit) PCM samples — flat
    interleaved or (frames, channels) — as a RIFF/WAVE payload: the
    inverse of decode_wav's PCM path and the lossless re-encode
    target of resample_audio."""
    arr = np.ascontiguousarray(samples)
    if arr.dtype == np.uint8:
        bits = 8
    elif arr.dtype == np.int16:
        bits = 16
    else:
        raise ValueError(f"PCM dtype must be uint8 or int16: {arr.dtype}")
    # Geometry must agree with `channels` or the emitted header lies
    # (wrong block-align / frame count) — fail loudly instead.
    if arr.ndim == 2 and arr.shape[1] != channels:
        raise ValueError(
            f"(frames, channels) input has {arr.shape[1]} channels, "
            f"channels={channels}"
        )
    if arr.ndim == 1 and channels > 1 and arr.size % channels:
        raise ValueError(
            f"flat length {arr.size} is not a whole number of "
            f"{channels}-channel frames"
        )
    return _wav_bytes(arr.tobytes(), sample_rate, channels, bits)


def _wav_bytes(
    data: bytes, sample_rate: int, channels: int = 1, bits: int = 8, fmt_tag: int = 1
) -> bytes:
    """RIFF/WAVE container around raw ``data`` bytes: a 16-byte
    ``fmt `` chunk (``fmt_tag`` 1 = PCM, 6 = A-law, 7 = mu-law) and the
    ``data`` chunk — the one header writer of encode_wav_pcm and the
    WAV fixture builders."""
    block = channels * bits // 8
    fmt = (
        b"fmt \x10\x00\x00\x00"
        + fmt_tag.to_bytes(2, "little")
        + channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * block).to_bytes(4, "little")
        + block.to_bytes(2, "little")
        + bits.to_bytes(2, "little")
    )
    body = b"WAVE" + fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def resample_audio(df: DataFrame, factor: int, on_exotic: str = "raise") -> DataFrame:
    """X5 — REAL audio resample by integer decimation (the
    sample-rate-normalization step of an audio-training pipeline;
    the audio twin of resize_media): decode the WAV (PCM, or G.711
    through its expansion — companded inputs come back as linear
    16-bit PCM), average each run of ``factor`` frames per channel
    with integer sums and floor(x + 0.5) rounding (exact and
    order-free, so a SQL oracle replays the output bytes), and
    re-encode as PCM at rate // factor with geometry metadata
    updated. Non-audio rows pass through untouched; undecodable
    audio payloads emit payload=None with null duration (the
    decode-gate convention); exotic codecs keep decode_wav's loud
    NotImplementedError by default — ``on_exotic='null'`` maps them
    to payload=None instead, the streaming-ingest setting (see
    resize_media / run_media_pipeline). A trailing partial block
    (n_frames % factor) is dropped, as every hop-based resampler
    does."""
    if factor < 1:
        raise ValueError(f"decimation factor must be >= 1: {factor}")

    def rewrite(payload: bytes):
        wav = decode_wav(payload)
        if wav is None:
            return None
        rate, ch, _bits, n_frames, arr = wav
        ch = max(ch, 1)
        usable = (n_frames // factor) * factor
        if usable == 0 or rate // factor == 0:
            return None
        frames = arr[: usable * ch].reshape(usable, ch)
        sums = frames.astype(np.int64).reshape(usable // factor, factor, ch).sum(axis=1)
        out = np.floor(sums.astype(np.float64) / factor + 0.5).astype(arr.dtype)
        new_rate = rate // factor
        dur = (usable // factor) * 1000 // new_rate
        return encode_wav_pcm(out, new_rate, ch), dur

    return _rewrite_media(
        df, "audio", ("payload", "duration_ms"), "audio/wav", rewrite, on_exotic
    )


_AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("mean_amp", T.DoubleType(), True),
    ]
)


def audio_stats(df: DataFrame) -> DataFrame:
    """X5 typed-stats path for audio — REAL WAV decode to typed
    columns: rate/channels/frame-count/duration plus mean amplitude.
    Integer sample sums are exact in float64, so the means are
    bit-identical across engines (multimodal_audio_stats oracle)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "media_id": pdf["media_id"],
                "sample_rate": [], "n_channels": [], "n_frames": [],
                "duration_ms": [], "mean_amp": [],
            }
            for p in pdf["payload"]:
                wav = decode_wav(p) if p is not None else None
                if wav is None:
                    for k in ("sample_rate", "n_channels", "n_frames", "duration_ms", "mean_amp"):
                        out[k].append(None)
                else:
                    rate, ch, _bits, n_frames, arr = wav
                    out["sample_rate"].append(rate)
                    out["n_channels"].append(ch)
                    out["n_frames"].append(n_frames)
                    out["duration_ms"].append(n_frames * 1000 // rate)
                    out["mean_amp"].append(float(arr.astype(np.float64).mean()))
            o = pd.DataFrame(out)
            o["sample_rate"] = o["sample_rate"].astype("Int32")
            o["n_channels"] = o["n_channels"].astype("Int32")
            o["n_frames"] = o["n_frames"].astype("Int64")
            o["duration_ms"] = o["duration_ms"].astype("Int64")
            yield o

    return df.mapInPandas(batches, schema=_AUDIO_STATS_SCHEMA)


def media_with_wav(
    docs: DataFrame, n_samples: int = 64, sample_rate: int = 8000
) -> DataFrame:
    """Media table with REAL 8-bit mono PCM WAV payloads synthesized
    from a closed-form sample formula (sample i of document d is
    ``(d*11 + i*17) % 256``) — the audio twin of media_with_ppm: the
    oracle predicts decoded stats analytically, proving the RIFF walk
    and sample reinterpretation."""
    i = np.arange(n_samples, dtype=np.int64)
    return _media_frame(docs, "audio", "audio/wav", lambda ids: [
        encode_wav_pcm(((d * 11 + i * 17) % 256).astype(np.uint8), sample_rate)
        for d in ids
    ])


def media_with_wav_g711(
    docs: DataFrame,
    n_samples: int = 64,
    sample_rate: int = 8000,
    fmt_tag: int = 7,
) -> DataFrame:
    """Media table with REAL G.711 companded WAV payloads (fmt tag 7
    mu-law, tag 6 A-law): code byte i of document d is
    ``(d*13 + i*7) % 256``. Both expansions are pure integer
    arithmetic (mulaw_expand / alaw_expand), so the decoded
    statistics have closed forms the DuckDB oracle replays byte for
    byte — the compressed-audio twins of media_with_wav."""
    i = np.arange(n_samples, dtype=np.int64)
    return _media_frame(docs, "audio", "audio/basic", lambda ids: [
        _wav_bytes(
            ((d * 13 + i * 7) % 256).astype(np.uint8).tobytes(), sample_rate, fmt_tag=fmt_tag
        )
        for d in ids
    ])


def media_with_ppm(docs: DataFrame, width: int = 4, height: int = 4) -> DataFrame:
    """Build a media table whose payloads are REAL binary PPM images,
    deterministically synthesized from doc_id: pixel byte i of document
    d is ``(d*7 + i*13) % 256``. The closed form lets an independent
    engine (the DuckDB oracle) predict the decoded statistics without
    running the decoder — proving the decode path, not assuming it."""
    i = np.arange(width * height * 3, dtype=np.int64)
    return _media_frame(docs, "image", "image/x-portable-pixmap", lambda ids: [
        encode_ppm(((d * 7 + i * 13) % 256).astype(np.uint8).reshape(height, width, 3))
        for d in ids
    ])


def media_with_png(
    docs: DataFrame, width: int = 4, height: int = 4, filter_cycle: bool = True
) -> DataFrame:
    """Media table with REAL compressed PNG payloads: the same
    closed-form pixel formula as media_with_ppm (pixel byte i of
    document d is ``(d*7 + i*13) % 256``) run through the real PNG
    encoder — zlib-deflated IDAT, CRC chunks — with the scanline
    filter cycling over all five types by doc_id, so decoding the
    corpus exercises None/Sub/Up/Average/Paeth unfiltering. The
    analytic oracle predicts the decoded stats WITHOUT a decoder:
    identical to the PPM oracle because the pixel formula is shared —
    a match proves inflate + unfilter reconstruct the exact pixels."""
    i = np.arange(width * height * 3, dtype=np.int64)
    return _media_frame(docs, "image", "image/png", lambda ids: [
        encode_png(
            ((d * 7 + i * 13) % 256).astype(np.uint8).reshape(height, width, 3),
            filter_type=(int(d) % 5 if filter_cycle else 0),
        )
        for d in ids
    ])


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a synthetic media table from the documents fixture: the
    text payload becomes the opaque binary column. Exercises the real
    schema/plumbing without shipping binaries in testdata."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("modality"),
        F.col("text").cast("binary").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


# --- image near-duplicate detection (dHash) ---------------------------


def _pack64(flags) -> int:
    """Pack bools (bit 0 first) into a SIGNED 64-bit int (Spark
    LongType) — the bit packing of every 64-bit fingerprint here."""
    v = sum(1 << i for i, f in enumerate(flags) if f)
    return v - (1 << 64) if v >= 1 << 63 else v


def _dhash_bits(g: np.ndarray) -> int:
    """dHash bit packing over a 2-D gray array — the ONE copy of the
    block-grid comparison shared by the image (channel-mean gray) and
    video (temporal-mean luma) fingerprints: area-downsample to an
    8x9 block grid (np.array_split — deterministic, no resampling
    library), one bit per horizontal neighbor comparison, packed
    row-major into a SIGNED 64-bit int (Spark LongType)."""
    flags = []
    for r in np.array_split(g, 8, axis=0):
        cols = [(c.mean() if c.size else 0.0) for c in np.array_split(r, 9, axis=1)]
        flags += [b > a for a, b in zip(cols[:-1], cols[1:])]
    return _pack64(flags)


def dhash64(px: np.ndarray) -> int:
    """Difference hash of an RGB pixel array (Krawetz's dHash): gray
    via channel mean, then the shared 8x9 block-grid comparison
    (_dhash_bits). Perceptual: small pixel noise, brightness shifts,
    and re-encodes move few bits; different images are ~32 bits
    apart. Pure numpy — the same function is the Python reference in
    tests."""
    return _dhash_bits(px.astype(np.float64).mean(axis=2))


def video_fingerprint64(frames: list) -> int:
    """64-bit perceptual VIDEO fingerprint (r11 — the frame-level
    fingerprint the streaming media pipeline documented as its
    extension): integer temporal-mean luma frame (per-pixel
    floor(sum/n + 0.5) — exact, order-free, SQL-replayable), then the
    SAME 8x9 dHash block grid the image path uses (_dhash_bits).
    Gain- and re-encode-robust like dHash; robust to frame drops and
    fps resampling because the temporal mean moves only by the
    dropped frames' deviation from it. Different videos are ~32 bits
    apart; block means are integer-sum divisions, so both engines
    compute IDENTICAL floats — no rounding discipline needed beyond
    the integer mean. Pure numpy — the Python reference in tests."""
    s = np.zeros_like(frames[0], dtype=np.int64)
    for f in frames:
        s += f.astype(np.int64)
    mean = np.floor(s / len(frames) + 0.5)
    return _dhash_bits(mean)


def image_dhash(df: DataFrame) -> DataFrame:
    """X5/X2 — per-image perceptual hash column ``(media_id, dhash)``:
    decode (PPM/PNG stdlib, Pillow-gated rest) + dHash in one
    mapInPandas pass, fused into the scan. Non-decodable payloads
    drop out (inner dedup semantics: you can only compare what you
    can see)."""
    return _fingerprints(df, "dhash", "image")


def hash_band_rows(
    hash_df: DataFrame,
    hash_col: str,
    id_col: str = "media_id",
    bands: int = 4,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Band rows ``(id, hash, band_idx, band_val, *carry)`` for a
    64-bit fingerprint column — the shared key space for the batch
    Hamming join below and the streaming media pipeline's band sidecar
    (streaming/media.py), exactly as dedup.band_rows is for MinHash
    signatures. Map-only. ``carry`` names input columns passed through
    unchanged (r15: media_ingest_report keys its banded join on
    modality so one join serves every modality)."""
    width = 64 // bands
    mask = (1 << width) - 1
    return hash_df.select(
        id_col,
        hash_col,
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftrightunsigned(F.col(hash_col), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bd"),
    ).select(id_col, hash_col, *carry, "bd.band_idx", "bd.band_val")


def hamming_near_dup(
    hash_df: DataFrame,
    hash_col: str,
    id_col: str = "media_id",
    max_hamming: int = 3,
    bands: int = 4,
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Banded Hamming near-dup join over any 64-bit fingerprint
    column (dHash images, spectral audio prints, SimHash text): split
    the hash into ``bands`` equal bit-bands; candidates share any
    band (group-then-pair equi-join on (band_idx, band_value) — the
    SimHash/LSH shape, never n^2); verification is
    ``bit_count(xor) <= max_hamming`` JVM-side. Pigeonhole guarantee:
    every pair within ``bands - 1`` differing bits shares at least
    one band, so with the defaults recall is exact for hamming <= 3;
    wider radii keep banding as a recall/cost knob. Returns
    ``(id_a, id_b, hamming)`` distinct pairs.

    At 100 TB the shuffle is keyed on the band value (uniform for
    real media corpora); a pathological constant-content corpus
    concentrates a band bucket — the standard valves (more bands,
    AQE skew split) apply, as with the text LSH.

    ``key_cols`` extends the equi-join key (r15): pairs must then
    also agree on those columns — e.g. keying on modality lets ONE
    banded join serve a mixed-modality frame, where separate
    per-modality joins would each re-scan and re-shuffle the input
    (identical pair set by construction: ids are globally unique and
    a cross-modality pair can never share the extended key)."""
    keys = ["band_idx", "band_val", *key_cols]
    banded = hash_band_rows(hash_df, hash_col, id_col, bands, carry=key_cols)
    a = banded.select(
        F.col(id_col).alias("id_a"),
        F.col(hash_col).alias("_ha"),
        *keys,
    )
    b = banded.select(
        F.col(id_col).alias("id_b"),
        F.col(hash_col).alias("_hb"),
        *keys,
    )
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def image_near_dup(
    df: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """X5/X2 — image near-duplicate pairs: dHash fingerprints through
    the banded Hamming join (see hamming_near_dup for the plan shape
    and recall guarantee)."""
    return hamming_near_dup(
        image_dhash(df), "dhash", max_hamming=max_hamming, bands=bands
    )


_AUDIO_SEG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("window_idx", T.IntegerType(), False),
        T.StructField("energy", T.DoubleType(), False),
        T.StructField("is_active", T.BooleanType(), False),
    ]
)


def audio_energy_windows(
    df: DataFrame, window_samples: int = 16, threshold: float = 60.0
) -> DataFrame:
    """X5 — audio activity segmentation, the voice-activity-detection
    shape of an audio-training pipeline (keep WHERE the signal is,
    the audio twin of frame_diff_keyframes): decode WAV, mix to mono,
    score each ``window_samples`` window by mean absolute deviation
    from the 8-bit midpoint (128), flag windows above ``threshold``
    as active. Trailing partial windows are dropped (they would bias
    the mean). Map-only Arrow pass, one row per window — integer
    sample sums are exact in float64, so the energies are
    engine-identical."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            auds = pdf[pdf["modality"] == "audio"]
            out = {k.name: [] for k in _AUDIO_SEG_SCHEMA.fields}
            for mid, payload in zip(auds["media_id"], auds["payload"]):
                wav = decode_wav(payload) if payload is not None else None
                mono = _wav_mono(wav) if wav is not None else None
                if mono is None:
                    continue
                n_windows = len(mono) // window_samples
                for w in range(n_windows):
                    seg = mono[w * window_samples : (w + 1) * window_samples]
                    e = round(float(np.abs(seg - 128.0).mean()), 6)
                    out["media_id"].append(int(mid))
                    out["window_idx"].append(w)
                    out["energy"].append(e)
                    out["is_active"].append(bool(e > threshold))
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, schema=_AUDIO_SEG_SCHEMA)


def media_with_ppm_groups(
    docs: DataFrame,
    group_size: int = 4,
    width: int = 16,
    height: int = 16,
) -> DataFrame:
    """Near-dup-structured image fixture: documents in the same group
    (``doc_id // group_size``) share a base image (pixel byte i of
    group g is ``(g*37 + 3*i*i + 11*i) % 256`` — quadratic in i, so
    the dHash differences genuinely vary by group), and each member
    ``m = doc_id % group_size`` perturbs one distinct pixel run —
    a few dHash bits. Within-group pairs land a small Hamming
    distance apart; cross-group pairs are far. Deterministic closed
    form, so the rows-only catalog certificate is reproducible."""
    npx = width * height * 3
    i = np.arange(npx, dtype=np.int64)

    def payload(d: int) -> bytes:
        g, m = d // group_size, d % group_size
        px = (g * 37 + 3 * i * i + 11 * i) % 256
        if m:
            lo = (m * 61) % (npx - 12)
            px[lo : lo + 12] = 255 - px[lo : lo + 12]
        return encode_ppm(px.astype(np.uint8).reshape(height, width, 3))

    return _media_frame(
        docs, "image", "image/x-portable-pixmap", lambda ids: [payload(int(d)) for d in ids]
    )


def audio_fingerprint64(samples: np.ndarray, n_windows: int = 9, n_bands: int = 8) -> int:
    """Haitsma–Kalker-style 64-bit spectral fingerprint: mono samples
    split into ``n_windows`` time windows, per-window energy in
    ``n_bands`` coarse rFFT magnitude bands, one bit per
    (window, band) energy INCREASE vs the previous window —
    8 band-columns x 8 window-transitions = 64 bits, packed into a
    signed long. Robust to gain changes (comparisons, not levels)
    and small edits; pure numpy, deterministic — the same function is
    the Python reference in tests."""
    x = samples.astype(np.float64)
    if x.size < n_windows * 2:
        x = np.pad(x, (0, n_windows * 2 - x.size))
    wins = np.array_split(x, n_windows)
    energies = []
    for w in wins:
        mag = np.abs(np.fft.rfft(w - w.mean()))
        bands = [
            float((b**2).sum()) if b.size else 0.0
            for b in np.array_split(mag, n_bands)
        ]
        energies.append(bands)
    E = np.asarray(energies)  # (n_windows, n_bands)
    return _pack64(
        E[wi, bi] > E[wi - 1, bi] for wi in range(1, n_windows) for bi in range(n_bands)
    )


# Shared trig tables of the N=16 DFT twin: the 16 distinct values of
# cos/sin(2*pi*j/16), rounded to 12 decimals so the ORACLE can embed
# the identical float64 literals (repr round-trips exactly) — no
# cross-engine trig evaluation anywhere. math.cos here and DuckDB's
# cos may differ in the last ulp; a 12-decimal round of values this
# far from any rounding boundary is bit-stable either way, and using
# ONE Python-computed table on both sides removes even that risk.
import math as _math

DFT_COS_16: tuple[float, ...] = tuple(
    round(_math.cos(2 * _math.pi * j / 16), 12) for j in range(16)
)
DFT_SIN_16: tuple[float, ...] = tuple(
    round(_math.sin(2 * _math.pi * j / 16), 12) for j in range(16)
)


def audio_dft_fingerprint64(
    samples: np.ndarray, n_windows: int = 9, window: int = 16
) -> int:
    """Seeded DFT twin of audio_fingerprint64 (the spectral
    fingerprint's certification path): the first ``n_windows`` fixed
    ``window``-sample windows, per-window DFT coefficients k=1..8 as
    EXPLICIT O(N^2) sums Re_k = sum_n x[n]*cos(2*pi*(k*n mod 16)/16)
    (and Im_k likewise; k=0 is skipped, which makes mean subtraction
    unnecessary — the DC term is the only coefficient it touches),
    band energy E = round(Re^2 + Im^2, 6), one bit per (window, k)
    energy INCREASE vs the previous window — 8 transitions x 8
    coefficients = 64 bits, packed exactly like audio_fingerprint64.

    Determinism contract (why a DuckDB oracle replays this bit for
    bit): samples are integers (exact in float64), the trig tables
    are shared literals (DFT_COS_16/DFT_SIN_16), and the inner sums
    accumulate SEQUENTIALLY left to right in plain Python — the same
    association order as DuckDB's list_sum — so the energies are
    bit-identical across engines before the round(6) even applies
    (measured 0/1440 mismatches on the fixture). numpy's pairwise
    sum would NOT replay, which is why this kernel deliberately stays
    a scalar loop: 2.3k multiply-adds per clip, certification-grade
    throughput; audio_fingerprint64's rFFT stays the fast default."""
    need = n_windows * window
    x = samples.astype(np.float64)
    if x.size < need:
        x = np.pad(x, (0, need - x.size))
    vals = [float(v) for v in x[:need]]
    energies = []
    for w in range(n_windows):
        row = []
        for k in range(1, 9):
            re = 0.0
            im = 0.0
            for n in range(window):
                v = vals[w * window + n]
                re += v * DFT_COS_16[(k * n) % 16]
                im += v * DFT_SIN_16[(k * n) % 16]
            row.append(round(re * re + im * im, 6))
        energies.append(row)
    return _pack64(
        energies[wi][bi] > energies[wi - 1][bi]
        for wi in range(1, n_windows)
        for bi in range(8)
    )


def _wav_mono(wav: tuple) -> np.ndarray | None:
    """Channel-mean mono mix of a decode_wav result — the ONE copy of
    the reshape both the batch fingerprint op and the streaming gate
    use (a divergent copy here would split their fingerprints).
    None for degenerate decodes (zero channels/frames) instead of a
    reshape crash."""
    _, ch, _, n_frames, arr = wav
    if ch <= 0 or n_frames <= 0 or arr.size < n_frames * ch:
        return None
    return arr[: n_frames * ch].reshape(n_frames, ch).astype(np.float64).mean(axis=1)


def audio_hash(df: DataFrame) -> DataFrame:
    """X5/X2 — per-clip fingerprint column ``(media_id, afp)``: WAV
    decode (channel-mean mono mix) + spectral fingerprint in one
    mapInPandas pass. Non-decodable payloads drop out."""
    return _fingerprints(df, "afp", "audio")


def audio_near_dup(
    df: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """X5/X2 — audio near-duplicate pairs: spectral fingerprints
    through the same banded Hamming join as images."""
    return hamming_near_dup(
        audio_hash(df), "afp", max_hamming=max_hamming, bands=bands
    )


def audio_hash_dft(df: DataFrame) -> DataFrame:
    """Certification twin of audio_hash: the same WAV decode +
    channel-mean mono mix, fingerprinted by audio_dft_fingerprint64
    (explicit N=16 DFT sums, oracle-replayable) instead of the rFFT
    path. Same (media_id, afp) contract."""
    return _fingerprints(df, "afp", "audio", audio_dft_fingerprint64)


def audio_near_dup_dft(
    df: DataFrame,
    max_hamming: int = 12,
    bands: int = 4,
) -> DataFrame:
    """X5/X2 — audio near-duplicate pairs over the DFT-twin
    fingerprint: identical banded Hamming join (plan shape, recall
    semantics, output contract) as audio_near_dup, with every stage —
    decode, DFT, transition bits, banding, pair filter — replayable
    in DuckDB arithmetic (the multimodal_audio_near_dup_dft oracle).
    audio_near_dup's rFFT fingerprint stays the fast default."""
    return hamming_near_dup(
        audio_hash_dft(df), "afp", max_hamming=max_hamming, bands=bands
    )


def media_with_wav_groups(
    docs: DataFrame,
    group_size: int = 4,
    n_samples: int = 256,
    sample_rate: int = 8000,
) -> DataFrame:
    """Near-dup-structured audio fixture: clips in the same group
    (``doc_id // group_size``) share a base tone mixture whose
    component frequencies derive from the group id; each member adds
    a small extra tone — few fingerprint bits move within a group,
    many across groups. Deterministic closed form (8-bit mono PCM)."""
    i = np.arange(n_samples, dtype=np.float64)

    def payload(d: int) -> bytes:
        g, m = d // group_size, d % group_size
        base = (
            np.sin(2 * np.pi * (g % 7 + 2) * i / 64.0)
            + 0.5 * np.sin(2 * np.pi * (g % 11 + 13) * i / 64.0)
        )
        if m:
            base = base + 0.15 * np.sin(2 * np.pi * (m + 29) * i / 64.0)
        data = (127.5 + 100.0 * base / np.abs(base).max()).astype(np.uint8)
        return encode_wav_pcm(data, sample_rate)

    return _media_frame(docs, "audio", "audio/wav", lambda ids: [payload(int(d)) for d in ids])


def video_hash(df: DataFrame) -> DataFrame:
    """X5/X2 — per-video fingerprint column ``(media_id, vfp)``: video
    decode (Y4M / MJPEG-AVI via the codec dispatch) + temporal-mean
    dHash in one mapInPandas pass. Non-decodable or zero-frame
    payloads drop out (inner dedup semantics)."""
    return _fingerprints(df, "vfp", "video")


def video_near_dup(
    df: DataFrame,
    max_hamming: int = 8,
    bands: int = 4,
) -> DataFrame:
    """X5/X2 — video near-duplicate pairs: temporal-mean dHash
    fingerprints through the same banded Hamming join as images and
    audio (see hamming_near_dup for the plan shape). Completes the
    modality triple: pair graphs and downstream cluster resolution
    are fingerprint-agnostic."""
    return hamming_near_dup(
        video_hash(df), "vfp", max_hamming=max_hamming, bands=bands
    )


def media_with_y4m_groups(
    docs: DataFrame,
    group_size: int = 4,
    width: int = 16,
    height: int = 16,
    n_frames: int = 4,
) -> DataFrame:
    """Near-dup-structured VIDEO fixture: clips in the same group
    (``doc_id // group_size``) share base frames whose luma pixel p
    of frame f is the SQL-replayable xor-fold hash
    ``h = g*2654435761 + (f*wh + p)*2246822519 + 99991;
    v = (h ^ (h>>9) ^ (h>>17)) % 256`` (the media_with_wav_dft_groups
    mix — polynomial content collapses mod 256 across groups, the
    measured failure mode); members m > 0 invert a 12-pixel run of
    frame 1 only, so the temporal mean moves at those pixels by
    ~|255-2v|/n_frames — a few dHash bits within a group, ~32 across
    groups (measured: within <= 8, cross >= 9 over 400 docs).
    Real YUV4MPEG2 payloads (encode_y4m), deterministic closed
    form."""
    wh = width * height
    p = np.arange(wh, dtype=np.int64)

    def payload(d: int) -> bytes:
        g, m = d // group_size, d % group_size
        frames = []
        for f in range(n_frames):
            h = g * 2654435761 + (f * wh + p) * 2246822519 + 99991
            v = (h ^ (h >> 9) ^ (h >> 17)) % 256
            if m and f == 1:
                lo = (m * 61) % (wh - 12)
                v[lo : lo + 12] = 255 - v[lo : lo + 12]
            frames.append(v.reshape(height, width).astype(np.uint8))
        return encode_y4m(np.stack(frames))

    return _media_frame(
        docs, "video", "video/x-yuv4mpeg", lambda ids: [payload(int(d)) for d in ids],
        width=width, height=height,
    )


def media_with_wav_dft_groups(
    docs: DataFrame,
    group_size: int = 4,
    n_samples: int = 160,
    sample_rate: int = 8000,
) -> DataFrame:
    """Near-dup-structured audio fixture for the DFT twin, built from
    INTEGER arithmetic only so a SQL oracle replays every sample
    byte: sample j of group g is an xor-fold hash
    ``h = g*2654435761 + j*2246822519 + 12345;
    v = (h ^ (h>>9) ^ (h>>17)) % 256`` — spectrally rich content
    (deliberately NOT a polynomial in j: quadratic-phase sequences
    have near-flat DFT magnitudes — Gauss sums — which makes the
    energy-transition bits degenerate; and NOT merely offset per
    group: any polynomial in g collapses mod 256). Members m > 0 add
    ``m*(7 + 3*j)`` inside window 4 only (samples 64..79), so
    within-group fingerprints differ in at most the 16 bits of
    transitions 3->4 and 4->5 — bands 0 and 3 always shared, the
    banded join finds every within-group pair — while cross-group
    prints are ~32 bits apart. 8-bit mono PCM, closed form, exact."""
    j = np.arange(n_samples, dtype=np.int64)

    def payload(d: int) -> bytes:
        g, m = d // group_size, d % group_size
        h = g * 2654435761 + j * 2246822519 + 12345
        v = (h ^ (h >> 9) ^ (h >> 17)) % 256
        if m:
            v = np.where((j >= 64) & (j < 80), (v + m * (7 + 3 * j)) % 256, v)
        return encode_wav_pcm(v.astype(np.uint8), sample_rate)

    return _media_frame(docs, "audio", "audio/wav", lambda ids: [payload(int(d)) for d in ids])


# --------------------------------------------------------------------
# REAL video decode: YUV4MPEG2 (Y4M) — the public uncompressed video
# interchange format (plain-text stream header, per-frame FRAME
# marker, raw planar YUV). A pure-stdlib parser covers it completely,
# which upgrades the video path from "stubbed plumbing" to the same
# contract the image/audio paths have: decode REAL bytes of a REAL
# format, with an analytic oracle predicting the decoded statistics.
# Compressed codecs (H.264 etc.) remain behind the ffmpeg gate.
# --------------------------------------------------------------------

Y4M_MAGIC = b"YUV4MPEG2"

_Y4M_CHROMA_RATIO = {
    # chroma bytes per luma byte for the common colorspaces
    "420": 0.5,
    "420jpeg": 0.5,
    "420mpeg2": 0.5,
    "420paldv": 0.5,
    "422": 1.0,
    "444": 2.0,
    "mono": 0.0,
}


def decode_y4m(
    payload: bytes,
) -> tuple[int, int, int, int, list[np.ndarray]] | None:
    """Parse a YUV4MPEG2 stream: returns (width, height, fps_num,
    fps_den, [luma planes as (h, w) uint8 arrays]). Chroma planes are
    skipped (stats and fingerprints here are luma-based, like dHash).
    None for anything that is not a well-formed Y4M payload."""
    if not payload or not payload.startswith(Y4M_MAGIC):
        return None
    try:
        nl = payload.index(b"\n")
    except ValueError:
        return None
    w = h = None
    fn, fd = 25, 1
    cs = "420"
    try:  # garbage header numbers ("W4x") mean undecodable, not a crash
        for tok in payload[len(Y4M_MAGIC) : nl].split(b" "):
            tok = tok.decode("ascii", "replace")
            if not tok:
                continue
            if tok[0] == "W":
                w = int(tok[1:])
            elif tok[0] == "H":
                h = int(tok[1:])
            elif tok[0] == "F" and ":" in tok:
                fn, fd = (int(x) for x in tok[1:].split(":"))
            elif tok[0] == "C":
                cs = tok[1:]
    except ValueError:
        return None
    if not w or not h or cs not in _Y4M_CHROMA_RATIO:
        return None
    luma_n = w * h
    chroma_n = int(luma_n * _Y4M_CHROMA_RATIO[cs])
    frames: list[np.ndarray] = []
    pos = nl + 1
    while pos < len(payload):
        if not payload.startswith(b"FRAME", pos):
            return None
        try:
            fnl = payload.index(b"\n", pos)
        except ValueError:
            return None
        start = fnl + 1
        end = start + luma_n
        if end + chroma_n > len(payload):
            return None
        frames.append(
            np.frombuffer(payload[start:end], dtype=np.uint8).reshape(h, w)
        )
        pos = end + chroma_n
    return w, h, fn, fd, frames


def encode_y4m(
    frames: np.ndarray, fps_num: int = 25, fps_den: int = 1
) -> bytes:
    """Encode (n, h, w) uint8 luma frames as a real YUV4MPEG2 420
    stream (neutral chroma). The inverse contract of decode_y4m —
    round-trip pinned in tests."""
    n, h, w = frames.shape
    head = f"YUV4MPEG2 W{w} H{h} F{fps_num}:{fps_den} Ip A1:1 C420jpeg\n".encode()
    chroma = bytes([128]) * ((w // 2) * (h // 2))
    parts = [head]
    for f in frames:
        parts.append(b"FRAME\n")
        parts.append(np.ascontiguousarray(f, dtype=np.uint8).tobytes())
        parts.append(chroma)
        parts.append(chroma)
    return b"".join(parts)


# --- MJPEG-in-AVI — compressed video without ffmpeg -----------------

AVI_MAGIC = b"RIFF"


def decode_mjpeg_avi(
    payload: bytes,
) -> tuple[int, int, int, int, list[np.ndarray]] | None:
    """REAL compressed-video decode, pure stdlib+numpy: Motion-JPEG in
    an AVI/RIFF container — walk the RIFF chunk tree ('avih' main
    header for geometry, the 'vids' 'strh' for the dwRate/dwScale
    frame rate, the 'movi' LIST for '00dc'/'00db' frame chunks), then
    decode each frame through the native baseline-JPEG decoder and
    reduce to its luma plane (channel mean; exact for grayscale
    frames). Same return contract as decode_y4m — (width, height,
    fps_num, fps_den, [luma (h, w) uint8]) — so every video operator
    (stats, keyframes, the streaming gate) works on compressed video
    unchanged. None for anything that is not a well-formed MJPEG AVI
    (the decode-gate convention: undecodable routes to the DLQ, it
    does not crash the batch)."""
    if not payload or len(payload) < 12:
        return None
    buf = bytes(payload)
    if buf[:4] != AVI_MAGIC or buf[8:12] != b"AVI ":
        return None
    w = h = None
    fn, fd = 25, 1
    frames: list[np.ndarray] = []

    def u32(at: int) -> int:
        return int.from_bytes(buf[at : at + 4], "little")

    def walk(lo: int, hi: int, in_movi: bool) -> bool:
        nonlocal w, h, fn, fd
        pos = lo
        while pos + 8 <= hi:
            cid = buf[pos : pos + 4]
            size = u32(pos + 4)
            body_lo = pos + 8
            if body_lo + size > hi:
                return False  # truncated chunk: undecodable
            if cid == b"LIST":
                ltype = buf[body_lo : body_lo + 4]
                if not walk(
                    body_lo + 4, body_lo + size, ltype == b"movi"
                ):
                    return False
            elif cid == b"avih" and size >= 40:
                w = u32(body_lo + 32)
                h = u32(body_lo + 36)
            elif cid == b"strh" and size >= 32:
                if buf[body_lo : body_lo + 4] == b"vids":
                    scale, rate = u32(body_lo + 20), u32(body_lo + 24)
                    if scale and rate:
                        fn, fd = rate, scale
            elif in_movi and cid[2:4] in (b"dc", b"db"):
                jpg = decode_jpeg(buf[body_lo : body_lo + size])
                if jpg is None:
                    return False  # a frame its codec can't read
                fw, fh, c, px = jpg
                if c == 1:
                    luma = px[:, :, 0]
                else:
                    luma = (
                        np.round(px.astype(np.float64).mean(axis=2))
                        .clip(0, 255)
                        .astype(np.uint8)
                    )
                frames.append(luma)
            pos = body_lo + size + (size & 1)  # chunks pad to even
        return True

    if not walk(12, min(len(buf), 8 + u32(4)), False):
        return None
    if w is None or not frames:
        return None
    return int(w), int(h), fn, fd, frames


def encode_mjpeg_avi(
    frames: list[np.ndarray], fps_num: int = 25, fps_den: int = 1
) -> bytes:
    """Minimal real MJPEG-AVI encoder (fixture twin of
    decode_mjpeg_avi): RIFF('AVI ') with an 'hdrl' LIST (56-byte
    'avih', a 'vids'/'MJPG' 'strh' + BITMAPINFOHEADER 'strf'), a
    'movi' LIST of '00dc' JPEG chunks (each frame through the native
    encoder, padded to even), and an 'idx1' index. Plays in any
    standard player; round-trips through decode_mjpeg_avi. Accepts a
    list of (h, w) frames or an (n, h, w) stack — ``not frames`` on
    an ndarray raises ambiguous-truth, so test via len (r11: the
    stack path was only exercised by an ffmpeg-gated test that
    auto-skips, which hid this)."""
    if len(frames) == 0:
        raise ValueError("encode_mjpeg_avi needs at least one frame")
    h, w = frames[0].shape[:2]

    def u32(v: int) -> bytes:
        return int(v).to_bytes(4, "little")

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + u32(len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    jpgs = [encode_jpeg(f) for f in frames]
    usec = int(round(1_000_000 * fps_den / fps_num))
    maxb = max(len(j) for j in jpgs)
    avih = b"".join(
        [
            u32(usec), u32(maxb * fps_num // max(fps_den, 1)), u32(0),
            u32(0x10),  # AVIF_HASINDEX
            u32(len(jpgs)), u32(0), u32(1), u32(maxb),
            u32(w), u32(h), u32(0), u32(0), u32(0), u32(0),
        ]
    )
    strh = b"".join(
        [
            b"vids", b"MJPG", u32(0), u32(0), u32(0),
            u32(fps_den), u32(fps_num), u32(0), u32(len(jpgs)),
            u32(maxb), u32(0xFFFFFFFF), u32(0),
            (0).to_bytes(2, "little") * 4,  # rcFrame
        ]
    )
    strf = b"".join(
        [
            u32(40), u32(w), u32(h),
            (1).to_bytes(2, "little"), (24).to_bytes(2, "little"),
            b"MJPG", u32(w * h * 3), u32(0), u32(0), u32(0), u32(0),
        ]
    )
    movi_body = b"movi"
    idx = b""
    for j in jpgs:
        idx += b"00dc" + u32(0x10) + u32(len(movi_body) - 4 + 8) + u32(len(j))
        movi_body += chunk(b"00dc", j)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    body = b"AVI " + hdrl + chunk(b"LIST", movi_body) + chunk(b"idx1", idx)
    return b"RIFF" + u32(len(body)) + body


def media_with_mjpeg(
    docs: DataFrame, width: int = 16, height: int = 16, fps_num: int = 25
) -> DataFrame:
    """Media table with REAL COMPRESSED video payloads (MJPEG-AVI),
    deterministically synthesized: document d gets ``1 + d % 4``
    frames; frame f is CONSTANT even gray ``2*((d*17 + f*29) % 128)``
    — constant blocks survive JPEG quantization exactly under the
    flat-16 table (see media_with_jpeg), so every decoded video
    statistic has a closed form the DuckDB oracle predicts without a
    decoder. The compressed twin of media_with_y4m."""

    def payload(d: int) -> bytes:
        frames = [
            np.full((height, width), 2 * ((d * 17 + f * 29) % 128), dtype=np.uint8)
            for f in range(1 + d % 4)
        ]
        return encode_mjpeg_avi(frames, fps_num=fps_num)

    return _media_frame(
        docs, "video", "video/x-msvideo", lambda ids: [payload(int(d)) for d in ids]
    )


def media_with_wav_mulaw(docs, n_samples: int = 64, sample_rate: int = 8000):
    """Back-compat alias: the mu-law (tag 7) G.711 fixture."""
    return media_with_wav_g711(docs, n_samples, sample_rate, fmt_tag=7)


def _decode_video(
    payload: bytes,
) -> tuple[int, int, int, int, list[np.ndarray]] | None:
    """Video codec dispatch (the _decode_rgb of the video family):
    Y4M (uncompressed), then MJPEG-AVI (compressed). One contract for
    stats, keyframes, and the streaming gate."""
    dec = decode_y4m(payload)
    if dec is not None:
        return dec
    return decode_mjpeg_avi(payload)


def _ffmpeg_bin() -> str | None:
    import shutil

    return shutil.which("ffmpeg")


def decode_video_ffmpeg(
    payload: bytes,
    runner=None,
) -> tuple[int, int, int, int, list[np.ndarray]] | None:
    """Inter-frame-codec video decode through the ffmpeg gate: pipe
    the payload to ffmpeg, transcode ANY container/codec it knows
    (H.264/HEVC/VP9/AV1 — the temporal-compression formats the native
    decoders deliberately do not reimplement) to a YUV4MPEG2 stream
    on stdout, and reuse decode_y4m — so the return contract
    ``(width, height, fps_num, fps_den, [luma (h, w) uint8])`` and
    every downstream operator (video_stats, frame_diff_keyframes,
    frame_luma_stats, the streaming gate) are IDENTICAL to the native
    path. ``runner`` is the transcode seam (container bytes in → Y4M
    bytes out, empty = undecodable), injectable for tests; the
    default shells to the ffmpeg binary and raises
    NotImplementedError LOUDLY when it is absent (the Pillow-gate
    convention: never silently degrade). ffmpeg-rejects-it → None —
    the decode-gate DLQ convention, same as the native decoders."""
    if runner is None:
        bin_ = _ffmpeg_bin()
        if bin_ is None:
            raise NotImplementedError(
                "inter-frame video decode (H.264/HEVC/VP9/AV1/...) requires "
                "the ffmpeg binary on PATH; the native decoders cover Y4M "
                "and MJPEG-AVI only"
            )

        def runner(data: bytes) -> bytes:
            import subprocess

            proc = subprocess.run(
                [
                    bin_,
                    "-v", "error",
                    "-i", "pipe:0",
                    "-f", "yuv4mpegpipe",
                    "-pix_fmt", "yuv420p",
                    "pipe:1",
                ],
                input=data,
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
            )
            return proc.stdout if proc.returncode == 0 else b""

    if not payload:
        return None
    out = runner(bytes(payload))
    if not out:
        return None
    return decode_y4m(out)


def _video_decoder(decode):
    """Resolve the pluggable video-decode seam shared by video_stats /
    frame_diff_keyframes / frame_luma_stats: None → the native
    dispatch, 'ffmpeg' → the gated inter-frame path, a callable →
    used as-is (payload → decode tuple)."""
    if decode is None:
        return _decode_video
    if decode == "ffmpeg":
        return decode_video_ffmpeg
    if callable(decode):
        return decode
    raise ValueError(f"decode must be None, 'ffmpeg', or a callable: {decode!r}")


_VIDEO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("fps_num", T.IntegerType(), True),
        T.StructField("fps_den", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
    ]
)


def video_stats(df: DataFrame, decode=None) -> DataFrame:
    """X5 — per-video statistics from REAL video decode (Y4M, or
    compressed MJPEG-AVI through the native JPEG codec — see
    _decode_video; ``decode='ffmpeg'`` routes through the gated
    inter-frame path for H.264-class codecs): container
    geometry, frame rate, frame count, and mean luma over all frames.
    Arrow-batched mapInPandas, one decode per payload; accumulation
    is SEQUENTIAL python-float summation so the oracle's AVG replays
    the same association order (the same determinism contract the
    image/audio stats keep). Non-Y4M or undecodable videos emit null
    stats instead of being dropped — the decode-gate convention."""
    decoder = _video_decoder(decode)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            vids = pdf[pdf["modality"] == "video"]
            out = {k.name: [] for k in _VIDEO_STATS_SCHEMA.fields}
            for mid, payload in zip(vids["media_id"], vids["payload"]):
                dec = decoder(payload) if payload is not None else None
                out["media_id"].append(int(mid))
                if dec is None:
                    for k in ("width", "height", "fps_num", "fps_den", "n_frames"):
                        out[k].append(None)
                    out["mean_luma"].append(None)
                    continue
                w, h, fn, fd, frames = dec
                means = [float(f.astype(np.float64).sum()) / (w * h) for f in frames]
                acc = 0.0
                for m in means:
                    acc += m
                out["width"].append(w)
                out["height"].append(h)
                out["fps_num"].append(fn)
                out["fps_den"].append(fd)
                out["n_frames"].append(len(frames))
                out["mean_luma"].append(
                    round(acc / len(frames), 6) if frames else None
                )
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, schema=_VIDEO_STATS_SCHEMA)


_FRAME_LUMA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_ts_ms", T.LongType(), False),
        T.StructField("luma_mean", T.DoubleType(), True),
    ]
)


def frame_luma_stats(
    df: DataFrame, every_ms: int = 1000, max_frames: int = 8, decode=None
) -> DataFrame:
    """X5 — REAL frame sampling: decode the video (Y4M or MJPEG-AVI
    natively; ``decode='ffmpeg'`` routes through the gated inter-frame
    path, same seam as video_stats / frame_diff_keyframes), pick the
    frame under each ``every_ms`` grid point (frame_idx =
    ts*fps//1000, integer arithmetic — engine-replayable), cap at
    ``max_frames``, emit per-frame luma means: 1-to-N fan-out with
    decoded content."""
    decoder = _video_decoder(decode)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            vids = pdf[pdf["modality"] == "video"]
            out = {k.name: [] for k in _FRAME_LUMA_SCHEMA.fields}
            for mid, payload in zip(vids["media_id"], vids["payload"]):
                dec = decoder(payload) if payload is not None else None
                if dec is None:
                    continue
                w, h, fn, fd, frames = dec
                for k in range(max_frames):
                    ts = k * every_ms
                    idx = ts * fn // (1000 * fd)
                    if idx >= len(frames):
                        break
                    f = frames[idx]
                    out["media_id"].append(int(mid))
                    out["frame_idx"].append(int(idx))
                    out["frame_ts_ms"].append(int(ts))
                    out["luma_mean"].append(
                        round(float(f.astype(np.float64).sum()) / (w * h), 6)
                    )
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, schema=_FRAME_LUMA_SCHEMA)


_KEYFRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("luma_diff", T.DoubleType(), False),
        T.StructField("is_key", T.BooleanType(), False),
    ]
)


def frame_diff_keyframes(
    df: DataFrame, threshold: float = 15.0, decode=None
) -> DataFrame:
    """X5 — shot-boundary / keyframe detection, the frame-selection
    stage of a video-training-data pipeline (sample WHERE the content
    changes, not on a blind time grid): decode the video (Y4M or
    compressed MJPEG-AVI natively; ``decode='ffmpeg'`` is the gated
    inter-frame twin for temporally-compressed codecs — H.264/HEVC/
    VP9 — via decode_video_ffmpeg), score every
    consecutive-frame pair by mean absolute luma difference, flag
    frames whose change exceeds ``threshold`` as keyframes. Frame 0
    has no predecessor and is emitted by the time-grid sampler
    (frame_luma_stats); this operator owns the change-driven rest.

    Same Arrow mapInPandas shape as the other native decoders: one
    decode per payload, per-pair numpy subtraction, rows out ~
    total frames — the comparison is per-video-local so the operator
    is map-only, no shuffle."""
    decoder = _video_decoder(decode)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            vids = pdf[pdf["modality"] == "video"]
            out = {k.name: [] for k in _KEYFRAME_SCHEMA.fields}
            for mid, payload in zip(vids["media_id"], vids["payload"]):
                dec = decoder(payload) if payload is not None else None
                if dec is None:
                    continue
                w, h, _fn, _fd, frames = dec
                for i in range(1, len(frames)):
                    d = round(
                        float(
                            np.abs(
                                frames[i].astype(np.float64)
                                - frames[i - 1].astype(np.float64)
                            ).sum()
                        )
                        / (w * h),
                        6,
                    )
                    out["media_id"].append(int(mid))
                    out["frame_idx"].append(int(i))
                    out["luma_diff"].append(d)
                    out["is_key"].append(bool(d > threshold))
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, schema=_KEYFRAME_SCHEMA)


def media_with_y4m(
    docs: DataFrame, width: int = 4, height: int = 4, fps_num: int = 25
) -> DataFrame:
    """Media table with REAL Y4M video payloads, deterministically
    synthesized: document d gets ``1 + d % 4`` frames; luma pixel p of
    frame f is ``(d*31 + f*7 + p*p) % 256``. The closed form lets the
    DuckDB oracle predict every decoded statistic without a decoder —
    same proof pattern as the PPM/PNG/WAV fixtures."""
    p = np.arange(width * height, dtype=np.int64)

    def payload(d: int) -> bytes:
        frames = [
            ((d * 31 + f * 7 + p * p) % 256).astype(np.uint8).reshape(height, width)
            for f in range(1 + d % 4)
        ]
        return encode_y4m(np.stack(frames), fps_num=fps_num)

    return _media_frame(
        docs, "video", "video/x-yuv4mpeg", lambda ids: [payload(int(d)) for d in ids],
        duration_ms=lambda ids: [(1 + int(d) % 4) * 1000 // fps_num for d in ids],
    )


def _image_pixels(payload: bytes) -> np.ndarray | None:
    dec = _decode_rgb(payload)
    return None if dec is None else dec[2]


def _audio_mono(payload: bytes) -> np.ndarray | None:
    wav = decode_wav(payload)
    return None if wav is None else _wav_mono(wav)


def _video_frames(payload: bytes) -> list[np.ndarray] | None:
    dec = _decode_video(payload)
    return None if dec is None else dec[4]


# modality -> (decode, fingerprint): the ONE dispatch of the decode gate
# and the per-modality hash ops. decode maps a payload to what the
# fingerprint reads, or None when it does not decode; the fingerprint
# gives None when there is nothing to fingerprint (a zero-frame video).
_MODALITIES = {
    "image": (_image_pixels, dhash64),
    "audio": (_audio_mono, audio_fingerprint64),
    "video": (_video_frames, lambda frames: video_fingerprint64(frames) if frames else None),
}


def _fingerprints(
    df: DataFrame, col: str, modality: str, fingerprint=None
) -> DataFrame:
    """``(media_id, <col>)`` for every row whose payload decodes as
    ``modality`` (the modality column is not read) and has a
    fingerprint: the core of image_dhash / audio_hash / audio_hash_dft
    / video_hash. Other rows drop out (inner dedup semantics); decoder
    errors raise. ``fingerprint`` replaces the table's (the DFT twin)."""
    decode, default = _MODALITIES[modality]
    fingerprint = fingerprint or default

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, prints = [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                content = decode(bytes(p)) if p is not None else None
                fp = fingerprint(content) if content is not None else None
                if fp is not None:
                    ids.append(mid)
                    prints.append(fp)
            yield pd.DataFrame({"media_id": ids, col: pd.Series(prints, dtype="int64")})

    schema = T.StructType(
        [T.StructField("media_id", T.LongType()), T.StructField(col, T.LongType())]
    )
    return df.select("media_id", "payload").mapInPandas(batches, schema)


def media_gate_hash(df: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """X5 — modality-aware decode gate + perceptual hash in ONE Arrow
    pass, through the same ``_MODALITIES`` table as the hash ops:
    images decode (PPM/PNG/JPEG stdlib, Pillow-gated rest) to a dHash;
    audio decodes (PCM/G.711 WAV) to the spectral fingerprint; video
    decodes (Y4M / MJPEG-AVI) to the temporal-mean dHash
    (video_fingerprint64) — a zero-frame video passes the gate with a
    null hash; any other modality or undecodable payload fails the
    gate. Output: ``(media_id, decode_ok, dhash nullable, *carry)``.

    ``carry`` names input columns to pass through the Arrow boundary
    untouched (r14): a caller that needs gate output NEXT TO cheap
    JVM-computed columns (e.g. a payload fingerprint) can compute
    them in the projection feeding this pass instead of deriving the
    payload source a second time and joining the two row-aligned
    frames back together on media_id — the pass emits exactly one
    output row per input row, in order, so the carried values stay
    row-aligned by construction.

    This is the decode gate the streaming media pipeline routes on.
    An earlier version gated EVERY row through the image decoder, so
    valid audio/video was dead-lettered as 'undecodable' — the
    content-type-agnostic claim requires the gate to dispatch on the
    modality column."""

    def gate(modality: str, payload) -> tuple[bool, int | None]:
        if payload is None or modality not in _MODALITIES:
            return False, None
        decode, fingerprint = _MODALITIES[modality]
        # A decoder EXCEPTION is a failed gate, never a failed batch: a
        # malformed-but-magic-valid payload (odd-length PCM data,
        # zero-channel fmt chunk, garbage Y4M header numbers, truncated
        # PPM raster) must dead-letter like any undecodable row — a
        # raised error here poisons the micro-batch and the checkpoint
        # replays it forever.
        try:
            content = decode(bytes(payload))
            if content is None:
                return False, None
            return True, fingerprint(content)
        except Exception:
            return False, None

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            res = [gate(m, p) for m, p in zip(pdf["modality"], pdf["payload"])]
            out = {
                "media_id": pdf["media_id"],
                "decode_ok": [ok for ok, _ in res],
                "dhash": pd.Series([h for _, h in res], dtype="Int64"),
            }
            for c in carry:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("decode_ok", T.BooleanType()),
            T.StructField("dhash", T.LongType()),
        ]
        + [df.schema[c] for c in carry]
    )
    in_cols = ["media_id", "modality", "payload"] + [
        c for c in carry if c not in ("media_id", "modality", "payload")
    ]
    return df.select(*in_cols).mapInPandas(batches, schema)


def _splitmix64(x: "np.ndarray") -> "np.ndarray":
    """SplitMix64 finalizer (public domain, Steele/Lea/Flood 2014):
    full-avalanche 64-bit mix — every output bit depends on every
    input bit. The fixture needs real diffusion: round 6 used a
    Knuth multiplicative hash and kept only 8 of its 32 output bits,
    which left neighbor-order comparisons (and therefore dHash bits)
    correlated across groups — measured cross-group collisions at
    Hamming <=3 among only 10 groups."""
    z = x.astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def media_routing_fixture(
    docs: DataFrame, width: int = 16, height: int = 16
) -> DataFrame:
    """Routing-structured image fixture: each id-contiguous group of 4
    documents becomes (base, exact copy, near variant, corrupt):

    - ``m = doc_id % 4 == 0``: base PPM — pixel byte i of group
      ``g = doc_id // 4`` is a byte of ``splitmix64(g * npx + i)``
      (full-avalanche finalizer; cross-group dHash distances are then
      genuinely ~Binomial(64, 1/2), P(a pair lands <=3) ~ 2.4e-15,
      and tests/test_multimodal.py pins the measured pairwise
      distribution — min cross-group distance and its spread — so the
      claim is checked, not asserted);
    - ``m == 1``: byte-identical copy of the base (exact duplicate);
    - ``m == 2``: near variant — ONE 8x9 dHash grid cell (row-group 3,
      col-group 4) is clamped to whichever extreme (0 or 255) flips
      the base's cell-3-vs-cell-4 comparison (bit 27). The flip is
      guaranteed by construction (hash-byte cell means never sit at
      the extremes), and only the two comparisons touching that cell
      (bits 27, 28) can move, so the variant sits at dHash Hamming
      1-2 from its base: strictly inside the bands=4
      pigeonhole-exact radius (<=3) and strictly NONZERO, so the
      banded perceptual stage — not exact-hash equality — must
      catch it;
    - ``m == 3``: payload truncated mid-raster (undecodable).

    Every outcome of media_ingest_report is therefore id-arithmetic —
    the DuckDB oracle predicts the full routing without a decoder,
    and any decode/fingerprint/banding/precedence bug breaks the
    match (the same analytic-oracle pattern as media_with_ppm)."""
    if width < 9 or height < 8:
        raise ValueError("routing fixture needs width>=9, height>=8")
    npx = width * height * 3
    # dHash grid geometry (must mirror dhash64): 8 row-groups, 9
    # col-groups via np.array_split. The perturbed cell is (row-group
    # 3, col-group 4); its left neighbor is col-group 3.
    row_g = np.array_split(np.arange(height), 8)[3]
    col_left = np.array_split(np.arange(width), 9)[3]
    col_cell = np.array_split(np.arange(width), 9)[4]

    def _cell_idx(cols: np.ndarray) -> np.ndarray:
        # flat byte offsets of all 3 channels of the cell's pixels
        yy, xx = np.meshgrid(row_g, cols, indexing="ij")
        base = (yy.ravel() * width + xx.ravel()) * 3
        return np.concatenate([base, base + 1, base + 2])

    idx_left, idx_cell = _cell_idx(col_left), _cell_idx(col_cell)

    header = f"P6\n{width} {height}\n255\n".encode()
    i = np.arange(npx, dtype=np.uint64)

    def payloads_of(ids: np.ndarray) -> list[bytes]:
        # Whole-batch pixel generation (r15, guide §4.2): one 2D
        # splitmix64 over (rows x npx) seeds replaces the per-row
        # Python loop — identical bytes (splitmix is elementwise;
        # the m==2 cell means are exact integer sums in float64,
        # so the flip decisions are order-free).
        g_arr = (ids.astype(np.int64) // 4).astype(np.uint64)
        m_arr = ids.astype(np.int64) % 4
        seeds = (g_arr * np.uint64(npx))[:, None] + i[None, :]
        px2d = ((_splitmix64(seeds) >> np.uint64(32)) & np.uint64(0xFF)).astype(np.uint8)
        near_rows = np.flatnonzero(m_arr == 2)
        if len(near_rows):
            # flip base bit 27 (cell(3,3) vs cell(3,4)) by
            # clamping the cell to the opposing extreme
            bit = (
                px2d[near_rows][:, idx_cell].mean(axis=1)
                > px2d[near_rows][:, idx_left].mean(axis=1)
            )
            px2d[near_rows[:, None], idx_cell[None, :]] = np.where(
                bit, 0, 255
            ).astype(np.uint8)[:, None]
        # m == 3: mid-raster truncation
        return [
            header + px2d[r].tobytes()[: npx // 2 if m == 3 else npx]
            for r, m in enumerate(m_arr)
        ]

    return _media_frame(docs, "image", "image/x-portable-pixmap", payloads_of)


def media_ingest_report(
    media: DataFrame, max_hamming: int = 3, bands: int = 4
) -> DataFrame:
    """X5 — per-item routing census ``(media_id, outcome)``: the
    oracle-checkable BATCH twin of the streaming media pipeline's
    routing (streaming/media.py media_ingest_batch), with the same
    precedence: ``undecodable`` (modality-aware decode gate) >
    ``duplicate`` (exact payload fp, keep-min id) > ``near_duplicate``
    (banded perceptual Hamming per modality, keep-min id) >
    ``ingested`` — the way ingest_report/docs_corpus_ingest certify
    the text path.

    Plan shape: ONE Arrow decode pass produces the per-item metadata
    frame (id, modality, fp, decode_ok, dhash — ~40 B/row, the same
    working set the streaming sidecars persist), which is
    localCheckpoint-materialized so the payload scan and Python
    decode run exactly once; everything downstream (dedup window,
    banded Hamming self-join, routing projection) runs on the narrow
    frame. At 100 TB of media the checkpoint is ~40 GB cluster-wide
    — the honest cost of decoding each payload once. The exact-dup
    fingerprint is computed JVM-side IN the projection feeding the
    decode pass and carried through the Arrow boundary (r14,
    media_gate_hash's ``carry``): the earlier form derived the
    payload source once per join side — two payload scans and a
    media_id join for what one row-aligned pass produces."""
    from pyspark.sql import Window

    meta = (
        media_gate_hash(
            media.withColumn("fp", F.xxhash64("payload")),
            carry=("modality", "fp"),
        )
        .select("media_id", "modality", "fp", "decode_ok", "dhash")
        .localCheckpoint()
    )
    w = Window.partitionBy("fp").orderBy("media_id")
    ranked = meta.withColumn(
        "_rk",
        F.when(F.col("decode_ok"), F.row_number().over(w)).otherwise(F.lit(None)),
    )
    survivors = ranked.filter(F.col("decode_ok") & (F.col("_rk") == 1))
    # ONE banded Hamming join for every modality (r15): modality rides
    # in the equi-join key (hamming_near_dup key_cols), so the pair
    # set is identical to the former per-modality joins — a pair can
    # only match inside its modality — while the survivors frame is
    # banded, shuffled, and self-joined once instead of once per
    # modality (the audio branch previously paid a full window + join
    # chain even when no audio rows exist).
    near = (
        hamming_near_dup(
            survivors.filter(
                F.col("modality").isin("image", "audio")
                & F.col("dhash").isNotNull()
            ).select("media_id", "modality", "dhash"),
            "dhash",
            max_hamming=max_hamming,
            bands=bands,
            key_cols=("modality",),
        )
        .select(F.col("id_b").alias("media_id"))
        .distinct()
        .withColumn("_near", F.lit(True))
    )
    return (
        ranked.join(near, "media_id", "left")
        .select(
            "media_id",
            F.when(~F.col("decode_ok"), F.lit("undecodable"))
            .when(F.col("_rk") > 1, F.lit("duplicate"))
            .when(F.coalesce(F.col("_near"), F.lit(False)), F.lit("near_duplicate"))
            .otherwise(F.lit("ingested"))
            .alias("outcome"),
        )
    )
