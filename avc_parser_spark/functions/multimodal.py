"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as `binary` columns with a metadata struct; decode /
feature-extract / resize / frame-sample run as Arrow-batched pandas UDFs via
mapInPandas. Decode kernels: REAL for binary PPM/PGM (pure numpy), PNG
(stdlib zlib + numpy unfiltering), GIF (pure-Python LZW), baseline JPEG
(jpeg.py: Huffman + dequant + IDCT in numpy), MP4 container metadata
(mp4.py: lossless ISO-BMFF box parse — duration/tracks/codec/dims/frame
count; frame decode needs codecs this container doesn't ship, so features
are metadata-derived and honestly tagged 'ok_mp4_meta') and RIFF/WAVE audio
(stdlib `wave`) — plus an honest deterministic fake
(decode_status='stubbed_fake') for anything else; swap the fake for an
ffmpeg kernel where it ships.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA_DDL = (
    "doc_id bigint, media_type string, n_bytes bigint, sha1 string, "
    "feature array<float>, decode_status string"
)

_HAVE_REAL_DECODERS = False  # no PIL/cv2/ffmpeg in this container
FEATURE_DIM = 8


def _fake_decode_features(payload: bytes) -> list[float]:
    """Deterministic stand-in for compressed formats (JPEG/PNG/MP4 — no
    codecs in this container): derives FEATURE_DIM floats from the payload
    digest. Replace with PIL/ffmpeg kernels where they ship (gate:
    _HAVE_REAL_DECODERS)."""
    digest = hashlib.sha1(payload or b"").digest()
    return [b / 255.0 for b in digest[:FEATURE_DIM]]


def _parse_ppm_header(payload: bytes) -> tuple[int, int, int, int] | None:
    """Parse a P5/P6 header: returns (width, height, maxval, data_offset) or
    None. Single bounded implementation shared by decode and resize so the
    two can never drift (and neither can loop past the payload end)."""
    if payload[:2] not in (b"P6", b"P5"):
        return None
    # header: magic, width, height, maxval — whitespace/comment separated
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3 and i < len(payload):
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # comment to EOL
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(payload[i:j])
        i = j
    i += 1  # single whitespace after maxval
    try:
        width, height, maxval = (int(t) for t in tokens)
    except (ValueError, TypeError):
        return None
    # reject non-positive dims here (shared bar): a negative width from a
    # malformed header like 'P6\n-1 4\n255\n' would otherwise survive both
    # callers' size checks (need goes negative) and reshape(-1, ...) would
    # yield an empty image with NaN means under decode_status='ok_ppm'.
    if width <= 0 or height <= 0 or maxval <= 0:
        return None
    return width, height, maxval, i


def _image_features(img, width: int, height: int) -> list[float]:
    """Shared image feature vector from a 2-D grayscale float array in
    [0,1]: per-quadrant mean intensity (4) + global mean/std + normalized
    width/height. One definition for every image codec (PPM, PNG) so
    features can never drift between formats."""
    h2, w2 = max(height // 2, 1), max(width // 2, 1)
    quads = [
        float(img[:h2, :w2].mean()),
        float(img[:h2, w2:].mean() if width > 1 else img[:h2, :w2].mean()),
        float(img[h2:, :w2].mean() if height > 1 else img[:h2, :w2].mean()),
        float(
            img[h2:, w2:].mean()
            if height > 1 and width > 1
            else img[:h2, :w2].mean()
        ),
    ]
    return quads + [
        float(img.mean()),
        float(img.std()),
        min(width / 4096.0, 1.0),
        min(height / 4096.0, 1.0),
    ]


def _decode_ppm(payload: bytes) -> tuple[list[float], str] | None:
    """REAL decode for binary PPM/PGM (P6/P5) images — pure numpy, no
    external codec."""
    import numpy as np

    header = _parse_ppm_header(payload)
    if header is None:
        return None
    width, height, maxval, i = header
    channels = 3 if payload[:2] == b"P6" else 1
    need = width * height * channels
    raw = payload[i : i + need]
    if maxval > 255 or len(raw) < need or not need:
        return None
    px = np.frombuffer(raw, dtype=np.uint8).astype(np.float64) / maxval
    img = px.reshape(height, width, channels).mean(axis=2)
    return _image_features(img, width, height), "ok_ppm"


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type (8-bit depth, non-interlaced support only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _unfilter_avg(line, prev, ch: int, stride: int):
    """Average unfilter. recon[x] depends on recon[x-ch] through a floor
    division, so there is no closed-form numpy scan (unlike Sub's cumsum);
    the fast CPython shape is a single list walk — plain list indexing and
    int arithmetic beat per-element numpy indexing + a predictor call ~10×
    (measured; see BENCH.md round 5)."""
    import numpy as np

    ll, pp = line.tolist(), prev.tolist()
    out = [0] * stride
    for x in range(stride):
        left = out[x - ch] if x >= ch else 0
        out[x] = (ll[x] + ((left + pp[x]) >> 1)) & 255
    return np.array(out, dtype=np.int32)


def _unfilter_paeth(line, prev, ch: int, stride: int):
    """Paeth unfilter via one list walk with the predictor inlined (no
    per-byte function call, no numpy scalar indexing) — byte-identical to
    the reference predictor (_png_paeth), property-tested against it."""
    import numpy as np

    ll, pp = line.tolist(), prev.tolist()
    out = [0] * stride
    for x in range(stride):
        left = out[x - ch] if x >= ch else 0
        up = pp[x]
        ul = pp[x - ch] if x >= ch else 0
        p = left + up - ul
        pa = p - left
        if pa < 0:
            pa = -pa
        pb = p - up
        if pb < 0:
            pb = -pb
        pc = p - ul
        if pc < 0:
            pc = -pc
        if pa <= pb and pa <= pc:
            pred = left
        elif pb <= pc:
            pred = up
        else:
            pred = ul
        out[x] = (ll[x] + pred) & 255
    return np.array(out, dtype=np.int32)


def _png_paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _decode_png_pixels(payload: bytes):
    """REAL PNG decode — stdlib zlib inflate + numpy scanline unfiltering
    (filter types 0-4: None/Sub/Up/Average/Paeth). Supports 8-bit depth,
    color types 0/2/4/6, non-interlaced (the overwhelmingly common web
    shape); anything else returns None and routes to the stub. Returns
    (height×width×channels uint8 array, channels) or None.

    Vectorization: None/Up are whole-row numpy ops and Sub is a per-lane
    cumulative sum; Average/Paeth fall back to a per-byte walk (left-recon
    dependency) — fine for a fallback kernel; swap in PIL where it ships
    (_HAVE_REAL_DECODERS)."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        return None
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            return None
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    width, height = struct.unpack(">II", ihdr[:8])
    depth, color, _comp, _filt, interlace = ihdr[8:13]
    if (
        depth != 8
        or interlace != 0
        or color not in _PNG_CHANNELS
        or width <= 0
        or height <= 0
        or width * height > 64 << 20
    ):
        return None
    ch = _PNG_CHANNELS[color]
    stride = width * ch
    expected = height * (stride + 1)
    # Bounded inflate: the expected raw size is known from IHDR, so never
    # let untrusted IDAT allocate past it — a ~1000:1 zlib bomb would OOM
    # an executor under plain zlib.decompress. decompressobj(max_length)
    # caps the output; a 1-byte probe past the cap distinguishes a stream
    # that is exactly `expected` long from an oversized (corrupt) one.
    try:
        d = zlib.decompressobj()
        raw = d.decompress(b"".join(idat), expected)
        if len(raw) < expected:
            return None  # truncated stream
        if d.unconsumed_tail and d.decompress(d.unconsumed_tail, 1):
            return None  # stream inflates past the IHDR-implied size
    except zlib.error:
        return None
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        ftype, line = row[0], np.frombuffer(row[1:], dtype=np.uint8).astype(np.int32)
        if ftype == 0:
            recon = line
        elif ftype == 1:  # Sub: per-lane prefix sum mod 256
            lanes = line.reshape(width, ch)
            recon = np.cumsum(lanes, axis=0, dtype=np.int64).reshape(stride) % 256
        elif ftype == 2:  # Up
            recon = (line + prev) % 256
        elif ftype == 3:  # Average (sequential left-dependency: list scan)
            recon = _unfilter_avg(line, prev, ch, stride)
        elif ftype == 4:  # Paeth (sequential left-dependency: list scan)
            recon = _unfilter_paeth(line, prev, ch, stride)
        else:
            return None
        out[y] = recon.astype(np.uint8)
        prev = recon.astype(np.int32)
    return out.reshape(height, width, ch), ch


def _decode_png(payload: bytes) -> tuple[list[float], str] | None:
    """Feature extraction over the real PNG decode: grayscale = mean of the
    color channels (alpha excluded), same feature vector as PPM."""
    decoded = _decode_png_pixels(payload)
    if decoded is None:
        return None
    img, ch = decoded
    color = img[:, :, : 3 if ch >= 3 else 1]  # drop alpha channel(s)
    gray = color.astype("float64").mean(axis=2) / 255.0
    h, w = gray.shape
    return _image_features(gray, w, h), "ok_png"


def encode_png(img, row_filters: list[int] | None = None) -> bytes:
    """Minimal PNG encoder (stdlib zlib + struct): 8-bit gray/RGB/RGBA from
    a (h, w[, ch]) uint8 array. `row_filters` selects the per-row filter
    type (0-4, default all 0) — used by tests to plant payloads that
    exercise every unfilter branch, and by the resize path to re-encode."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(img, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    filters = row_filters or [0] * h
    lines = []
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        recon = arr[y].reshape(-1).astype(np.int32)
        f = filters[y % len(filters)]
        if f == 0:
            filt = recon
        elif f == 1:
            left = np.concatenate([np.zeros(ch, np.int32), recon[:-ch]])
            filt = (recon - left) % 256
        elif f == 2:
            filt = (recon - prev) % 256
        elif f == 3:
            left = np.concatenate([np.zeros(ch, np.int32), recon[:-ch]])
            filt = (recon - (left + prev) // 2) % 256
        else:  # Paeth — filtering reads only KNOWN recon values: vectorize
            left = np.concatenate([np.zeros(ch, np.int32), recon[:-ch]])
            ul = np.concatenate([np.zeros(ch, np.int32), prev[:-ch]])
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            filt = (recon - pred) % 256
        lines.append(bytes([f]) + filt.astype(np.uint8).tobytes())
        prev = recon

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    idat = zlib.compress(b"".join(lines), 9)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def _decode_gif_pixels(payload: bytes):
    """REAL GIF87a/89a decode — pure-Python LZW + numpy palette mapping,
    no external codec. First frame only; interlace supported; returns
    (height×width×3 uint8 RGB array) or None."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    if len(payload) < 13:
        return None
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload[pos : pos + 3 * n], dtype=np.uint8)
        if len(gct) < 3 * n:
            return None
        gct = gct.reshape(n, 3)
        pos += 3 * n
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                return None
            w = int.from_bytes(payload[pos + 5 : pos + 7], "little")
            h = int.from_bytes(payload[pos + 7 : pos + 9], "little")
            ipacked = payload[pos + 9]
            interlaced = bool(ipacked & 0x40)
            pos += 10
            ct = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                ct = np.frombuffer(
                    payload[pos : pos + 3 * n], dtype=np.uint8
                ).reshape(-1, 3)
                pos += 3 * n
            if ct is None or w <= 0 or h <= 0 or w * h > 64 << 20:
                return None
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while pos < len(payload) and payload[pos]:
                ln = payload[pos]
                data += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            idx = _lzw_decode(bytes(data), min_code, w * h)
            if idx is None:
                return None
            indices = np.asarray(idx, dtype=np.int32).clip(0, len(ct) - 1)
            img = ct[indices].reshape(h, w, 3)
            if interlaced:
                order = (
                    list(range(0, h, 8)) + list(range(4, h, 8))
                    + list(range(2, h, 4)) + list(range(1, h, 2))
                )
                out = np.empty_like(img)
                out[np.asarray(order)] = img
                img = out
            return img
        elif b == 0x3B:  # trailer
            return None
        else:
            return None
    return None


def _lzw_decode(data: bytes, min_code: int, max_pixels: int) -> list[int] | None:
    """GIF-variant LZW decode (variable code width, clear/end codes)."""
    if not 2 <= min_code <= 11:
        return None
    clear, end = 1 << min_code, (1 << min_code) + 1
    base = [[i] for i in range(clear)] + [None, None]
    table = list(base)
    width = min_code + 1
    out: list[int] = []
    prev: list[int] | None = None
    acc = bits = 0
    for byte in data:
        acc |= byte << bits
        bits += 8
        while bits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            bits -= width
            if code == clear:
                table = list(base)
                width = min_code + 1
                prev = None
                continue
            if code == end:
                return out
            if prev is None:
                if code >= len(table) or table[code] is None:
                    return None
                entry = table[code]
            elif code < len(table) and table[code] is not None:
                entry = table[code]
                table.append(prev + [entry[0]])
            elif code == len(table):
                entry = prev + [prev[0]]
                table.append(entry)
            else:
                return None
            out.extend(entry)
            if len(out) > max_pixels:
                return out[:max_pixels]
            prev = entry
            if len(table) >= (1 << width) and width < 12:
                width += 1
    return out


def encode_gif(img) -> bytes:
    """GIF89a encoder with REAL dictionary LZW (variable code width,
    clear-on-full) — 8-bit grayscale-palette image from a (h, w) or
    (h, w, 3) uint8 array (RGB is converted to the gray ramp via channel
    mean). Replaced the round-4 clear-code-per-symbol trick so the resize
    path re-encodes at honest compression, not ~2.4 bytes/pixel."""
    import numpy as np

    arr = np.asarray(img, dtype=np.uint8)
    if arr.ndim == 3:
        arr = arr.astype(np.uint16).mean(axis=2).astype(np.uint8)
    h, w = arr.shape
    header = b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
    header += bytes([0x80 | 0x07, 0, 0])  # GCT present, 256 entries
    palette = bytes(v for g in range(256) for v in (g, g, g))
    desc = b"\x2c" + b"\x00\x00\x00\x00" + w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00"
    min_code = 8
    clear, end = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    acc = bits = 0
    stream = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, bits
        acc |= code << bits
        bits += width
        while bits >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            bits -= 8

    # The decoder (our _lzw_decode and every conformant reader) builds its
    # table one code BEHIND the encoder, so the emit width for code k+1
    # follows (next_code - 1), the decoder's table size after code k.
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    emit(clear)
    buf = b""
    for px in arr.reshape(-1).tolist():
        cand = buf + bytes([px])
        if cand in table:
            buf = cand
            continue
        emit(table[buf])
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code - 1 >= (1 << width) and width < 12:
                width += 1
        else:  # table full: clear and restart (keeps reader in sync)
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code + 1
        buf = bytes([px])
    if buf:
        emit(table[buf])
    emit(end)
    if bits:
        stream.append(acc & 0xFF)
    blocks = bytearray()
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        blocks += bytes([len(chunk)]) + chunk
    return (
        header + palette + desc + bytes([min_code]) + bytes(blocks) + b"\x00\x3b"
    )


def _decode_gif(payload: bytes) -> tuple[list[float], str] | None:
    """Feature extraction over the real GIF decode (same feature vector)."""
    img = _decode_gif_pixels(payload)
    if img is None:
        return None
    gray = img.astype("float64").mean(axis=2) / 255.0
    h, w = gray.shape
    return _image_features(gray, w, h), "ok_gif"


def _decode_jpeg(payload: bytes) -> tuple[list[float], str] | None:
    """Feature extraction over the real baseline-JPEG decode (jpeg.py):
    same grayscale reduction + shared _image_features as PPM/PNG/GIF."""
    if payload[:2] != b"\xff\xd8":
        return None
    from avc_parser_spark.functions.jpeg import decode_jpeg_pixels

    decoded = decode_jpeg_pixels(payload)
    if decoded is None:
        return None
    img, nc = decoded
    gray = (
        img.astype("float64") / 255.0
        if nc == 1
        else img.astype("float64").mean(axis=2) / 255.0
    )
    h, w = gray.shape
    return _image_features(gray, w, h), "ok_jpeg"


def _decode_mp4(payload: bytes) -> tuple[list[float], str] | None:
    """Container-metadata decode for ISO-BMFF (MP4) video payloads via
    mp4.py: lossless box-tree parse (mvhd/tkhd/mdhd/hdlr/stsd/stsz) — no
    frame decode (no codecs in this container), but duration, track
    layout, codec and dimensions are exact, which is the triage a 100 TB
    crawl pipeline runs BEFORE any frame decode. Features: normalized
    duration, track counts, video sample count, timescale, dimensions."""
    if len(payload) < 16 or payload[4:8] != b"ftyp":
        return None
    from avc_parser_spark.functions.mp4 import parse_mp4_meta

    meta = parse_mp4_meta(payload)
    if meta is None:
        return None
    vids = [t for t in meta["tracks"] if t["kind"] == "vide"]
    auds = [t for t in meta["tracks"] if t["kind"] == "soun"]
    v = vids[0] if vids else None
    feats = [
        min(meta["duration_sec"] / 3600.0, 1.0),
        min(meta["n_tracks"] / 8.0, 1.0),
        min(len(vids) / 8.0, 1.0),
        min(len(auds) / 8.0, 1.0),
        min(sum(t["n_samples"] for t in vids) / 108000.0, 1.0),
        min(meta["timescale"] / 90000.0, 1.0),
        min(((v["width"] if v else 0) or 0) / 4096.0, 1.0),
        min(((v["height"] if v else 0) or 0) / 4096.0, 1.0),
    ]
    return feats, "ok_mp4_meta"


def _decode_wav(payload: bytes) -> tuple[list[float], str] | None:
    """REAL decode for RIFF/WAVE audio — stdlib `wave`, no external codec.
    Features: RMS energy over 6 equal time chunks + normalized duration +
    normalized sample rate."""
    import io
    import wave

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    try:
        with wave.open(io.BytesIO(payload)) as w:
            n, width, rate = w.getnframes(), w.getsampwidth(), w.getframerate()
            frames = w.readframes(n)
    except (wave.Error, EOFError):
        return None
    if width == 2:
        x = np.frombuffer(frames, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 1:
        x = (np.frombuffer(frames, dtype=np.uint8).astype(np.float64) - 128) / 128.0
    else:
        return None
    if not len(x) or not rate:
        return None
    chunks = np.array_split(x, 6)
    rms = [float(np.sqrt((c**2).mean())) if len(c) else 0.0 for c in chunks]
    feats = rms + [min(len(x) / rate / 3600.0, 1.0), min(rate / 96000.0, 1.0)]
    return feats, "ok_wav"


def decode_features(payload: bytes) -> tuple[list[float], str]:
    """Best-available decode: real PPM/PGM, PNG (stdlib zlib + numpy
    unfiltering), GIF (pure-Python LZW), baseline JPEG (jpeg.py), MP4
    container metadata (mp4.py — lossless box parse, frames honestly not
    decoded) and WAV kernels; deterministic fake for anything else."""
    if payload:
        for dec in (_decode_ppm, _decode_png, _decode_gif, _decode_jpeg,
                    _decode_mp4, _decode_wav):
            try:
                out = dec(payload)
            except Exception:  # noqa: BLE001 — corrupt media must not fail the job
                out = None
            if out is not None:
                return out
    return _fake_decode_features(payload), (
        "ok" if _HAVE_REAL_DECODERS else "stubbed_fake"
    )


def extract_media_features(media: DataFrame) -> DataFrame:
    """Decode + featurize media payloads with an Arrow-batched kernel.

    Real plumbing: column pruning keeps only (doc_id, media_type, payload);
    batches arrive as pandas; output schema is fixed. The decode itself is a
    deterministic fake until real codecs are present."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            decoded = [
                decode_features(
                    bytes(p) if isinstance(p, (bytes, bytearray)) else b""
                )
                for p in payloads
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.map(lambda p: len(p) if p is not None else 0),
                    "sha1": payloads.map(
                        lambda p: hashlib.sha1(p or b"").hexdigest()
                    ),
                    "feature": [f for f, _ in decoded],
                    "decode_status": [s for _, s in decoded],
                }
            )

    pruned = media.select("doc_id", "media_type", "payload")
    return pruned.mapInPandas(run, schema=FEATURE_SCHEMA_DDL)


def _resize_ppm(payload: bytes, max_dim: int) -> bytes | None:
    """REAL nearest-neighbor resize for binary PPM (P6) payloads — pure
    numpy. Returns a re-encoded P6 whose longest side is ≤ max_dim, or None
    if the payload isn't decodable PPM (caller passes those through)."""
    import numpy as np

    if payload[:2] != b"P6":
        return None
    header = _parse_ppm_header(payload)
    if header is None:
        return None
    width, height, maxval, i = header
    # same validity bar as _decode_ppm, without paying a throwaway decode
    if maxval > 255 or width * height == 0 or len(payload) < i + width * height * 3:
        return None
    img = np.frombuffer(payload[i : i + width * height * 3], dtype=np.uint8)
    img = img.reshape(height, width, 3)
    scale = max(width, height) / max_dim
    if scale <= 1:
        return payload
    nw, nh = max(int(width / scale), 1), max(int(height / scale), 1)
    ys = (np.arange(nh) * height // nh).clip(0, height - 1)
    xs = (np.arange(nw) * width // nw).clip(0, width - 1)
    small = img[ys][:, xs]
    return b"P6\n%d %d\n%d\n" % (nw, nh, maxval) + small.tobytes()


def _resize_png(payload: bytes, max_dim: int) -> bytes | None:
    """REAL nearest-neighbor resize for PNG payloads: decode (zlib+numpy),
    NN-downsample so the longest side is ≤ max_dim, re-encode with filter-0
    rows. Returns the original payload when already small, None when not
    decodable PNG (caller passes those through)."""
    import numpy as np

    if payload[:8] != _PNG_SIG:
        return None
    decoded = _decode_png_pixels(payload)
    if decoded is None:
        return None
    img, _ch = decoded
    height, width = img.shape[:2]
    scale = max(width, height) / max_dim
    if scale <= 1:
        return payload
    nw, nh = max(int(width / scale), 1), max(int(height / scale), 1)
    ys = (np.arange(nh) * height // nh).clip(0, height - 1)
    xs = (np.arange(nw) * width // nw).clip(0, width - 1)
    return encode_png(img[ys][:, xs])


def _resize_gif(payload: bytes, max_dim: int) -> bytes | None:
    """REAL nearest-neighbor resize for GIF payloads: LZW decode, NN
    downsample so the longest side is ≤ max_dim, re-encode through the
    dictionary-LZW encoder (grayscale palette — matches how features read
    GIFs). Returns the original payload when already small, None when not
    decodable GIF (caller passes those through)."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    img = _decode_gif_pixels(payload)
    if img is None:
        return None
    height, width = img.shape[:2]
    scale = max(width, height) / max_dim
    if scale <= 1:
        return payload
    nw, nh = max(int(width / scale), 1), max(int(height / scale), 1)
    ys = (np.arange(nh) * height // nh).clip(0, height - 1)
    xs = (np.arange(nw) * width // nw).clip(0, width - 1)
    return encode_gif(img[ys][:, xs])


def _resize_jpeg(payload: bytes, max_dim: int) -> bytes | None:
    """REAL nearest-neighbor resize for baseline JPEG payloads: full
    Huffman+dequant+IDCT decode (jpeg.py), NN downsample so the longest
    side is ≤ max_dim, re-encode at quality 50 (4:4:4 — keeps the
    exact-roundtrip plant subspace exact through the resize: a flat
    even-valued image stays flat even-valued). Returns the original
    payload when already small, None when not decodable baseline JPEG
    (caller passes those through)."""
    import numpy as np

    from avc_parser_spark.functions.jpeg import decode_jpeg_pixels, encode_jpeg

    if payload[:2] != b"\xff\xd8":
        return None
    decoded = decode_jpeg_pixels(payload)
    if decoded is None:
        return None
    img, _ncomp = decoded
    height, width = img.shape[:2]
    scale = max(width, height) / max_dim
    if scale <= 1:
        return payload
    nw, nh = max(int(width / scale), 1), max(int(height / scale), 1)
    ys = (np.arange(nh) * height // nh).clip(0, height - 1)
    xs = (np.arange(nw) * width // nw).clip(0, width - 1)
    return encode_jpeg(img[ys][:, xs], quality=50)


def resize_media(media: DataFrame) -> DataFrame:
    """Resize op over the media table (Arrow-batched mapInPandas): PPM, PNG,
    GIF and baseline JPEG payloads are REALLY downsampled (nearest neighbor)
    to at most 4 pixels on the longest side; other formats pass through
    unchanged with resize_status='passthrough'."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payloads, statuses = [], []
            for p in pdf["payload"]:
                raw = bytes(p) if isinstance(p, (bytes, bytearray)) else b""
                try:
                    resized = _resize_ppm(raw, 4)
                    if resized is None:
                        resized = _resize_png(raw, 4)
                    if resized is None:
                        resized = _resize_gif(raw, 4)
                    if resized is None:
                        resized = _resize_jpeg(raw, 4)
                except Exception:  # noqa: BLE001 — corrupt media passes through
                    resized = None
                if resized is None:
                    out_payloads.append(raw)
                    statuses.append("passthrough")
                else:
                    out_payloads.append(resized)
                    statuses.append(
                        "resized" if resized is not raw else "already_small"
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "payload": out_payloads,
                    "resize_status": statuses,
                }
            )

    pruned = media.select("doc_id", "media_type", "payload")
    return pruned.mapInPandas(
        run,
        schema="doc_id bigint, media_type string, payload binary, resize_status string",
    )


VIDEO_META_SCHEMA_DDL = (
    "doc_id bigint, media_type string, payload binary, parse_status string, "
    "duration_sec double, timescale int, n_tracks int, n_video_tracks int, "
    "n_audio_tracks int, codec string, width int, height int, n_frames int"
)


def extract_video_meta(media: DataFrame) -> DataFrame:
    """Parse ISO-BMFF container metadata per payload (Arrow-batched
    mapInPandas over mp4.py) and attach typed columns: duration, track
    layout, codec fourcc, dimensions, frame count (stsz sample count of the
    first video track). The payload rides through so frame_sample_plan can
    consume the result directly — one decode pass, no re-join shuffle.
    Non-MP4 / unparseable payloads get parse_status='not_mp4' with null
    meta (corrupt media must not fail the job)."""
    from avc_parser_spark.functions.mp4 import parse_mp4_meta

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                k: []
                for k in (
                    "parse_status", "duration_sec", "timescale", "n_tracks",
                    "n_video_tracks", "n_audio_tracks", "codec", "width",
                    "height", "n_frames",
                )
            }
            for p in pdf["payload"]:
                raw = bytes(p) if isinstance(p, (bytes, bytearray)) else b""
                try:
                    meta = parse_mp4_meta(raw)
                except Exception:  # noqa: BLE001 — corrupt media must not fail the job
                    meta = None
                if meta is None:
                    for k in rows:
                        rows[k].append("not_mp4" if k == "parse_status" else None)
                    continue
                vids = [t for t in meta["tracks"] if t["kind"] == "vide"]
                auds = [t for t in meta["tracks"] if t["kind"] == "soun"]
                v = vids[0] if vids else None
                rows["parse_status"].append("ok_mp4_meta")
                rows["duration_sec"].append(meta["duration_sec"])
                rows["timescale"].append(meta["timescale"])
                rows["n_tracks"].append(meta["n_tracks"])
                rows["n_video_tracks"].append(len(vids))
                rows["n_audio_tracks"].append(len(auds))
                rows["codec"].append(v["codec"] if v else None)
                rows["width"].append(v["width"] if v else None)
                rows["height"].append(v["height"] if v else None)
                rows["n_frames"].append(v["n_samples"] if v else None)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "payload": pdf["payload"],
                    **rows,
                }
            )
            for col, dt in (
                ("duration_sec", "float64"), ("timescale", "Int32"),
                ("n_tracks", "Int32"), ("n_video_tracks", "Int32"),
                ("n_audio_tracks", "Int32"), ("width", "Int32"),
                ("height", "Int32"), ("n_frames", "Int32"),
            ):
                out[col] = out[col].astype(dt)
            yield out

    pruned = media.select("doc_id", "media_type", "payload")
    return pruned.mapInPandas(run, schema=VIDEO_META_SCHEMA_DDL)


def frame_sample_plan(media: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame-sampling plumbing: expands per-video frame indices natively
    (sequence+explode) so the decode UDF receives (payload, frame_idx) work
    units — the shuffle-free fan-out pattern for video pipelines."""
    return (
        media.filter(F.col("media_type") == "video")
        .withColumn(
            "frame_idx",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.coalesce(F.col("n_frames"), F.lit(1)) - 1, F.lit(0)),
                    F.lit(every_n),
                )
            ),
        )
        .select("doc_id", "payload", "frame_idx")
    )
