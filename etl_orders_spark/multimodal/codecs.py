"""Pure-Python pixel codecs for uncompressed image containers.

Closes the one honestly-gated gap in the multimodal stage: the strict
decode path (ops.py) previously raised ``NotImplementedError`` for ALL
formats because this container ships no image codec library. For
containers that are just "header + raw samples" a from-scratch decoder
is small, exact, and trustworthy, so those are now first-class:

- **PPM (P6)** / **PGM (P5)** — binary netpbm, maxval <= 255: the
  canonical uncompressed interchange formats.
- **BMP** — BITMAPINFOHEADER (or the V4/V5 supersets), uncompressed
  BI_RGB at 24/32 bits per pixel, bottom-up or top-down row order,
  4-byte row padding, BGR(A) sample order.

**PNG** decodes here too (``decode_png``): DEFLATE is stdlib ``zlib``,
so the codec work is chunk CRC verification plus the five scanline
unfilters — exact modular arithmetic, fail-closed on bit rot. The FULL
legal matrix decodes natively: every bit depth (1/2/4/8/16), color
types 0/2/3/4/6, both interlace methods (none / Adam7, each pass its
own independently-filtered, independently-bit-packed sub-image).
**GIF** decodes too (``decode_gif``): LZW is
exact integer/bit arithmetic (variable-width LSB-first codes, the
spec dictionary algorithm, 4-pass interlace unweaving) — with PNG this
covers both lossless web formats. **Baseline JPEG** decodes natively
too (``jpeg.decode_jpeg``: stream-read Huffman + DQT tables, matrix
IDCT, 4:2:0/4:2:2/4:4:4, restart markers); only the genuinely
library-shaped variants stay gated — arithmetic/12-bit
JPEG and VP8 (WebP) raise ``NotImplementedError`` naming the missing
library (PIL/libvips) exactly as before.

Everything returns/accepts ``numpy.uint8`` arrays shaped ``(H, W, 3)``
(grayscale expands to three equal channels), so downstream resize /
feature stages are format-agnostic. ``resize_nearest`` uses the exact
integer floor mapping ``src = (dst * src_dim) // out_dim`` — fully
deterministic and mirrorable in ANSI SQL, which is what lets the
decode -> resize -> feature pipeline carry a DuckDB value-hash oracle
(plans/media_queries.py) instead of a rows-only check.

Scale/worker contract: this module registers itself with pyspark's
vendored cloudpickle for BY-VALUE pickling, so mapInPandas closures
may reference these functions directly and still run on bare-session
workers that cannot import the package (the same constraint that keeps
other worker-side helpers closure-local; see sources/pysource.py).
"""

from __future__ import annotations

import struct

import numpy as np

# top-level (not lazy in decode_image): that body runs on WORKERS,
# where the package is not importable — a module-level binding lets
# cloudpickle's by-value registration carry the jpeg/vp8l modules along
from etl_orders_spark.multimodal.jpeg import decode_jpeg as _decode_jpeg_native
from etl_orders_spark.multimodal.pickling import pickle_by_value
from etl_orders_spark.multimodal.vp8l import decode_webp as _decode_webp_native


def sniff_format(content: bytes) -> str | None:
    """Identify an image container from its magic bytes.

    Returns 'ppm' | 'pgm' | 'bmp' (decodable here), 'png' | 'jpeg' |
    'gif' | 'webp' (recognized but codec-gated), or None.
    """
    if content.startswith(b"P6"):
        return "ppm"
    if content.startswith(b"P5"):
        return "pgm"
    if content.startswith(b"BM"):
        return "bmp"
    if content.startswith(b"\x89PNG\r\n\x1a\n"):
        return "png"
    if content.startswith(b"\xff\xd8\xff"):
        return "jpeg"
    if content.startswith((b"GIF87a", b"GIF89a")):
        return "gif"
    if content.startswith(b"RIFF") and content[8:12] == b"WEBP":
        return "webp"
    if content.startswith(b"RIFF") and content[8:12] == b"WAVE":
        return "wav"
    if content.startswith(b"YUV4MPEG2"):
        return "y4m"
    return None


def _netpbm_header(content: bytes, magic: bytes) -> tuple[int, int, int, int]:
    """Parse a binary netpbm header: magic, then whitespace-separated
    width/height/maxval tokens with ``#`` comments allowed anywhere
    between them, then exactly ONE whitespace byte before the raster.
    Returns (width, height, maxval, raster_offset)."""
    if not content.startswith(magic):
        raise ValueError(f"netpbm: expected magic {magic!r}")
    pos, n = len(magic), len(content)
    vals: list[int] = []
    while len(vals) < 3:
        # skip whitespace and comments
        while pos < n:
            c = content[pos : pos + 1]
            if c.isspace():
                pos += 1
            elif c == b"#":
                nl = content.find(b"\n", pos)
                if nl < 0:
                    raise ValueError("netpbm: unterminated header comment")
                pos = nl + 1
            else:
                break
        start = pos
        while pos < n and content[pos : pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError("netpbm: malformed header (expected integer token)")
        vals.append(int(content[start:pos]))
    if pos >= n or not content[pos : pos + 1].isspace():
        raise ValueError("netpbm: missing single whitespace before raster")
    pos += 1  # the ONE whitespace byte separating header from raster
    w, h, maxval = vals
    if w <= 0 or h <= 0:
        raise ValueError(f"netpbm: bad dimensions {w}x{h}")
    if not 0 < maxval <= 255:
        # 2-byte-per-sample netpbm (maxval 256..65535) is legal but rare;
        # the generator/encoder here never emits it
        raise ValueError(f"netpbm: unsupported maxval {maxval} (only <= 255)")
    return w, h, maxval, pos


def decode_ppm(content: bytes) -> np.ndarray:
    """Binary PPM (P6) -> (H, W, 3) uint8."""
    w, h, _, off = _netpbm_header(content, b"P6")
    need = w * h * 3
    raster = content[off : off + need]
    if len(raster) < need:
        raise ValueError(f"ppm: truncated raster ({len(raster)}/{need} bytes)")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


def decode_pgm(content: bytes) -> np.ndarray:
    """Binary PGM (P5) -> (H, W, 3) uint8 (gray expanded to 3 channels)."""
    w, h, _, off = _netpbm_header(content, b"P5")
    need = w * h
    raster = content[off : off + need]
    if len(raster) < need:
        raise ValueError(f"pgm: truncated raster ({len(raster)}/{need} bytes)")
    gray = np.frombuffer(raster, dtype=np.uint8).reshape(h, w)
    return np.repeat(gray[:, :, None], 3, axis=2)


def decode_bmp(content: bytes) -> np.ndarray:
    """Uncompressed BI_RGB BMP (24/32-bit) -> (H, W, 3) uint8.

    Handles BITMAPINFOHEADER and its V4/V5 supersets, bottom-up
    (positive height) and top-down (negative height) row order, 4-byte
    row padding, and the on-disk BGR(A) sample order."""
    if len(content) < 54 or not content.startswith(b"BM"):
        raise ValueError("bmp: too short or bad magic")
    data_offset = struct.unpack_from("<I", content, 10)[0]
    hdr_size = struct.unpack_from("<I", content, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"bmp: unsupported DIB header size {hdr_size} (BITMAPCOREHEADER)")
    w, h_signed = struct.unpack_from("<ii", content, 18)
    planes, bpp = struct.unpack_from("<HH", content, 26)
    compression = struct.unpack_from("<I", content, 30)[0]
    if planes != 1:
        raise ValueError(f"bmp: planes={planes}")
    if compression != 0:
        raise NotImplementedError(
            f"bmp: compression={compression} (RLE/bitfields) needs a real codec; "
            "only uncompressed BI_RGB is decoded here"
        )
    if bpp not in (24, 32):
        raise NotImplementedError(f"bmp: {bpp}-bit (palette) not decoded here; only 24/32-bit")
    top_down = h_signed < 0
    h = -h_signed if top_down else h_signed
    if w <= 0 or h == 0:
        raise ValueError(f"bmp: bad dimensions {w}x{h_signed}")
    channels = bpp // 8
    stride = ((bpp * w + 31) // 32) * 4  # rows pad to 4-byte boundaries
    need = stride * h
    raster = content[data_offset : data_offset + need]
    if len(raster) < need:
        raise ValueError(f"bmp: truncated raster ({len(raster)}/{need} bytes)")
    rows = np.frombuffer(raster, dtype=np.uint8).reshape(h, stride)
    px = rows[:, : w * channels].reshape(h, w, channels)
    rgb = px[:, :, 2::-1]  # BGR(A) -> RGB, alpha dropped
    if not top_down:
        rgb = rgb[::-1]
    return np.ascontiguousarray(rgb)


def _decode_via_pil(content: bytes, gate_name: str) -> np.ndarray:
    """Decode through Pillow when installed, else the honest
    ImportError-gated NotImplementedError naming the missing codec."""
    try:
        import PIL.Image as Image
    except ImportError as e:
        raise NotImplementedError(
            f"pixel decode for {gate_name} needs an image codec (PIL/libvips); "
            "not available in this environment"
        ) from e
    import io

    # open parses only the header lazily; .load() is the real decode
    try:
        img = Image.open(io.BytesIO(content))
        img.load()
    except Exception as e:
        raise ValueError("content is not a decodable image") from e
    return np.asarray(img.convert("RGB"), dtype=np.uint8)


def decode_image(content: bytes) -> np.ndarray:
    """Decode any supported container -> (H, W, 3) uint8.

    PPM/PGM/BMP, PNG, GIF and Huffman JPEG decode here in pure
    Python (PNG covers its FULL legal depth/color/interlace matrix,
    sub-byte through 16-bit; JPEG covers baseline/extended sequential
    AND progressive SOF2 with 4:2:0/4:2:2/4:4:4 and restart markers).
    Should a native decoder decline a legal shape with
    ``NotImplementedError`` (e.g. arithmetic-coded or 12-bit JPEG),
    it FALLS THROUGH to PIL when
    installed — the native path never reduces capability vs the
    pre-native behavior — and re-raises the native gate when it is
    not. WebP routes through PIL when it exists and otherwise raises
    the honest ImportError-gated ``NotImplementedError``; unrecognized
    or torn bytes raise ``ValueError`` (the quarantine-lane class)."""
    fmt = sniff_format(content)
    if fmt == "ppm":
        return decode_ppm(content)
    if fmt == "pgm":
        return decode_pgm(content)
    if fmt == "bmp":
        return decode_bmp(content)
    if fmt in ("png", "gif", "jpeg", "webp"):
        # bound at module import (not lazily here): this body runs on
        # WORKERS, where the package is not importable — the top-level
        # bindings let cloudpickle's by-value registration carry the
        # jpeg/vp8l modules along with this one
        native = {
            "png": decode_png,
            "gif": decode_gif,
            "jpeg": _decode_jpeg_native,
            "webp": _decode_webp_native,
        }[fmt]
        try:
            return native(content)
        except NotImplementedError:
            # a legal shape the pure-Python codec declines (e.g.
            # arithmetic-coded JPEG): give PIL a chance before gating
            try:
                return _decode_via_pil(content, fmt.upper())
            except NotImplementedError:
                raise  # PIL absent: surface the gate, not a ValueError
    raise ValueError("content is not a decodable image (no known container magic)")


def encode_ppm(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 -> binary PPM (P6)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"encode_ppm: expected (H, W, 3), got {a.shape}")
    h, w, _ = a.shape
    return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()


def encode_pgm(arr: np.ndarray) -> bytes:
    """(H, W) uint8 -> binary PGM (P5)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 2:
        raise ValueError(f"encode_pgm: expected (H, W), got {a.shape}")
    h, w = a.shape
    return b"P5\n%d %d\n255\n" % (w, h) + a.tobytes()


def encode_bmp(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 -> 24-bit uncompressed bottom-up BMP."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"encode_bmp: expected (H, W, 3), got {a.shape}")
    h, w, _ = a.shape
    stride = ((24 * w + 31) // 32) * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = a[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, RGB -> BGR
    raster = rows.tobytes()
    data_offset = 14 + 40
    file_header = b"BM" + struct.pack("<IHHI", data_offset + len(raster), 0, 0, data_offset)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    return file_header + dib + raster


def decode_wav(content: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM -> (samples int32 array shaped (n, channels),
    sample_rate). Pure Python: 8-bit unsigned and 16-bit signed
    little-endian PCM (format tag 1); compressed WAVE formats
    (IEEE float, ADPCM, MP3-in-WAV) raise NotImplementedError.
    Chunk walk tolerates extra chunks (LIST/fact) and odd-size
    padding, per the RIFF spec."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("wav: not a RIFF/WAVE container")
    pos, n = 12, len(content)
    fmt = None
    data = None
    while pos + 8 <= n:
        cid = content[pos : pos + 4]
        csize = struct.unpack_from("<I", content, pos + 4)[0]
        body = content[pos + 8 : pos + 8 + csize]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + csize + (csize & 1)  # chunks pad to even offsets
    if fmt is None or data is None:
        raise ValueError("wav: missing fmt or data chunk")
    if len(fmt) < 16:
        raise ValueError("wav: truncated fmt chunk")
    tag, channels, rate, _, _, bits = struct.unpack_from("<HHIIHH", fmt, 0)
    if tag == 7:  # G.711 mu-law: 8-bit codewords, closed-form expansion
        if bits != 8:
            raise ValueError(f"wav: mu-law must be 8-bit, got {bits}")
        if channels < 1:
            raise ValueError(f"wav: bad channel count {channels}")
        codes = np.frombuffer(data[: len(data) - (len(data) % channels)], dtype=np.uint8)
        return mulaw_decode(codes).reshape(-1, channels), rate
    if tag == 0x11:  # IMA/DVI ADPCM
        if bits != 4:
            raise ValueError(f"wav: IMA ADPCM must be 4-bit, got {bits}")
        if channels != 1:
            raise NotImplementedError(
                "wav: multi-channel IMA ADPCM (interleaved 4-byte groups) "
                "not decoded here (needs a real codec)"
            )
        block_align = struct.unpack_from("<H", fmt, 12)[0]
        return ima_adpcm_decode_mono(data, block_align).reshape(-1, 1), rate
    if tag != 1:
        raise NotImplementedError(
            f"wav: format tag {tag} (float/MS-ADPCM/compressed) needs a real codec; "
            "only integer PCM, mu-law and mono IMA ADPCM are decoded here"
        )
    if channels < 1:
        raise ValueError(f"wav: bad channel count {channels}")
    if bits == 16:
        samples = np.frombuffer(data[: len(data) - (len(data) % (2 * channels))], dtype="<i2")
        out = samples.astype(np.int32)
    elif bits == 8:
        samples = np.frombuffer(data[: len(data) - (len(data) % channels)], dtype=np.uint8)
        out = samples.astype(np.int32) - 128  # 8-bit PCM is unsigned
    else:
        raise NotImplementedError(f"wav: {bits}-bit PCM not decoded here (8/16 only)")
    return out.reshape(-1, channels), rate


def mulaw_decode(codes: np.ndarray) -> np.ndarray:
    """G.711 mu-law expansion (ITU-T G.711 / the CCITT reference
    implementation): codeword b decodes as

        u = ~b & 0xFF
        t = (((u & 0x0F) << 3) + 132) << ((u & 0x70) >> 4)
        sample = 132 - t  if u & 0x80 else  t - 132

    — a pure per-codeword closed form (range +-32124, the canonical
    table's endpoints; 0xFF -> +0 and 0x7F -> -0 both decode to 0),
    which is what lets the DuckDB fixture oracle mirror the expansion
    arithmetically with no second decoder. Vectorized int32 out."""
    u = (~np.asarray(codes, dtype=np.uint8)).astype(np.int32) & 0xFF
    t = (((u & 0x0F) << 3) + 132) << ((u & 0x70) >> 4)
    return np.where(u & 0x80, 132 - t, t - 132).astype(np.int32)


# IMA/DVI ADPCM tables (IMA Digital Audio Focus and Technical Working
# Groups, "Recommended Practices for Enhancing Digital Audio
# Compatibility in Multimedia Systems", rev 3.00 — the public spec)
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX_STEP = (-1, -1, -1, -1, 2, 4, 6, 8)


def ima_adpcm_decode_mono(data: bytes, block_align: int) -> np.ndarray:
    """IMA ADPCM (WAV format tag 0x11), MONO blocks -> int32 samples.

    Per block: a 4-byte header (int16 initial predictor — emitted as
    the block's first sample, per the WAV framing — uint8 step index,
    reserved byte), then 4-bit codes packed LOW nibble first. Each
    nibble advances the canonical IMA recurrence:

        step = steps[index]
        diff = step>>3 (+ step if b2) (+ step>>1 if b1) (+ step>>2 if b0)
        pred +-= diff (sign = b3), clamped to int16
        index += index_table[nibble & 7], clamped to 0..88

    The recurrence is exact integer arithmetic, which is what lets the
    DuckDB oracle re-derive every sample with a recursive CTE instead
    of a second decoder (plans/media_queries.py). Torn blocks raise
    ValueError (the quarantine class)."""
    if block_align < 5:
        raise ValueError("adpcm: block_align too small")
    out: list[int] = []
    for off in range(0, len(data) - (len(data) % block_align), block_align):
        block = data[off : off + block_align]
        pred = struct.unpack_from("<h", block, 0)[0]
        index = block[2]
        if index > 88:
            raise ValueError(f"adpcm: step index {index} out of range")
        out.append(pred)
        for byte in block[4:]:
            for nib in (byte & 0x0F, byte >> 4):  # LOW nibble first
                step = _IMA_STEPS[index]
                diff = step >> 3
                if nib & 4:
                    diff += step
                if nib & 2:
                    diff += step >> 1
                if nib & 1:
                    diff += step >> 2
                pred = pred - diff if nib & 8 else pred + diff
                pred = max(-32768, min(32767, pred))
                index = max(0, min(88, index + _IMA_INDEX_STEP[nib & 7]))
                out.append(pred)
    if not out:
        raise ValueError("adpcm: no complete block")
    return np.array(out, dtype=np.int32)


def encode_wav_adpcm_mono(nibbles: np.ndarray, rate: int, init_pred: int = 0,
                          init_index: int = 0) -> bytes:
    """Fixture encoder: pack a MONO nibble stream (values 0..15, even
    count) into ONE IMA ADPCM block inside a RIFF/WAVE container —
    fixtures choose the nibble stream directly by law, so 'encoding'
    is pure framing (the recurrence lives only in the decoder and the
    SQL oracle, never shared)."""
    nib = np.asarray(nibbles, dtype=np.int64)
    if nib.ndim != 1 or len(nib) % 2 or ((nib < 0) | (nib > 15)).any():
        raise ValueError("encode_wav_adpcm_mono: need an even count of 0..15 nibbles")
    if not (-32768 <= init_pred <= 32767 and 0 <= init_index <= 88):
        raise ValueError("encode_wav_adpcm_mono: bad initial state")
    payload = struct.pack("<hBB", init_pred, init_index, 0) + bytes(
        int(nib[i]) | (int(nib[i + 1]) << 4) for i in range(0, len(nib), 2)
    )
    block_align = len(payload)
    n_samples = 1 + len(nib)
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, rate, rate * block_align // n_samples or 1,
        block_align, 4, 2, n_samples
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _wav_container(tag: int, channels: int, rate: int, bits: int, payload: bytes) -> bytes:
    """Assemble one RIFF/WAVE container (fmt + data chunks) — the ONE
    copy of the chunk layout both encoders share. The data chunk pads
    to an even offset per the RIFF spec (csize excludes the pad byte);
    16-bit PCM payloads are always even, but 8-bit mu-law with an odd
    sample*channel count genuinely needs it."""
    block = (bits // 8) * channels
    fmt = struct.pack("<HHIIHH", tag, channels, rate, rate * block, block, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_mulaw(codes: np.ndarray, rate: int) -> bytes:
    """(n,) or (n, channels) uint8 mu-law codewords -> RIFF/WAVE with
    format tag 7 (8-bit mu-law). Fixture-side container writer: the
    fixtures generate CODEWORDS from a law directly (every byte value
    is a valid mu-law code), so decode correctness is certified
    against the closed-form expansion of the law, never against a
    companion compressor."""
    a = np.asarray(codes, dtype=np.uint8)
    if a.ndim == 1:
        a = a[:, None]
    if a.ndim != 2:
        raise ValueError(f"encode_wav_mulaw: expected (n, channels), got {a.shape}")
    return _wav_container(7, a.shape[1], rate, 8, a.tobytes())


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """(n, channels) int16-range array -> 16-bit PCM RIFF/WAVE."""
    a = np.asarray(samples)
    if a.ndim == 1:
        a = a[:, None]
    if a.ndim != 2:
        raise ValueError(f"encode_wav: expected (n, channels), got {a.shape}")
    return _wav_container(1, a.shape[1], rate, 16, a.astype("<i2").tobytes())


def decode_y4m(content: bytes) -> tuple[np.ndarray, tuple[int, int]]:
    """YUV4MPEG2 (.y4m) -> (luma frames uint8 (n, H, W), fps ratio).

    The uncompressed video container: a text stream header
    (``YUV4MPEG2 W<w> H<h> F<num>:<den> ... [C<space>]``) then one
    ``FRAME\\n`` marker + raw planes per frame. Decodes the luma plane
    for mono and 4:2:0 colorspaces (chroma planes are skipped, not
    parsed — features here are luma-based); anything else raises
    NotImplementedError. Compressed video (MP4/MKV/AVI) is not a
    parsing problem but a codec problem and stays honestly gated."""
    if not content.startswith(b"YUV4MPEG2"):
        raise ValueError("y4m: missing YUV4MPEG2 signature")
    nl = content.find(b"\n")
    if nl < 0:
        raise ValueError("y4m: unterminated stream header")
    w = h = 0
    num, den = 30, 1
    cspace = "420jpeg"  # the spec default when C is absent
    for tok in content[9:nl].split():
        t = tok.decode("ascii", "replace")
        if t.startswith("W"):
            w = int(t[1:])
        elif t.startswith("H"):
            h = int(t[1:])
        elif t.startswith("F"):
            num, den = (int(x) for x in t[1:].split(":"))
        elif t.startswith("C"):
            cspace = t[1:]
    if w <= 0 or h <= 0:
        raise ValueError(f"y4m: bad dimensions {w}x{h}")
    if cspace.startswith("mono"):
        frame_bytes = w * h
    elif cspace.startswith("420"):
        frame_bytes = w * h + 2 * ((w // 2) * (h // 2))
    else:
        raise NotImplementedError(
            f"y4m: colorspace {cspace} not decoded here (mono / 4:2:0 only)"
        )
    frames = []
    pos = nl + 1
    n = len(content)
    while pos < n:
        if not content.startswith(b"FRAME", pos):
            raise ValueError("y4m: expected FRAME marker")
        fnl = content.find(b"\n", pos)
        if fnl < 0:
            raise ValueError("y4m: unterminated FRAME header")
        pos = fnl + 1
        if pos + frame_bytes > n:
            raise ValueError("y4m: truncated frame payload")
        luma = np.frombuffer(content[pos : pos + w * h], dtype=np.uint8).reshape(h, w)
        frames.append(luma)
        pos += frame_bytes
    if not frames:
        raise ValueError("y4m: stream has no frames")
    return np.stack(frames), (num, den)


def encode_y4m(frames: np.ndarray, fps: tuple[int, int] = (30, 1)) -> bytes:
    """(n, H, W) uint8 luma frames -> mono-colorspace YUV4MPEG2."""
    a = np.asarray(frames, dtype=np.uint8)
    if a.ndim != 3:
        raise ValueError(f"encode_y4m: expected (n, H, W), got {a.shape}")
    n, h, w = a.shape
    out = [b"YUV4MPEG2 W%d H%d F%d:%d Ip A1:1 Cmono\n" % (w, h, fps[0], fps[1])]
    for i in range(n):
        out.append(b"FRAME\n")
        out.append(a[i].tobytes())
    return b"".join(out)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per pixel for the color types decoded here
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# Adam7 pass grid (spec §8.2): (x0, y0, dx, dy) per pass. Each pass is
# an independently-filtered sub-image; empty passes contribute no
# bytes, not even filter bytes.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)
# sanity cap on declared w*h (64 Mpx ~= 8192x8192): bounds worker
# memory against a crafted IHDR before any inflate happens
_PNG_MAX_PIXELS = 1 << 26
# cap on the DECOMPRESSED byte size derived from IHDR (ADVICE r6): the
# pixel cap alone lets a declared 8192x8192 16-bit RGBA allocate ~8x
# the budget the 64 Mpx figure implies for 8-bit gray — bound the
# actual allocation, not a proxy for it
_PNG_MAX_RAW_BYTES = 256 << 20
# 8-bit expansion factor per sub-byte sample (spec bit replication:
# v * 255 / (2^depth - 1), exact in integers for depths 1/2/4)
_PNG_SUBBYTE_SCALE = {1: 255, 2: 85, 4: 17}


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> bytes:
    """Invert the five PNG scanline filters (spec §9: None/Sub/Up/
    Average/Paeth), exact modular arithmetic.

    Vectorization (VERDICT r5 #7): None is a copy; Up is a pure
    uint8 wrap-add against the previous reconstructed row; Sub's
    byte-recurrence out[i] = raw[i] + out[i-bpp] is a running sum per
    channel lane, i.e. a mod-256 ``cumsum`` over the pixel axis — all
    three run whole-row in numpy. Average and Paeth stay honest
    per-byte loops: each output byte feeds the next byte's predictor
    through a floor/branch, so no closed form exists (per-pixel numpy
    slices were MEASURED slower than the byte loop for bpp <= 8 —
    interpreter-dispatch per tiny array beats nothing)."""
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"png: decompressed size {len(raw)} != expected {h * (stride + 1)}"
        )
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    fts = arr[:, 0]
    filt = arr[:, 1:]
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    npx = stride // bpp
    for y in range(h):
        ft = int(fts[y])
        if ft == 0:
            out[y] = filt[y]
        elif ft == 1:  # Sub: per-lane running sum, mod-256 cumsum
            out[y] = np.cumsum(
                filt[y].reshape(npx, bpp), axis=0, dtype=np.uint8
            ).reshape(stride)
        elif ft == 2:  # Up: uint8 wrap-add
            np.add(filt[y], prev, out=out[y])
        elif ft == 3:  # Average
            row = bytearray(filt[y].tobytes())
            pv = prev.tobytes()
            for i in range(bpp):
                row[i] = (row[i] + (pv[i] >> 1)) & 0xFF
            for i in range(bpp, stride):
                row[i] = (row[i] + ((row[i - bpp] + pv[i]) >> 1)) & 0xFF
            out[y] = np.frombuffer(bytes(row), dtype=np.uint8)
        elif ft == 4:  # Paeth
            row = bytearray(filt[y].tobytes())
            pv = prev.tobytes()
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                b = pv[i]
                c = pv[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
            out[y] = np.frombuffer(bytes(row), dtype=np.uint8)
        else:
            raise ValueError(f"png: unknown filter type {ft} on row {y}")
        prev = out[y]
    return out.tobytes()


def decode_png(content: bytes) -> np.ndarray:
    """PNG -> (H, W, 3) uint8, pure Python over stdlib ``zlib``.

    Covers the dominant lossless web format's FULL depth matrix: every
    legal bit depth (1/2/4/8/16 — sub-byte samples bit-unpack MSB-first
    and gray scales by the spec's bit-replication factor; 16-bit strips
    to the high byte on output), color types 0 (gray), 2 (RGB), 3
    (palette), 4 (gray+alpha), 6 (RGBA), BOTH interlace methods (none /
    Adam7 seven-pass, each pass its own independently-filtered
    sub-image whose scanlines bit-pack separately at sub-byte depths),
    all five scanline filters. Alpha drops; gray expands to three equal
    channels; palette indices look up PLTE. Per-chunk CRCs are VERIFIED
    (fail closed on bit rot — this decoder feeds a quarantine lane, so
    silent acceptance of torn bytes is the one unforgivable
    behavior)."""
    import zlib

    if not content.startswith(_PNG_SIG):
        raise ValueError("png: missing signature")
    pos, n = len(_PNG_SIG), len(content)
    ihdr = None
    plte = None
    idat = bytearray()
    seen_iend = False
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", content, pos)
        ctype = content[pos + 4 : pos + 8]
        body_end = pos + 8 + length
        if body_end + 4 > n:
            raise ValueError(f"png: truncated {ctype!r} chunk")
        body = content[pos + 8 : body_end]
        (crc,) = struct.unpack_from(">I", content, body_end)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"png: CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            seen_iend = True
            break
        pos = body_end + 4
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("png: missing or malformed IHDR")
    if not seen_iend:
        raise ValueError("png: missing IEND (truncated stream)")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if w <= 0 or h <= 0:
        raise ValueError(f"png: bad dimensions {w}x{h}")
    if comp != 0 or filt != 0:
        raise ValueError(f"png: unknown compression/filter method {comp}/{filt}")
    if interlace not in (0, 1):
        raise ValueError(f"png: unknown interlace method {interlace}")
    if color not in _PNG_CHANNELS:
        raise ValueError(f"png: unknown color type {color}")
    # legal depth/color combinations (spec §11.2.2): sub-byte depths
    # exist only for gray and palette; palette caps at 8-bit
    legal = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16), 6: (8, 16)}
    if depth not in legal[color]:
        raise ValueError(f"png: illegal depth {depth} for color type {color}")
    if not idat:
        raise ValueError("png: no IDAT data")
    ch = _PNG_CHANNELS[color]
    # filter delta distance, in BYTES, floored to 1 at sub-byte depths
    # (spec §9: filters operate on the PACKED scanline bytes there)
    bpp = max(1, ch * depth // 8)
    # Bounded inflate (ADVICE r5): the exact decompressed size is known
    # from IHDR, so cap the allocation BEFORE inflating — a crafted
    # bomb (~1000:1 zlib ratio, or a huge declared w*h) must not
    # allocate gigabytes on a worker just to be rejected. This decoder
    # explicitly feeds the untrusted-bytes quarantine lane. Both caps
    # (pixels here, decoded bytes below) raise ValueError DELIBERATELY
    # rather than the PIL-fallthrough NotImplementedError: a header
    # this decoder refuses as a resource bomb must not be handed to a
    # second decoder either — an oversized-but-genuine image is the
    # quarantine lane's review queue, not a capability gap.
    if w * h > _PNG_MAX_PIXELS:
        raise ValueError(f"png: declared size {w}x{h} exceeds decode cap")
    passes = _ADAM7 if interlace == 1 else ((0, 0, 1, 1),)
    dims = []
    for x0, y0, dx, dy in passes:
        wp = (w - x0 + dx - 1) // dx if w > x0 else 0
        hp = (h - y0 + dy - 1) // dy if h > y0 else 0
        # packed scanline bytes for this pass: each pass's scanlines
        # bit-pack independently, padded to a byte boundary (spec §8.2)
        sp = (wp * ch * depth + 7) // 8
        dims.append((x0, y0, dx, dy, wp, hp, sp))
    expected = sum(hp * (1 + sp) for (*_, wp, hp, sp) in dims if wp and hp)
    if expected > _PNG_MAX_RAW_BYTES:
        raise ValueError(
            f"png: decoded stream {expected} bytes exceeds {_PNG_MAX_RAW_BYTES} cap"
        )
    d = zlib.decompressobj()
    try:
        raw = d.decompress(bytes(idat), expected + 1)
    except zlib.error as e:
        raise ValueError(f"png: corrupt IDAT stream ({e})") from e
    if len(raw) > expected or d.unconsumed_tail:
        raise ValueError(f"png: IDAT inflates past expected {expected} bytes")
    if not d.eof:
        # all input was consumed (no unconsumed_tail) yet the zlib
        # stream never reached its end marker — the adler32 integrity
        # check at the trailer never ran, so completeness is unproven
        # (ADVICE r6 — the old one-shot zlib.decompress raised here;
        # keep failing closed on truncation)
        raise ValueError("png: truncated IDAT stream")
    px = np.empty((h, w, ch), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy, wp, hp, stride_p in dims:
        if not wp or not hp:
            continue
        nb = hp * (stride_p + 1)
        flat = _png_unfilter(raw[pos : pos + nb], hp, stride_p, bpp)
        pos += nb
        sub = np.frombuffer(flat, dtype=np.uint8)
        if depth == 16:
            # big-endian 16-bit samples; 16 -> 8 takes the high byte
            # (the libpng strip-16 convention — exact for v*257-coded
            # fixtures, and what a real pipeline's 8-bit features want)
            sub = sub.reshape(hp, wp, ch, 2)[:, :, :, 0]
        elif depth == 8:
            sub = sub.reshape(hp, wp, ch)
        else:
            # sub-byte depths (gray or palette, ch == 1): unpack the
            # packed scanline bytes MSB-first (spec §7.2), then drop
            # the pad samples past wp. Pure shift arithmetic over the
            # whole pass at once — no per-pixel loop.
            per = 8 // depth
            shifts = (np.arange(per - 1, -1, -1, dtype=np.uint8) * depth)
            vals = (sub.reshape(hp, stride_p, 1) >> shifts) & ((1 << depth) - 1)
            vals = vals.reshape(hp, stride_p * per)[:, :wp]
            if color == 0:
                # gray expands to 8-bit by bit replication (v * 255 /
                # (2^depth - 1), exact in integers); palette indices
                # pass through to the PLTE lookup untouched
                vals = vals * np.uint8(_PNG_SUBBYTE_SCALE[depth])
            sub = vals.reshape(hp, wp, 1)
        px[y0::dy, x0::dx] = sub
    if color == 2:  # RGB
        return np.ascontiguousarray(px)
    if color == 6:  # RGBA -> drop alpha
        return np.ascontiguousarray(px[:, :, :3])
    if color == 0:  # gray
        return np.repeat(px, 3, axis=2)
    if color == 4:  # gray + alpha
        return np.repeat(px[:, :, :1], 3, axis=2)
    # color == 3: palette lookup
    if plte is None or len(plte) % 3 != 0 or not plte:
        raise ValueError("png: palette image without a valid PLTE chunk")
    pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    idx = px[:, :, 0]
    if int(idx.max(initial=0)) >= pal.shape[0]:
        raise ValueError("png: palette index out of range")
    return np.ascontiguousarray(pal[idx])


def _png_forward_filter(rows: np.ndarray, bpp: int) -> bytearray:
    """FORWARD-filter raster rows (H, stride), cycling the filter type
    through all five (``y % 5``) — spec §9 subtraction. Scalar loops
    are fine here: the encoder is fixture-side only."""
    h, stride = rows.shape
    prev = bytearray(stride)
    lines = bytearray()
    for y in range(h):
        row = bytearray(rows[y].tobytes())
        ft = y % 5
        enc = bytearray(stride)
        if ft == 0:
            enc = row
        elif ft == 1:  # Sub
            for i in range(stride):
                a_ = row[i - bpp] if i >= bpp else 0
                enc[i] = (row[i] - a_) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                enc[i] = (row[i] - prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                a_ = row[i - bpp] if i >= bpp else 0
                enc[i] = (row[i] - ((a_ + prev[i]) >> 1)) & 0xFF
        else:  # Paeth
            for i in range(stride):
                a_ = row[i - bpp] if i >= bpp else 0
                b_ = prev[i]
                c_ = prev[i - bpp] if i >= bpp else 0
                p = a_ + b_ - c_
                pa, pb, pc = abs(p - a_), abs(p - b_), abs(p - c_)
                pred = a_ if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c_)
                enc[i] = (row[i] - pred) & 0xFF
        lines.append(ft)
        lines += enc
        prev = row
    return lines


def encode_png(arr: np.ndarray, depth: int = 8, interlace: int = 0) -> bytes:
    """(H, W, 3) uint8 -> truecolor PNG (8- or 16-bit, optionally
    Adam7-interlaced).

    The row filter CYCLES through all five types (``y % 5``), so a
    round trip — or a decode of fixture images whose pixels follow a
    closed-form law — exercises every unfilter branch, not just the
    trivial one. Filtering here is the FORWARD direction (spec §9
    subtraction); decode must invert it, so law-oracle hash matches
    certify the inverse, not a shared code path. ``depth=16`` expands
    each 8-bit sample to v*257 (the spec's bit-replication scaling, so
    the decoder's high-byte strip returns v exactly); ``interlace=1``
    splits the image into the seven Adam7 passes, each filtered
    independently — the decoder must unweave them."""
    import zlib

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"encode_png: expected (H, W, 3), got {a.shape}")
    if depth not in (8, 16) or interlace not in (0, 1):
        raise ValueError(f"encode_png: unsupported depth/interlace {depth}/{interlace}")
    h, w, _ = a.shape
    bpp = 3 * (depth // 8)

    def rows_of(img: np.ndarray) -> np.ndarray:
        hp, wp, _ = img.shape
        if depth == 8:
            return img.reshape(hp, wp * 3)
        wide = (img.astype(np.uint16) * 257).astype(">u2")  # v -> v<<8 | v
        return np.frombuffer(wide.tobytes(), dtype=np.uint8).reshape(hp, wp * 6)

    lines = bytearray()
    for x0, y0, dx, dy in (_ADAM7 if interlace else ((0, 0, 1, 1),)):
        sub = a[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue  # empty pass: no bytes, not even filter bytes
        lines += _png_forward_filter(rows_of(sub), bpp)

    ihdr = struct.pack(">IIBBBBB", w, h, depth, 2, 0, 0, interlace)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(lines), 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png_subbyte(
    samples: np.ndarray,
    depth: int,
    palette: np.ndarray | None = None,
    interlace: int = 0,
) -> bytes:
    """(H, W) sample grid -> sub-byte PNG (depth 1, 2 or 4): grayscale
    (color type 0) or, when ``palette`` (N, 3) uint8 is given, indexed
    (color type 3) with a PLTE chunk.

    Scanlines bit-pack MSB-first (spec §7.2) and pad to a byte
    boundary; the row filter cycles through all five types with bpp=1
    (spec §9: at sub-byte depths filters operate on the PACKED bytes).
    ``interlace=1`` splits into the seven Adam7 passes, each bit-packed
    AND filtered independently — the hardest sub-byte shape for a
    decoder to invert. Fixture-side only: decode correctness is
    certified against the pixel LAW and hand-built byte vectors
    (tests/test_codecs.py), never against this encoder alone."""
    import zlib

    a = np.asarray(samples)
    if a.ndim != 2:
        raise ValueError(f"encode_png_subbyte: expected (H, W) samples, got {a.shape}")
    if depth not in (1, 2, 4):
        raise ValueError(f"encode_png_subbyte: depth must be 1/2/4, got {depth}")
    if int(a.min(initial=0)) < 0 or int(a.max(initial=0)) >= (1 << depth):
        raise ValueError(f"encode_png_subbyte: samples out of {depth}-bit range")
    a = a.astype(np.uint8)
    h, w = a.shape
    per = 8 // depth
    shifts = np.arange(per - 1, -1, -1, dtype=np.uint8) * depth

    def pack_rows(sub: np.ndarray) -> np.ndarray:
        """(hp, wp) samples -> (hp, stride) MSB-first packed bytes."""
        hp, wp = sub.shape
        sp = (wp * depth + 7) // 8
        padded = np.zeros((hp, sp * per), dtype=np.uint8)
        padded[:, :wp] = sub
        return (padded.reshape(hp, sp, per) << shifts).sum(axis=2, dtype=np.uint8)

    lines = bytearray()
    for x0, y0, dx, dy in (_ADAM7 if interlace else ((0, 0, 1, 1),)):
        sub = a[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue  # empty pass: no bytes, not even filter bytes
        lines += _png_forward_filter(pack_rows(sub), 1)

    color = 0 if palette is None else 3
    out = _PNG_SIG + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    )
    if palette is not None:
        pal = np.asarray(palette, dtype=np.uint8)
        if pal.ndim != 2 or pal.shape[1] != 3 or pal.shape[0] > (1 << depth):
            raise ValueError(
                f"encode_png_subbyte: palette must be (<= {1 << depth}, 3)"
            )
        out += _png_chunk(b"PLTE", pal.tobytes())
    return (
        out
        + _png_chunk(b"IDAT", zlib.compress(bytes(lines), 6))
        + _png_chunk(b"IEND", b"")
    )


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))  # (start, step) per pass
_LZW_MAX_CODES = 4096  # 12-bit code space; the table freezes here (GIF spec)


def _gif_interlace_order(h: int) -> list[int]:
    """Row output order of an interlaced GIF (spec appendix E)."""
    order = []
    for start, step in _GIF_INTERLACE_PASSES:
        order.extend(range(start, h, step))
    return order


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytearray:
    """GIF-variant LZW (LSB-first variable-width codes): the exact
    dictionary algorithm from the spec — clear resets the table, code
    width grows at 2^width up to 12 bits, the deferred-clear convention
    (width stays 12 until the encoder sends clear) is honored."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                if len(out) >= n_pixels:
                    return out  # EOI omitted by a sloppy encoder: tolerated
                raise ValueError("gif: LZW stream truncated")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if code >= _LZW_MAX_CODES:
            # Spec: the table FREEZES at 4096 under deferred clear, so
            # a conforming encoder can never emit a code this large —
            # including the KwKwK shape at exactly 4096 (ADVICE r5).
            raise ValueError(f"gif: LZW code {code} beyond the 4096-entry table cap")
        if prev is None:
            if code >= len(table):
                raise ValueError(f"gif: first LZW code {code} out of table")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < _LZW_MAX_CODES:  # frozen past 4096 (spec)
                table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"gif: LZW code {code} beyond table size {len(table)}")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
        if len(out) > n_pixels:
            raise ValueError("gif: LZW output exceeds image size")


def decode_gif(content: bytes) -> np.ndarray:
    """GIF87a/89a -> (H, W, 3) uint8, pure Python (first frame).

    LZW here is exact integer/bit arithmetic (no entropy model, no
    transform), so like PNG it earns a from-scratch decoder: header +
    logical screen descriptor, global/local color tables, extension
    blocks skipped (transparency drops — output is always RGB),
    variable-width LSB-first LZW with the deferred-clear convention,
    and 4-pass interlace unweaving. Animated GIFs decode their first
    image descriptor. Malformed bytes raise ValueError (quarantine
    lane), never parser internals."""
    if not content.startswith((b"GIF87a", b"GIF89a")):
        raise ValueError("gif: missing GIF87a/GIF89a signature")
    n = len(content)
    if n < 13:
        raise ValueError("gif: truncated logical screen descriptor")
    packed = content[10]
    pos = 13
    gct = None
    if packed & 0x80:
        size = 3 * (2 << (packed & 0x07))
        if pos + size > n:
            raise ValueError("gif: truncated global color table")
        gct = np.frombuffer(content[pos : pos + size], dtype=np.uint8).reshape(-1, 3)
        pos += size

    def skip_subblocks(p: int) -> int:
        while True:
            if p >= n:
                raise ValueError("gif: truncated sub-block chain")
            sz = content[p]
            p += 1
            if sz == 0:
                return p
            p += sz

    while pos < n:
        b = content[pos]
        pos += 1
        if b == 0x3B:  # trailer before any image
            raise ValueError("gif: no image descriptor")
        if b == 0x21:  # extension: label + sub-blocks
            if pos >= n:
                raise ValueError("gif: truncated extension block")
            pos = skip_subblocks(pos + 1)
            continue
        if b != 0x2C:
            raise ValueError(f"gif: unexpected block introducer 0x{b:02x}")
        # image descriptor
        if pos + 9 > n:
            raise ValueError("gif: truncated image descriptor")
        _, _, w, h = struct.unpack_from("<HHHH", content, pos)
        ipacked = content[pos + 8]
        pos += 9
        if w <= 0 or h <= 0:
            raise ValueError(f"gif: bad image dimensions {w}x{h}")
        table = gct
        if ipacked & 0x80:  # local color table
            size = 3 * (2 << (ipacked & 0x07))
            if pos + size > n:
                raise ValueError("gif: truncated local color table")
            table = np.frombuffer(content[pos : pos + size], dtype=np.uint8).reshape(-1, 3)
            pos += size
        if table is None:
            raise ValueError("gif: image without any color table")
        if pos >= n:
            raise ValueError("gif: missing LZW minimum code size")
        min_code = content[pos]
        pos += 1
        if not 2 <= min_code <= 8:
            raise ValueError(f"gif: bad LZW minimum code size {min_code}")
        chunks = bytearray()
        while True:
            if pos >= n:
                raise ValueError("gif: truncated image data sub-blocks")
            sz = content[pos]
            pos += 1
            if sz == 0:
                break
            if pos + sz > n:
                raise ValueError("gif: truncated image data sub-block")
            chunks += content[pos : pos + sz]
            pos += sz
        idx_stream = _lzw_decode(bytes(chunks), min_code, w * h)
        if len(idx_stream) < w * h:
            raise ValueError(
                f"gif: LZW produced {len(idx_stream)} of {w * h} pixels"
            )
        idx = np.frombuffer(bytes(idx_stream[: w * h]), dtype=np.uint8).reshape(h, w)
        if int(idx.max(initial=0)) >= table.shape[0]:
            raise ValueError("gif: palette index out of range")
        if ipacked & 0x40:  # interlaced: unweave the 4 passes
            dest = np.empty_like(idx)
            dest[_gif_interlace_order(h)] = idx
            idx = dest
        return np.ascontiguousarray(table[idx])
    raise ValueError("gif: stream ended without an image")


def encode_gif(arr: np.ndarray, interlaced: bool = False) -> bytes:
    """(H, W) uint8 GRAYSCALE indices -> GIF89a with a 256-gray global
    palette. Uses the classic fixed-width LZW form: literal codes at
    9 bits with a CLEAR every 254 codes so the dictionary never
    outgrows the width — a valid (merely uncompressed) LZW stream any
    conforming decoder must accept, and one that exercises the
    clear-code reset path on every decode. ``interlaced=True`` writes
    rows in the 4-pass interlace order with the flag set."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 2:
        raise ValueError(f"encode_gif: expected (H, W) gray indices, got {a.shape}")
    h, w = a.shape
    header = b"GIF89a" + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 256 entries
    palette = bytes(v for g in range(256) for v in (g, g, g))
    rows = a[_gif_interlace_order(h)] if interlaced else a
    pixels = rows.tobytes()
    # LZW: 9-bit codes, LSB-first; CLEAR(256) then literals, re-CLEAR
    # every 254 literals, EOI(257) at the end
    bits = bytearray()
    acc = 0
    nbits = 0

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += 9
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(256)
    for i, px in enumerate(pixels):
        if i and i % 254 == 0:
            put(256)
        put(px)
    put(257)
    if nbits:
        bits.append(acc & 0xFF)
    body = bytearray()
    body.append(8)  # min code size
    for off in range(0, len(bits), 255):
        chunk = bits[off : off + 255]
        body.append(len(chunk))
        body += chunk
    body.append(0)  # sub-block terminator
    desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlaced else 0)
    return header + palette + desc + bytes(body) + b"\x3b"


def resize_nearest(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize with the exact integer floor mapping
    ``src = (dst * src_dim) // out_dim`` — deterministic, aliasing-free
    for integer downscale factors, and expressible in ANSI SQL (which
    is what gives the thumbnail pipeline a DuckDB oracle)."""
    if out_w <= 0 or out_h <= 0:
        raise ValueError(f"resize_nearest: bad target {out_w}x{out_h}")
    h, w = arr.shape[:2]
    ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
    xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return np.ascontiguousarray(arr[ys][:, xs])


def dhash64(gray: np.ndarray) -> tuple[int, int]:
    """Difference hash of an integer gray/luma plane: resize to 9x8,
    compare each pixel to its right neighbor, and return the 64 bits
    (bit i = y*8 + x) as two non-negative 32-bit halves (rows 0-3,
    rows 4-7)."""
    g = resize_nearest(gray, 9, 8)
    bits = (g[:, 1:] > g[:, :-1]).flatten()
    hi = sum(int(b) << i for i, b in enumerate(bits[:32]))
    lo = sum(int(b) << i for i, b in enumerate(bits[32:]))
    return hi, lo


pickle_by_value(__name__)
