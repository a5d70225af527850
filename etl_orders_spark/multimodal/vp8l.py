"""Pure-Python/numpy lossless-WebP (VP8L) codec.

Closes the last honestly-gated web-image-format gap the same way the
PNG and JPEG work did (codecs.py, jpeg.py): this container ships no
image library, but VP8L is a fully public, exactly-specified LOSSLESS
format — canonical prefix (Huffman) codes + LZ77 backward references
+ a color cache over ARGB pixels, plus four invertible spatial
transforms — so a from-scratch decoder is small, deterministic, and
*oracle-checkable*: losslessness means arbitrary closed-form pixel
laws round-trip bit-exactly, no quantization escape hatch needed
(WebP Lossless Bitstream Specification; RIFF container per the WebP
Container Specification).

Decoded surface (native):
- the simple lossless container (RIFF + single ``VP8L`` chunk) and
  VP8X extended containers whose image payload is a VP8L chunk;
- both prefix-code forms (simple 1/2-symbol codes and normal
  code-length-coded codes incl. the max_symbol trick), LZ77 backward
  references with the 120-entry 2D distance map, color cache,
  meta-prefix (per-tile code groups);
- all four transforms, inverse-applied in reverse read order:
  PREDICTOR (14 modes), COLOR (cross-color), SUBTRACT_GREEN,
  COLOR_INDEXING (palette, incl. sub-byte pixel bundling).

Honest gates (``NotImplementedError`` — codecs.decode_image falls
through to PIL when installed, exactly like progressive JPEG):
lossy VP8 payloads and animations (ANIM/ANMF). Torn or corrupt
streams raise ``ValueError`` (the quarantine-lane class); decoded
size is capped like the PNG/JPEG decompression-bomb guards, and every
prefix of a valid stream stays inside the controlled exception set
(the ADVICE-r8 truncation contract, enforced by a sweep test).

The encoder exists for fixtures and tests (hand-built byte vectors in
tests/test_vp8l.py pin the decoder independently of it): balanced
complete prefix codes over the used-symbol set, optional
subtract-green / fixed-predictor / fixed-cross-color / palette
transforms, optional color cache and run-length LZ77 — enough knobs
to exercise every decoder branch through round trips.

Reference parity note: the reference pipeline (manliot/ETL-orders,
dags/etl.py) has no media path at all — this module belongs to the
training-data build-out inventory (SURVEY.md §2.8), where image
decode is a first-class 100 TB pipeline stage.
"""

from __future__ import annotations

import numpy as np

from etl_orders_spark.multimodal.pickling import pickle_by_value

# decompression-bomb guard, same posture as PNG/JPEG: VP8L headers can
# declare up to 16383x16383; cap what we will allocate from a header
_MAX_PIXELS = 1 << 24  # 16M pixels ~ 64 MB of ARGB int32

# code-length-code symbol transmission order (spec section on normal
# prefix codes)
_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

_NUM_LITERALS = 256
_NUM_LENGTH_CODES = 24
_NUM_DISTANCE_CODES = 40

# The first 120 distance codes are 2D neighborhood offsets (x, y) with
# dist = y * xsize + x (clamped to >= 1); codes > 120 are linear. The
# spec's table is exactly the candidate offsets (y in 0..8, x in -8..8,
# positive-distance only) sorted by (euclidean d^2, |x|, +x before -x),
# truncated to 120 — the rule reproduces the spec table verbatim (the
# tests pin the canonical head entries), so generate it rather than
# hand-transcribe 120 pairs.
_DIST_MAP = tuple(
    sorted(
        (
            (x, y)
            for y in range(0, 9)
            for x in range(-8, 9)
            if not (y == 0 and x <= 0)
        ),
        key=lambda p: (p[0] ** 2 + p[1] ** 2, abs(p[0]), 0 if p[0] >= 0 else 1),
    )[:120]
)
assert len(_DIST_MAP) == 120 and _DIST_MAP[0] == (0, 1) and _DIST_MAP[1] == (1, 0)


class _LsbBitReader:
    """LSB-first bit reader (VP8L convention — opposite of JPEG)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # byte position
        self.bitbuf = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("vp8l: truncated bit stream")
            self.bitbuf |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.bitbuf & ((1 << n) - 1)
        self.bitbuf >>= n
        self.nbits -= n
        return v


class _Prefix:
    """Canonical prefix code: decode reads the stream bit by bit,
    extending code = (code << 1) | bit — the spec's tree walk with
    left = 0. Canonical assignment: symbols sorted by (length, symbol)
    get increasing codes, DEFLATE-style. A single-symbol code consumes
    ZERO bits per decode (the spec's degenerate tree)."""

    def __init__(self, lengths: list[int]):
        self.single: int | None = None
        self.lookup: dict[tuple[int, int], int] = {}
        used = [(ln, sym) for sym, ln in enumerate(lengths) if ln > 0]
        if not used:
            raise ValueError("vp8l: empty prefix code")
        if len(used) == 1:
            self.single = used[0][1]
            return
        if max(ln for ln, _ in used) > 15:
            raise ValueError("vp8l: code length > 15")
        # completeness (kraft == 1): an over-/under-subscribed code is
        # a corrupt stream — fail closed like libwebp's table builder
        kraft = sum(1 << (15 - ln) for ln, _ in used)
        if kraft != 1 << 15:
            raise ValueError("vp8l: incomplete prefix code")
        code = 0
        prev_len = 0
        for ln, sym in sorted(used):
            code <<= ln - prev_len
            self.lookup[(ln, code)] = sym
            code += 1
            prev_len = ln
        self.max_len = prev_len

    @classmethod
    def explicit(cls, symbols: list[int]) -> "_Prefix":
        """The simple-code form: 1 symbol (zero-bit) or 2 symbols where
        the FIRST-read symbol takes bit 0 — explicitly NOT canonical
        order (the spec assigns by transmission order here), so it
        skips the canonical build of ``__init__``."""
        p = cls.__new__(cls)
        p.single, p.lookup = None, {}
        if len(symbols) == 1:
            p.single = symbols[0]
        else:
            p.lookup = {(1, 0): symbols[0], (1, 1): symbols[1]}
            p.max_len = 1
        return p

    def decode(self, br: _LsbBitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for length in range(1, self.max_len + 1):
            code = (code << 1) | br.read(1)
            sym = self.lookup.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("vp8l: invalid prefix code in stream")


def _read_prefix_code(br: _LsbBitReader, alphabet_size: int) -> _Prefix:
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        first = br.read(8) if br.read(1) else br.read(1)
        symbols = [first]
        if num_symbols == 2:
            symbols.append(br.read(8))
        if any(s >= alphabet_size for s in symbols):
            raise ValueError("vp8l: simple-code symbol out of alphabet")
        return _Prefix.explicit(symbols)
    # normal: code lengths themselves prefix-coded
    num_cl = br.read(4) + 4
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_code = _Prefix(cl_lengths)
    if br.read(1):  # explicit max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    sym = 0
    prev_len = 8  # spec default when 16 appears before any literal
    while sym < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        cl = cl_code.decode(br)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev_len = cl
        elif cl == 16:
            rep = 3 + br.read(2)
            if sym + rep > alphabet_size:
                raise ValueError("vp8l: code-length repeat overruns alphabet")
            for _ in range(rep):
                lengths[sym] = prev_len
                sym += 1
        elif cl == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
        if sym > alphabet_size:
            raise ValueError("vp8l: code-length run overruns alphabet")
    return _Prefix(lengths)


def _prefix_lz77_decode(br: _LsbBitReader, code: int) -> int:
    """The LZ77 length/distance prefix scheme: codes 0..3 are values
    1..4; higher codes carry extra bits."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _subsample_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _decode_image_stream(
    br: _LsbBitReader, w: int, h: int, is_level0: bool
) -> tuple[list[int], int, list]:
    """Decode one entropy-coded ARGB image of w x h. Returns
    (pixels row-major, final coded width, transforms list) — the coded
    width differs from w when a color-indexing transform bundles
    pixels; transforms apply (in reverse) only at level 0."""
    transforms: list[tuple] = []
    cur_w = w
    if is_level0:
        seen: set[int] = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("vp8l: duplicate transform")
            seen.add(ttype)
            if ttype == 0 or ttype == 1:  # PREDICTOR / COLOR
                size_bits = br.read(3) + 2
                sw = _subsample_size(cur_w, size_bits)
                sh = _subsample_size(h, size_bits)
                sub, _, _ = _decode_image_stream(br, sw, sh, False)
                transforms.append((ttype, size_bits, sub, sw))
            elif ttype == 2:  # SUBTRACT_GREEN
                transforms.append((2,))
            else:  # COLOR_INDEXING
                pal_size = br.read(8) + 1
                pal_raw, _, _ = _decode_image_stream(br, pal_size, 1, False)
                # palette entries are stored component-delta-coded
                pal = [0] * pal_size
                prev = 0
                for i, p in enumerate(pal_raw):
                    cur = (
                        ((((p >> 24) + (prev >> 24)) & 0xFF) << 24)
                        | ((((p >> 16) + (prev >> 16)) & 0xFF) << 16)
                        | ((((p >> 8) + (prev >> 8)) & 0xFF) << 8)
                        | (((p & 0xFF) + (prev & 0xFF)) & 0xFF)
                    )
                    pal[i] = cur
                    prev = cur
                if pal_size <= 2:
                    width_bits = 3
                elif pal_size <= 4:
                    width_bits = 2
                elif pal_size <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append((3, width_bits, pal, cur_w))
                cur_w = _subsample_size(cur_w, width_bits)

    # color cache
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("vp8l: bad color-cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size

    # meta prefix groups (level 0 only)
    meta = None
    meta_bits = 0
    num_groups = 1
    if is_level0 and br.read(1):
        meta_bits = br.read(3) + 2
        mw = _subsample_size(cur_w, meta_bits)
        mh = _subsample_size(h, meta_bits)
        meta, _, _ = _decode_image_stream(br, mw, mh, False)
        meta = [((p >> 8) & 0xFFFF) for p in meta]  # (r << 8) | g
        num_groups = max(meta) + 1

    green_alpha = _NUM_LITERALS + _NUM_LENGTH_CODES + cache_size
    groups = []
    for _ in range(num_groups):
        groups.append(
            (
                _read_prefix_code(br, green_alpha),
                _read_prefix_code(br, _NUM_LITERALS),  # red
                _read_prefix_code(br, _NUM_LITERALS),  # blue
                _read_prefix_code(br, _NUM_LITERALS),  # alpha
                _read_prefix_code(br, _NUM_DISTANCE_CODES),
            )
        )

    npix = cur_w * h
    out = [0] * npix
    pos = 0
    mw = _subsample_size(cur_w, meta_bits) if meta is not None else 0
    while pos < npix:
        if meta is not None:
            x, y = pos % cur_w, pos // cur_w
            g = groups[meta[(y >> meta_bits) * mw + (x >> meta_bits)]]
        else:
            g = groups[0]
        s = g[0].decode(br)
        if s < _NUM_LITERALS:
            red = g[1].decode(br)
            blue = g[2].decode(br)
            alpha = g[3].decode(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[pos] = px
            pos += 1
            if cache_bits:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
        elif s < _NUM_LITERALS + _NUM_LENGTH_CODES:
            length = _prefix_lz77_decode(br, s - _NUM_LITERALS)
            dist_code = _prefix_lz77_decode(br, g[4].decode(br))
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = dy * cur_w + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > npix:
                raise ValueError("vp8l: backward reference out of range")
            for _ in range(length):
                px = out[pos - dist]
                out[pos] = px
                pos += 1
                if cache_bits:
                    cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
        else:
            idx = s - _NUM_LITERALS - _NUM_LENGTH_CODES
            out[pos] = cache[idx]
            pos += 1
    return out, cur_w, transforms


# --- inverse transforms ------------------------------------------------------


def _avg2(a: int, b: int) -> int:
    return (a + b) >> 1


def _predict(mode: int, left: int, top: int, tl: int, tr: int) -> int:
    """One predicted ARGB pixel from the 14-mode table (per channel)."""
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    chans = lambda p: ((p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)  # noqa: E731
    L, T, TL, TR = chans(left), chans(top), chans(tl), chans(tr)
    if mode == 5:
        c = [_avg2(_avg2(L[i], TR[i]), T[i]) for i in range(4)]
    elif mode == 6:
        c = [_avg2(L[i], TL[i]) for i in range(4)]
    elif mode == 7:
        c = [_avg2(L[i], T[i]) for i in range(4)]
    elif mode == 8:
        c = [_avg2(TL[i], T[i]) for i in range(4)]
    elif mode == 9:
        c = [_avg2(T[i], TR[i]) for i in range(4)]
    elif mode == 10:
        c = [_avg2(_avg2(L[i], TL[i]), _avg2(T[i], TR[i])) for i in range(4)]
    elif mode == 11:
        # Select(T, L, TL): whichever of top/left is closer to L+T-TL
        p = [L[i] + T[i] - TL[i] for i in range(4)]
        pa = sum(abs(p[i] - T[i]) for i in range(4))
        pb = sum(abs(p[i] - L[i]) for i in range(4))
        c = list(T if pa <= pb else L)
    elif mode == 12:
        c = [min(255, max(0, L[i] + T[i] - TL[i])) for i in range(4)]
    elif mode == 13:
        c = []
        for i in range(4):
            a = _avg2(L[i], T[i])
            d = a - TL[i]
            # C integer division truncates toward zero
            half = -((-d) >> 1) if d < 0 else d >> 1
            c.append(min(255, max(0, a + half)))
    else:
        raise ValueError(f"vp8l: bad predictor mode {mode}")
    return (c[0] << 24) | (c[1] << 16) | (c[2] << 8) | c[3]


def _add_pixels(residual: int, pred: int) -> int:
    return (
        ((((residual >> 24) + (pred >> 24)) & 0xFF) << 24)
        | ((((residual >> 16) + (pred >> 16)) & 0xFF) << 16)
        | ((((residual >> 8) + (pred >> 8)) & 0xFF) << 8)
        | (((residual & 0xFF) + (pred & 0xFF)) & 0xFF)
    )


def _inv_predictor(pix: list[int], w: int, h: int, bits: int, sub: list[int], sw: int) -> None:
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = pix[i - 1]  # L
            elif x == 0:
                pred = pix[i - w]  # T
            else:
                mode = (sub[(y >> bits) * sw + (x >> bits)] >> 8) & 0xFF
                if mode > 13:
                    raise ValueError(f"vp8l: bad predictor mode {mode}")
                # TR of the last column is the linear neighbor — the
                # first pixel of the CURRENT row, per libwebp's
                # flat-array indexing
                pred = _predict(mode, pix[i - 1], pix[i - w], pix[i - w - 1], pix[i - w + 1])
            pix[i] = _add_pixels(pix[i], pred)


def _ct_delta(t: int, c: int) -> int:
    """ColorTransformDelta: both args as int8, product >> 5 (arithmetic)."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _inv_color_transform(pix: list[int], w: int, h: int, bits: int, sub: list[int], sw: int) -> None:
    for y in range(h):
        for x in range(w):
            i = y * w + x
            cte = sub[(y >> bits) * sw + (x >> bits)]
            g2r = cte & 0xFF
            g2b = (cte >> 8) & 0xFF
            r2b = (cte >> 16) & 0xFF
            p = pix[i]
            g = (p >> 8) & 0xFF
            r = ((p >> 16) & 0xFF) + _ct_delta(g2r, g)
            r &= 0xFF
            b = (p & 0xFF) + _ct_delta(g2b, g) + _ct_delta(r2b, r)
            pix[i] = (p & 0xFF00FF00) | (r << 16) | (b & 0xFF)


def _inv_subtract_green(pix: list[int]) -> None:
    for i, p in enumerate(pix):
        g = (p >> 8) & 0xFF
        r = (((p >> 16) & 0xFF) + g) & 0xFF
        b = ((p & 0xFF) + g) & 0xFF
        pix[i] = (p & 0xFF00FF00) | (r << 16) | b


def _inv_color_index(
    pix: list[int], coded_w: int, h: int, width_bits: int, pal: list[int], w: int
) -> list[int]:
    out = [0] * (w * h)
    per = 1 << width_bits
    idx_bits = 8 >> width_bits
    mask = (1 << idx_bits) - 1
    for y in range(h):
        for cx in range(coded_w):
            packed = (pix[y * coded_w + cx] >> 8) & 0xFF
            for k in range(per):
                x = cx * per + k
                if x >= w:
                    break
                idx = (packed >> (k * idx_bits)) & mask
                if idx >= len(pal):
                    raise ValueError("vp8l: palette index out of range")
                out[y * w + x] = pal[idx]
    return out


def decode_vp8l(payload: bytes) -> np.ndarray:
    """Raw VP8L chunk payload -> (H, W, 3) uint8 RGB (alpha dropped).

    Fail-closed: ``ValueError`` for torn/corrupt/bomb streams."""
    if len(payload) < 5:
        raise ValueError("vp8l: truncated header")
    if payload[0] != 0x2F:
        raise ValueError("vp8l: bad signature byte")
    br = _LsbBitReader(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("vp8l: unsupported version")
    if w * h > _MAX_PIXELS:
        raise ValueError("vp8l: decoded size exceeds safety cap")
    pix, coded_w, transforms = _decode_image_stream(br, w, h, True)
    # inverse transforms, reverse read order; color-indexing restores
    # the full width first when present
    for t in reversed(transforms):
        if t[0] == 0:
            _inv_predictor(pix, coded_w, h, t[1], t[2], t[3])
        elif t[0] == 1:
            _inv_color_transform(pix, coded_w, h, t[1], t[2], t[3])
        elif t[0] == 2:
            _inv_subtract_green(pix)
        else:
            pix = _inv_color_index(pix, coded_w, h, t[1], t[2], t[3])
            coded_w = t[3]
    a = np.array(pix, dtype=np.uint32).reshape(h, w)
    rgb = np.stack(
        [(a >> 16) & 0xFF, (a >> 8) & 0xFF, a & 0xFF], axis=2
    ).astype(np.uint8)
    return rgb


def decode_webp(content: bytes) -> np.ndarray:
    """WebP container bytes -> (H, W, 3) uint8.

    Walks the RIFF chunks; decodes a VP8L payload natively (also when
    wrapped in a VP8X extended container). ``NotImplementedError`` for
    lossy VP8 and animated files (legal, PIL-decodable shapes);
    ``ValueError`` for torn/corrupt streams."""
    d = content
    if len(d) < 12 or d[:4] != b"RIFF" or d[8:12] != b"WEBP":
        raise ValueError("webp: missing RIFF/WEBP header")
    p = 12
    while p + 8 <= len(d):
        tag = d[p : p + 4]
        size = int.from_bytes(d[p + 4 : p + 8], "little")
        body = d[p + 8 : p + 8 + size]
        if len(body) < size:
            raise ValueError("webp: truncated chunk")
        if tag == b"VP8L":
            return decode_vp8l(body)
        if tag == b"VP8 ":
            raise NotImplementedError(
                "webp: lossy VP8 not decoded here (needs PIL/libwebp)"
            )
        if tag in (b"ANIM", b"ANMF"):
            raise NotImplementedError(
                "webp: animation not decoded here (needs PIL/libwebp)"
            )
        # VP8X / ICCP / EXIF / XMP / ALPH: metadata or handled via the
        # image chunk that follows — skip (chunks are even-padded)
        p += 8 + size + (size & 1)
    raise ValueError("webp: no image chunk found")


# ---------------------------------------------------------------------------
# Encoder (fixtures + tests)
# ---------------------------------------------------------------------------


class _LsbBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        """n bits of value, LSB-first (the VP8L stream convention)."""
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def write_code(self, code: int, length: int) -> None:
        """A prefix CODE is consumed MSB-first by the tree walk, so its
        bits go into the LSB-first stream from the top down."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _balanced_lengths(symbols: list[int], alphabet_size: int) -> list[int]:
    """Complete prefix-code lengths over an arbitrary used-symbol set:
    with m = |set| and L = ceil(log2 m), the first (2^L - m) symbols in
    canonical order get length L-1 and the rest L — Kraft sums to
    exactly 1 for every m >= 2."""
    syms = sorted(set(symbols))
    m = len(syms)
    if m < 2:
        raise ValueError("balanced code needs >= 2 symbols")
    L = max(1, (m - 1).bit_length())
    short = (1 << L) - m
    lengths = [0] * alphabet_size
    for i, s in enumerate(syms):
        lengths[s] = (L - 1) if i < short else L
    return lengths


def _canonical_map(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) under DEFLATE-style canonical order."""
    used = sorted((ln, sym) for sym, ln in enumerate(lengths) if ln > 0)
    out: dict[int, tuple[int, int]] = {}
    code = 0
    prev = 0
    for ln, sym in used:
        code <<= ln - prev
        out[sym] = (code, ln)
        code += 1
        prev = ln
    return out


def _write_prefix_code(bw: _LsbBitWriter, lengths: list[int]) -> dict[int, tuple[int, int]]:
    """Emit one prefix code (simple form for a single symbol, normal
    code-length-coded form otherwise); return the encode map."""
    used = [sym for sym, ln in enumerate(lengths) if ln > 0]
    if len(used) == 1:
        sym = used[0]
        bw.write(1, 1)  # simple
        bw.write(0, 1)  # one symbol
        if sym < 2:
            bw.write(0, 1)  # 1-bit symbol
            bw.write(sym, 1)
        else:
            bw.write(1, 1)  # 8-bit symbol
            bw.write(sym, 8)
        return {sym: (0, 0)}
    bw.write(0, 1)  # normal
    cl_used = sorted({0} | {lengths[s] for s in used})
    cl_lengths = _balanced_lengths(cl_used, 19)
    bw.write(19 - 4, 4)
    for i in range(19):
        bw.write(cl_lengths[_CL_ORDER[i]], 3)
    bw.write(0, 1)  # no explicit max_symbol
    cl_map = _canonical_map(cl_lengths)
    for ln in lengths:
        code, n = cl_map[ln]
        bw.write_code(code, n)
    return _canonical_map(lengths)


def _prefix_lz77_encode(value: int) -> tuple[int, int, int]:
    """value -> (prefix code, extra bit count, extra bits)."""
    if value < 1:
        raise ValueError("lz77 values start at 1")
    if value <= 4:
        return value - 1, 0, 0
    for code in range(4, 40):
        extra = (code - 2) >> 1
        base = ((2 + (code & 1)) << extra) + 1
        if base <= value < base + (1 << extra):
            return code, extra, value - base
    raise ValueError("lz77 value out of range")


def _fwd_color_transform_px(p: int, g2r: int, g2b: int, r2b: int) -> int:
    g = (p >> 8) & 0xFF
    r = (p >> 16) & 0xFF
    b = p & 0xFF
    nr = (r - _ct_delta(g2r, g)) & 0xFF
    nb = (b - _ct_delta(g2b, g) - _ct_delta(r2b, r)) & 0xFF
    return (p & 0xFF00FF00) | (nr << 16) | nb


def encode_webp_lossless(
    arr: np.ndarray,
    subtract_green: bool = False,
    cache_bits: int = 0,
    use_runs: bool = False,
    fixed_predictor: int | None = None,
    fixed_cte: tuple[int, int, int] | None = None,
    palette: bool = False,
) -> bytes:
    """(H, W, 3) uint8 -> lossless WebP bytes (RIFF + VP8L).

    A fixture/test encoder, not a compressor: balanced complete prefix
    codes over the used-symbol set, literals by default. Knobs turn on
    each decoder branch for round-trip coverage — ``subtract_green``,
    a color ``cache_bits`` (emits cache hits), ``use_runs`` (LZ77
    run-length backrefs at distance 1, linear dist codes > 120),
    ``fixed_predictor`` (one predictor mode for the whole image, a
    real predictor transform with a constant sub-image),
    ``fixed_cte`` (one cross-color element), ``palette`` (color
    indexing incl. sub-byte bundling when few distinct colors)."""
    a = np.asarray(arr)
    if a.dtype != np.uint8 or a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"encode_webp_lossless: expected uint8 (H,W,3), got {a.dtype} {a.shape}")
    h, w = a.shape[:2]
    if not (1 <= w <= 16384 and 1 <= h <= 16384):
        raise ValueError("encode_webp_lossless: dims out of range")
    pix = [
        (0xFF << 24) | (int(a[y, x, 0]) << 16) | (int(a[y, x, 1]) << 8) | int(a[y, x, 2])
        for y in range(h)
        for x in range(w)
    ]

    bw = _LsbBitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha hint
    bw.write(0, 3)  # version

    cur_w = w
    # transforms are WRITTEN in the order the decoder reads them; the
    # decoder inverse-applies in reverse, so forward transforms below
    # apply in reverse order of writing (last written = first forward)
    if fixed_predictor is not None:
        bw.write(1, 1)
        bw.write(0, 2)  # PREDICTOR
        size_bits = 2
        bw.write(size_bits - 2, 3)
        sw = _subsample_size(cur_w, size_bits)
        sh = _subsample_size(h, size_bits)
        _encode_substream(
            bw, [0xFF000000 | (fixed_predictor << 8)] * (sw * sh), sw, sh, 0, False
        )
    if fixed_cte is not None:
        g2r, g2b, r2b = fixed_cte
        bw.write(1, 1)
        bw.write(1, 2)  # COLOR
        size_bits = 2
        bw.write(size_bits - 2, 3)
        sw = _subsample_size(cur_w, size_bits)
        sh = _subsample_size(h, size_bits)
        cte_px = 0xFF000000 | ((r2b & 0xFF) << 16) | ((g2b & 0xFF) << 8) | (g2r & 0xFF)
        _encode_substream(bw, [cte_px] * (sw * sh), sw, sh, 0, False)
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)  # SUBTRACT_GREEN

    pal_entries: list[int] | None = None
    width_bits = 0
    if palette:
        if subtract_green or fixed_cte is not None or fixed_predictor is not None:
            # the palette is built from (and indexes) the original
            # pixel values; combining it with value-rewriting
            # transforms is a contradiction no real encoder emits
            raise ValueError("palette cannot combine with other pixel transforms")
        pal_entries = sorted(set(pix))
        if len(pal_entries) > 256:
            raise ValueError("palette encode needs <= 256 distinct colors")
        bw.write(1, 1)
        bw.write(3, 2)  # COLOR_INDEXING
        bw.write(len(pal_entries) - 1, 8)
        # delta-code the palette rows
        deltas = []
        prev = 0
        for p in pal_entries:
            deltas.append(
                ((((p >> 24) - (prev >> 24)) & 0xFF) << 24)
                | ((((p >> 16) - (prev >> 16)) & 0xFF) << 16)
                | ((((p >> 8) - (prev >> 8)) & 0xFF) << 8)
                | (((p & 0xFF) - (prev & 0xFF)) & 0xFF)
            )
            prev = p
        _encode_substream(bw, deltas, len(pal_entries), 1, 0, False)
    bw.write(0, 1)  # transforms done

    # Forward transforms apply in WRITE order: the decoder reads
    # [pred, cte, sg, palette] and inverse-applies in REVERSE read
    # order (palette first, predictor last), so stored =
    # palette(sg(cte(pred(orig)))). The predictor therefore sees
    # ORIGINAL pixels as its reconstructed neighbors.
    if fixed_predictor is not None:
        # residuals in scan order against the mode's prediction from
        # ORIGINAL neighbors (lossless: reconstructed == original)
        res = [0] * len(pix)
        for y in range(h):
            for x in range(cur_w):
                i = y * cur_w + x
                if x == 0 and y == 0:
                    pred = 0xFF000000
                elif y == 0:
                    pred = pix[i - 1]
                elif x == 0:
                    pred = pix[i - cur_w]
                else:
                    pred = _predict(
                        fixed_predictor,
                        pix[i - 1],
                        pix[i - cur_w],
                        pix[i - cur_w - 1],
                        pix[i - cur_w + 1],
                    )
                res[i] = (
                    ((((pix[i] >> 24) - (pred >> 24)) & 0xFF) << 24)
                    | ((((pix[i] >> 16) - (pred >> 16)) & 0xFF) << 16)
                    | ((((pix[i] >> 8) - (pred >> 8)) & 0xFF) << 8)
                    | (((pix[i] & 0xFF) - (pred & 0xFF)) & 0xFF)
                )
        pix = res
    if fixed_cte is not None:
        g2r, g2b, r2b = fixed_cte
        pix = [_fwd_color_transform_px(p, g2r, g2b, r2b) for p in pix]
    if subtract_green:
        pix = [
            (p & 0xFF00FF00)
            | (((((p >> 16) & 0xFF) - ((p >> 8) & 0xFF)) & 0xFF) << 16)
            | ((((p & 0xFF)) - ((p >> 8) & 0xFF)) & 0xFF)
            for p in pix
        ]
    if pal_entries is not None:
        lut = {p: i for i, p in enumerate(pal_entries)}
        n = len(pal_entries)
        width_bits = 3 if n <= 2 else 2 if n <= 4 else 1 if n <= 16 else 0
        per = 1 << width_bits
        idx_bits = 8 >> width_bits
        coded_w = _subsample_size(cur_w, width_bits)
        packed = [0] * (coded_w * h)
        for y in range(h):
            for cx in range(coded_w):
                b = 0
                for k in range(per):
                    x = cx * per + k
                    if x < cur_w:
                        b |= lut[pix[y * cur_w + x]] << (k * idx_bits)
                packed[y * coded_w + cx] = 0xFF000000 | (b << 8)
        pix = packed
        cur_w = coded_w

    _encode_substream(bw, pix, cur_w, h, cache_bits, use_runs, is_level0=True)

    payload = bytes([0x2F]) + bw.finish()
    if len(payload) & 1:
        chunk = payload + b"\x00"
    else:
        chunk = payload
    riff = b"WEBPVP8L" + len(payload).to_bytes(4, "little") + chunk
    return b"RIFF" + (len(riff)).to_bytes(4, "little") + riff


def _encode_substream(
    bw: _LsbBitWriter,
    pix: list[int],
    w: int,
    h: int,
    cache_bits: int,
    use_runs: bool,
    is_level0: bool = False,
) -> None:
    """One entropy-coded image body. Bit layout per the RFC 9649
    grammar: a level-0 (spatially-coded) image reads [cache info]
    [meta-prefix bit][codes][data]; a sub-image (entropy-coded image)
    reads [cache info][codes][data] — no meta bit."""
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if is_level0:
        bw.write(0, 1)  # no meta prefix image

    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size
    cache_state = [False] * cache_size

    # token stream: ("lit", px) | ("cache", idx) | ("run", length)
    tokens: list[tuple] = []
    greens: list[int] = []
    reds: list[int] = []
    blues: list[int] = []
    alphas: list[int] = []
    dists: list[int] = []
    i = 0
    n = len(pix)
    while i < n:
        px = pix[i]
        if use_runs and i > 0 and px == pix[i - 1]:
            run = 1
            while i + run < n and pix[i + run] == px and run < 4096:
                run += 1
            code, _, _ = _prefix_lz77_encode(run)
            greens.append(_NUM_LITERALS + code)
            dcode, _, _ = _prefix_lz77_encode(1 + 120)  # linear dist 1
            dists.append(dcode)
            tokens.append(("run", run))
            if cache_bits:
                idx = (0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)
                cache[idx] = px
                cache_state[idx] = True
            i += run
            continue
        if cache_bits:
            idx = (0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache_state[idx] and cache[idx] == px:
                greens.append(_NUM_LITERALS + _NUM_LENGTH_CODES + idx)
                tokens.append(("cache", idx))
                i += 1
                continue
            cache[idx] = px
            cache_state[idx] = True
        greens.append((px >> 8) & 0xFF)
        reds.append((px >> 16) & 0xFF)
        blues.append(px & 0xFF)
        alphas.append((px >> 24) & 0xFF)
        tokens.append(("lit", px))
        i += 1

    green_alpha = _NUM_LITERALS + _NUM_LENGTH_CODES + cache_size

    def lengths_for(vals: list[int], alpha_size: int) -> list[int]:
        if not vals:
            vals = [0]
        uniq = set(vals)
        if len(uniq) == 1:
            sym = vals[0]
            if sym <= 255:
                ln = [0] * alpha_size
                ln[sym] = 1  # single-symbol simple code
                return ln
            # the simple form carries at most 8-bit symbols: pad the
            # set so the normal form is used for a lone >255 symbol
            uniq.add(0)
        return _balanced_lengths(sorted(uniq), alpha_size)

    g_map = _write_prefix_code(bw, lengths_for(greens, green_alpha))
    r_map = _write_prefix_code(bw, lengths_for(reds, _NUM_LITERALS))
    b_map = _write_prefix_code(bw, lengths_for(blues, _NUM_LITERALS))
    a_map = _write_prefix_code(bw, lengths_for(alphas, _NUM_LITERALS))
    d_map = _write_prefix_code(bw, lengths_for(dists, _NUM_DISTANCE_CODES))

    def emit(m: dict, sym: int) -> None:
        code, ln = m[sym]
        if ln:
            bw.write_code(code, ln)

    for tok in tokens:
        if tok[0] == "lit":
            px = tok[1]
            emit(g_map, (px >> 8) & 0xFF)
            emit(r_map, (px >> 16) & 0xFF)
            emit(b_map, px & 0xFF)
            emit(a_map, (px >> 24) & 0xFF)
        elif tok[0] == "run":
            code, extra, ev = _prefix_lz77_encode(tok[1])
            emit(g_map, _NUM_LITERALS + code)
            if extra:
                bw.write(ev, extra)
            dcode, dex, dev = _prefix_lz77_encode(121)  # dist 1 linear
            emit(d_map, dcode)
            if dex:
                bw.write(dev, dex)
        else:  # cache
            emit(g_map, _NUM_LITERALS + _NUM_LENGTH_CODES + tok[1])


pickle_by_value(__name__)
