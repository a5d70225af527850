"""Baseline JPEG codec tests (multimodal/jpeg.py).

Strategy mirrors the PNG/GIF suites: hand-built byte vectors pin the
DECODER against the public spec independent of our encoder (marker
layout, custom DHTs, EXTEND sign semantics, IDCT law), property tests
pin the exactness contract the fixture oracles rely on (all-ones
quant + block-constant pixels round-trip bit-exactly through every
subsampling/restart shape), and structured fuzz pins fail-closed
behavior on torn/corrupt streams. An independent double-loop IDCT
(straight from the T.81 formula, no shared code with the codec's
matrix form) checks the transform itself.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from etl_orders_spark.multimodal.codecs import decode_image, sniff_format
from etl_orders_spark.multimodal.jpeg import ZIGZAG, decode_jpeg, encode_jpeg


def _idct_reference(coeff: np.ndarray) -> np.ndarray:
    """T.81 A.3.3 IDCT, straight double loop — independent of _A."""
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv * coeff[u, v]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            out[x, y] = s / 4.0
    return out


# ---------------------------------------------------------------------------
# hand-built byte vectors (decoder independent of encoder)
# ---------------------------------------------------------------------------


def _hand_jpeg(entropy: bytes, ac_two_symbols: bool = False) -> bytes:
    """Minimal 8x8 grayscale baseline JPEG with identity quant and a
    hand-sized DHT: DC symbols 0..11 all at code length 4 (code ==
    symbol), AC table either {EOB: '0'} or {EOB: '0', 0x01: '10'}."""
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb\x00\x43\x00" + b"\x01" * 64
    out += b"\xff\xc0\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11\x00"
    dc_bits = bytes([0, 0, 0, 12] + [0] * 12)
    out += b"\xff\xc4" + (2 + 1 + 16 + 12).to_bytes(2, "big") + b"\x00" + dc_bits
    out += bytes(range(12))
    if ac_two_symbols:
        ac_bits = bytes([1, 1] + [0] * 14)
        out += b"\xff\xc4" + (2 + 1 + 16 + 2).to_bytes(2, "big") + b"\x10" + ac_bits
        out += b"\x00\x01"
    else:
        ac_bits = bytes([1] + [0] * 15)
        out += b"\xff\xc4" + (2 + 1 + 16 + 1).to_bytes(2, "big") + b"\x10" + ac_bits
        out += b"\x00"
    out += b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def test_hand_built_flat_block():
    """DC diff 576 (category 10, bits 1001000000) -> flat 200.

    Entropy bits: DC sym 10 = '1010', magnitude '1001000000',
    EOB '0', pad '1' => bytes A9 01."""
    img = decode_jpeg(_hand_jpeg(bytes([0xA9, 0x01])))
    assert img.shape == (8, 8, 3)
    assert (img == 200).all()


def test_hand_built_negative_dc():
    """DC diff -576: category 10, magnitude bits -576+1023=447=
    0110111111 -> flat round(-576/8)+128 = 56.

    Bits: '1010' + '0110111111' + EOB '0' + pad '1' => A6 FD (FF
    would need stuffing; A6 FD has none)."""
    # 1010 0110 1111 11 0 1 -> bytes: 10100110 = 0xA6, 11111101 = 0xFD
    img = decode_jpeg(_hand_jpeg(bytes([0xA6, 0xFD])))
    assert (img == 56).all()


def test_hand_built_ac_coefficient_matches_reference_idct():
    """DC 576 + AC +1 at zigzag k=1 (raster (0,1)): decoder must match
    the independent double-loop IDCT exactly.

    Bits: DC '1010'+'1001000000', AC sym 0x01 '10' + magnitude '1',
    EOB '0', then 1-padding to the byte boundary (assembled below)."""
    bits = "1010" + "1001000000" + "10" + "1" + "0"
    bits += "1" * (-len(bits) % 8)
    data = int(bits, 2).to_bytes(len(bits) // 8, "big")
    img = decode_jpeg(_hand_jpeg(data, ac_two_symbols=True))
    coeff = np.zeros((8, 8))
    coeff[0, 0] = 576.0
    pos = int(ZIGZAG[1])
    coeff[pos // 8, pos % 8] = 1.0
    expect = np.clip(np.round(_idct_reference(coeff) + 128.0), 0, 255).astype(np.uint8)
    assert np.array_equal(img[:, :, 0], expect)
    assert np.array_equal(img[:, :, 1], expect)


def test_hand_built_16bit_dqt_precision():
    """Pq=1 (16-bit) quant entries parse and scale: DC quant 257
    with stored DC 2 -> flat round(514/8)+128 = 192."""
    out = bytearray(b"\xff\xd8")
    body = bytearray(b"\x10")  # Pq=1, Tq=0
    body += (257).to_bytes(2, "big") + b"\x00\x01" * 63
    out += b"\xff\xdb" + (2 + len(body)).to_bytes(2, "big") + body
    out += b"\xff\xc0\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11\x00"
    dc_bits = bytes([0, 0, 0, 12] + [0] * 12)
    out += b"\xff\xc4" + (31).to_bytes(2, "big") + b"\x00" + dc_bits + bytes(range(12))
    out += b"\xff\xc4" + (20).to_bytes(2, "big") + b"\x10" + bytes([1] + [0] * 15) + b"\x00"
    out += b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
    # DC diff 2: category 2 code '0010', magnitude '10', EOB '0', pad
    bits = "0010" + "10" + "0"
    bits += "1" * (-len(bits) % 8)
    out += int(bits, 2).to_bytes(1, "big")
    out += b"\xff\xd9"
    img = decode_jpeg(bytes(out))
    assert (img == round(514 / 8) + 128).all()


def test_byte_stuffing_in_entropy_stream():
    """A DC value whose code bits produce a 0xFF byte must be stuffed
    by the encoder and unstuffed by the decoder: round-trip a flat
    block at every value 0..255 (some hit stuffing)."""
    hit = 0
    for v in range(0, 256, 7):
        img = np.full((8, 8), v, np.uint8)
        data = encode_jpeg(img)
        if b"\xff\x00" in data[data.find(b"\xff\xda") :]:
            hit += 1
        out = decode_jpeg(data)
        assert (out[:, :, 0] == v).all(), v
    assert hit > 0  # the sweep actually exercised unstuffing


# ---------------------------------------------------------------------------
# exactness contract (what the fixture oracles rely on)
# ---------------------------------------------------------------------------


@settings(max_examples=30, deadline=None)
@given(
    bw=st.integers(1, 4),
    bh=st.integers(1, 3),
    seed=st.integers(0, 2**31 - 1),
    sub=st.sampled_from(["444", "422", "420"]),
    ri=st.sampled_from([0, 1, 3]),
)
def test_flat_blocks_roundtrip_exact(bw, bh, seed, sub, ri):
    """All-ones quant + block-constant pixels: bit-exact through every
    subsampling and restart shape (the oracle exactness law)."""
    rng = np.random.default_rng(seed)
    h, w = bh * 8, bw * 8
    y = np.repeat(np.repeat(rng.integers(0, 256, (bh, bw)), 8, 0), 8, 1).astype(np.uint8)
    gray = decode_jpeg(encode_jpeg(y, restart_interval=ri))
    assert (gray[:, :, 0] == y).all() and (gray[:, :, 2] == y).all()
    img = np.stack([y, np.full((h, w), 144, np.uint8), np.full((h, w), 112, np.uint8)], 2)
    out = decode_jpeg(encode_jpeg(img, subsampling=sub, restart_interval=ri, color_input="ycbcr"))
    yy = y.astype(np.int64)
    assert (out[:, :, 0] == np.clip(yy - 22, 0, 255)).all()
    assert (out[:, :, 1] == np.clip(yy + 6, 0, 255)).all()
    assert (out[:, :, 2] == np.clip(yy + 28, 0, 255)).all()


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(8, 40),
    h=st.integers(8, 40),
    seed=st.integers(0, 2**31 - 1),
)
# rounding alone put the lone corner pixel of the edge-padded bottom-right
# block two counts off here, before the encoder stepped such blocks back
@example(w=10, h=10, seed=26)
def test_random_gray_identity_quant_near_exact(w, h, seed):
    """Arbitrary content, identity quant: FDCT rounding is the only
    loss, and the encoder steps coefficients until every sample is
    within 1 count."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img))
    assert out.shape == (h, w, 3)
    assert np.abs(out[:, :, 0].astype(int) - img.astype(int)).max() <= 1


def test_quantized_roundtrip_bounded():
    """Real (non-identity) quant tables stay sane: flat 16s tables
    bound the per-sample error by the dequant step's reach."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (24, 24)).astype(np.uint8)
    q = (np.full(64, 16, np.int64), np.full(64, 16, np.int64))
    out = decode_jpeg(encode_jpeg(img, quant=q))
    err = np.abs(out[:, :, 0].astype(int) - img.astype(int))
    assert err.mean() < 16 and err.max() < 128


def test_odd_dims_and_subsampling_crop():
    """Non-MCU-aligned dims crop correctly for every subsampling."""
    rng = np.random.default_rng(4)
    for h, w in [(9, 17), (23, 31), (8, 9), (17, 8)]:
        for sub in ["444", "422", "420"]:
            y = rng.integers(0, 256, (h, w)).astype(np.uint8)
            img = np.stack(
                [y, np.full((h, w), 140, np.uint8), np.full((h, w), 120, np.uint8)], 2
            )
            out = decode_jpeg(encode_jpeg(img, subsampling=sub, color_input="ycbcr"))
            assert out.shape == (h, w, 3)


def test_rgb_forward_convert_roundtrip_close():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 4


# ---------------------------------------------------------------------------
# gates + fail-closed
# ---------------------------------------------------------------------------


def _valid_small() -> bytes:
    y = np.repeat(np.repeat(np.arange(6).reshape(2, 3) * 40, 8, 0), 8, 1).astype(np.uint8)
    return encode_jpeg(y)


def test_honest_gates():
    base = bytearray(_valid_small())
    i = bytes(base).find(b"\xff\xc0")
    # SOF2 no longer gates (decoded natively since round 10) — but a
    # marker-flipped BASELINE stream is an INVALID progressive one
    # (its single scan spans Ss=0..Se=63, which T.81 forbids for
    # SOF2), so it must fail closed, not decode garbage
    prog = bytearray(base)
    prog[i + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive scan"):
        decode_jpeg(bytes(prog))
    arith = bytearray(base)
    arith[i + 1] = 0xC9
    with pytest.raises(NotImplementedError, match="non-baseline"):
        decode_jpeg(bytes(arith))
    deep = bytearray(base)
    deep[i + 4] = 12  # precision byte
    with pytest.raises(NotImplementedError, match="12-bit"):
        decode_jpeg(bytes(deep))
    samp = bytearray(base)
    samp[i + 11] = 0x31  # 3x1 sampling
    with pytest.raises(NotImplementedError, match="sampling factor"):
        decode_jpeg(bytes(samp))


def test_fail_closed():
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x01")
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xd9")  # EOI before SOS
    good = _valid_small()
    with pytest.raises(ValueError):
        decode_jpeg(good[:-12])  # truncated entropy data
    bomb = bytearray(good)
    i = bytes(bomb).find(b"\xff\xc0")
    bomb[i + 5 : i + 9] = b"\xff\xff\xff\xff"  # 65535 x 65535
    with pytest.raises(ValueError, match="cap"):
        decode_jpeg(bytes(bomb))
    zeroq = bytearray(good)
    j = bytes(zeroq).find(b"\xff\xdb")
    zeroq[j + 5] = 0  # first quant entry 0
    with pytest.raises(ValueError, match="quantization"):
        decode_jpeg(bytes(zeroq))


@settings(max_examples=120, deadline=None)
@given(idx=st.integers(0, 4095), val=st.integers(0, 255))
def test_single_byte_mutations_fail_controlled(idx, val):
    """Bit-rot fuzz: JPEG carries no CRC, so a mutation may still
    decode (to different pixels) — but it must NEVER escape the
    controlled exception set or hang."""
    data = bytearray(_valid_small())
    if idx >= len(data):
        idx %= len(data)
    if data[idx] == val:
        val = (val + 1) & 0xFF
    data[idx] = val
    try:
        out = decode_jpeg(bytes(data))
        assert out.dtype == np.uint8 and out.ndim == 3
    except (ValueError, NotImplementedError):
        pass


def _sweep_prefixes(good: bytes, full_shape: tuple) -> None:
    """EVERY prefix must either raise the quarantine-lane exception
    set (never IndexError/struct.error) or — only when the cut falls
    inside/after the trailing EOI, i.e. all entropy data is present —
    decode to the full image (libjpeg's missing-EOI leniency)."""
    for n in range(len(good)):
        try:
            out = decode_jpeg(good[:n])
        except (ValueError, NotImplementedError):
            continue
        assert n >= len(good) - 2, f"prefix {n} decoded with entropy data missing"
        assert out.shape == full_shape


def test_truncation_sweep_fail_closed():
    """ADVICE r8: the single-byte fuzz only mutates well-formed
    streams, so truncated segment bodies were untested before this
    sweep."""
    good = _valid_small()
    _sweep_prefixes(good, decode_jpeg(good).shape)


def test_truncation_sweep_color_subsampled():
    """Same sweep over a color 4:2:0 + restart-interval stream, which
    exercises the multi-table DQT/DHT and SOS component-spec parsers
    the grayscale fixture doesn't reach."""
    rgb = np.full((16, 24, 3), 90, dtype=np.uint8)
    good = encode_jpeg(rgb, subsampling="420", restart_interval=1)
    assert decode_jpeg(good).shape == (16, 24, 3)
    _sweep_prefixes(good, (16, 24, 3))


def test_legal_but_unsupported_routes_not_implemented():
    """ADVICE r8: legal-per-T.81 shapes the native path doesn't cover
    must raise NotImplementedError (so decode_image can fall through
    to PIL when installed), not the corrupt-stream ValueError."""
    base = bytearray(_valid_small())
    i = bytes(base).find(b"\xff\xc0")
    two = bytearray(base)
    two[i + 9] = 2  # component count
    with pytest.raises(NotImplementedError, match="2-component"):
        decode_jpeg(bytes(two))
    # splice a DNL / DAC segment before SOF: both are legal markers
    for marker, word in ((0xDC, "DNL"), (0xCC, "arithmetic")):
        spliced = bytes(base[:i]) + bytes([0xFF, marker, 0x00, 0x04, 0x00, 0x10]) + bytes(
            base[i:]
        )
        with pytest.raises(NotImplementedError, match=word):
            decode_jpeg(spliced)


def test_router_integration():
    """decode_image routes JPEG natively and sniffs the format."""
    data = _valid_small()
    assert sniff_format(data) == "jpeg"
    img = decode_image(data)
    assert img.shape == (16, 24, 3)
    assert (img[0:8, 0:8, 0] == 0).all() and (img[8:16, 0:8, 0] == 120).all()


def test_hand_built_420_mcu_vector():
    """Hand-assembled 16x16 YCbCr 4:2:0 image — ONE interleaved MCU:
    four flat luma blocks (values 64/128/192/32 by quadrant) + flat
    Cb=144 / Cr=112, identity quant, hand-sized DHTs (DC symbol ==
    its 4-bit code for both table ids, AC = EOB-only). Pins the MCU
    block order (Y row-major 2x2, then Cb, then Cr), PER-COMPONENT
    DC predictors, and the 2x2 chroma replication upsample straight
    from the spec, independent of our encoder."""
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb\x00\x43\x00" + b"\x01" * 64  # luma quant, all ones
    out += b"\xff\xdb\x00\x43\x01" + b"\x01" * 64  # chroma quant
    # SOF0: 8-bit, 16x16, 3 comps: Y 2x2 tq0, Cb 1x1 tq1, Cr 1x1 tq1
    out += b"\xff\xc0\x00\x11\x08\x00\x10\x00\x10\x03"
    out += b"\x01\x22\x00" + b"\x02\x11\x01" + b"\x03\x11\x01"
    dc_bits = bytes([0, 0, 0, 12] + [0] * 12)
    for tid in (0x00, 0x01):  # DC tables id 0 and 1, same shape
        out += b"\xff\xc4" + (31).to_bytes(2, "big") + bytes([tid]) + dc_bits
        out += bytes(range(12))
    for tid in (0x10, 0x11):  # AC tables: EOB at code '0'
        out += b"\xff\xc4" + (20).to_bytes(2, "big") + bytes([tid])
        out += bytes([1] + [0] * 15) + b"\x00"
    out += b"\xff\xda\x00\x0c\x03\x01\x00\x02\x11\x03\x11\x00\x3f\x00"

    def dc_bits_for(diff: int) -> str:
        t = abs(diff).bit_length()
        mag = diff if diff >= 0 else diff + (1 << t) - 1
        return format(t, "04b") + (format(mag, f"0{t}b") if t else "")

    # quadrant Y values 64/128/192/32 -> DC 8*(v-128); diffs vs pred
    bits = ""
    pred = 0
    for v in (64, 128, 192, 32):
        dc = 8 * (v - 128)
        bits += dc_bits_for(dc - pred) + "0"  # DC then EOB
        pred = dc
    for dc in (8 * (144 - 128), 8 * (112 - 128)):  # Cb then Cr, fresh preds
        bits += dc_bits_for(dc - 0) + "0"
    bits += "1" * (-len(bits) % 8)
    data = int(bits, 2).to_bytes(len(bits) // 8, "big")
    # stuff any 0xFF bytes (none expected for these values, but keep
    # the vector honest if constants change)
    stuffed = bytearray()
    for byte in data:
        stuffed.append(byte)
        if byte == 0xFF:
            stuffed.append(0x00)
    out += stuffed + b"\xff\xd9"

    img = decode_jpeg(bytes(out))
    assert img.shape == (16, 16, 3)
    quad = {(0, 0): 64, (0, 1): 128, (1, 0): 192, (1, 1): 32}
    for (qy, qx), y in quad.items():
        block = img[qy * 8 : qy * 8 + 8, qx * 8 : qx * 8 + 8]
        assert (block[:, :, 0] == max(0, y - 22)).all(), (qy, qx, "r")
        assert (block[:, :, 1] == min(255, y + 6)).all(), (qy, qx, "g")
        assert (block[:, :, 2] == min(255, y + 28)).all(), (qy, qx, "b")


def _hand_jpeg_coeffs(coeffs_zz: "np.ndarray") -> bytes:
    """Assemble a single-block grayscale JPEG for an ARBITRARY zigzag
    coefficient vector, with a test-local entropy encoder that shares
    NOTHING with encode_jpeg: DC symbols 0..11 at code length 4
    (code == symbol), every AC (run, size) symbol used by this block
    (plus ZRL) at code length 8 (code == index into the sorted symbol
    list). Exercises general run-lengths, ZRL and EOB paths."""
    ac_syms = set()
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if coeffs_zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = int(coeffs_zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            ac_syms.add(0xF0)
            run -= 16
        ac_syms.add((run << 4) | int(abs(v)).bit_length())
        run = 0
    if last_nz != 63:
        ac_syms.add(0x00)
    ac_list = sorted(ac_syms)
    assert len(ac_list) < 255
    ac_code = {s: i for i, s in enumerate(ac_list)}

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb\x00\x43\x00" + b"\x01" * 64
    out += b"\xff\xc0\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11\x00"
    out += b"\xff\xc4" + (31).to_bytes(2, "big") + b"\x00"
    out += bytes([0, 0, 0, 12] + [0] * 12) + bytes(range(12))
    ac_bits = [0] * 16
    ac_bits[7] = len(ac_list)  # all AC codes at length 8
    out += b"\xff\xc4" + (2 + 1 + 16 + len(ac_list)).to_bytes(2, "big") + b"\x10"
    out += bytes(ac_bits) + bytes(ac_list)
    out += b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"

    bits = ""

    def put(v: int, n: int) -> None:
        nonlocal bits
        bits += format(v, f"0{n}b") if n else ""

    dc = int(coeffs_zz[0])
    t = abs(dc).bit_length()
    put(t, 4)
    put(dc if dc >= 0 else dc + (1 << t) - 1, t)
    run = 0
    for k in range(1, last_nz + 1):
        v = int(coeffs_zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            put(ac_code[0xF0], 8)
            run -= 16
        s = int(abs(v)).bit_length()
        put(ac_code[(run << 4) | s], 8)
        put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz != 63:
        put(ac_code[0x00], 8)
    bits += "1" * (-len(bits) % 8)
    data = int(bits, 2).to_bytes(len(bits) // 8, "big")
    stuffed = bytearray()
    for byte in data:
        stuffed.append(byte)
        if byte == 0xFF:
            stuffed.append(0x00)
    out += stuffed + b"\xff\xd9"
    return bytes(out)


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), density=st.integers(1, 12))
def test_arbitrary_coefficient_blocks_match_reference_idct(seed, density):
    """Differential fuzz, decoder vs the independent double-loop IDCT:
    random sparse zigzag coefficient vectors (random runs — including
    >15-zero gaps that force ZRL — random signs/magnitudes) are
    hand-assembled into JPEG bytes by the test-local encoder and must
    decode to EXACTLY round(IDCT)+128 clipped. Generalizes the fixed
    vectors to the whole baseline entropy surface."""
    rng = np.random.default_rng(seed)
    zz = np.zeros(64, dtype=np.int64)
    zz[0] = int(rng.integers(-900, 900))
    for _ in range(density):
        k = int(rng.integers(1, 64))
        zz[k] = int(rng.integers(-255, 256)) or 1
    img = decode_jpeg(_hand_jpeg_coeffs(zz))
    coeff = np.zeros((8, 8))
    for k in range(64):
        pos = int(ZIGZAG[k])
        coeff[pos // 8, pos % 8] = float(zz[k])
    raw = _idct_reference(coeff) + 128.0
    expect = np.clip(np.round(raw), 0, 255).astype(np.uint8)
    # the matrix IDCT and the double-loop reference sum in different
    # orders; a sample landing within an ulp of an exact .5 boundary
    # can legitimately round either way (hypothesis found dc=871,
    # k10=-123 -> 221.5 vs 221.49999999999997). Exact equality is
    # required everywhere EXCEPT those boundary samples, where a
    # 1-unit difference is the correct rounding of the other engine's
    # equally-valid double.
    got = img[:, :, 0].astype(np.int64)
    exp = expect.astype(np.int64)
    frac_is_half = np.abs(np.abs(raw - np.floor(raw)) - 0.5) < 1e-9
    diff = np.abs(got - exp)
    assert ((diff == 0) | (frac_is_half & (diff <= 1))).all(), (
        zz.tolist(), raw[diff > 0], got[diff > 0], exp[diff > 0]
    )
