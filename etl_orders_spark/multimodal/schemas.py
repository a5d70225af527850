"""Media table schema + deterministic synthetic generator.

The meta struct is the queryable surface: partition/filter/join on
kind + format + dimensions without ever touching content bytes.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# top-level (not lazy inside the generator bodies): those run on
# WORKERS via the _media_rows row body, where the package is not
# importable — the module-level bindings let cloudpickle's by-value
# registration carry the codec modules along with this one
from etl_orders_spark.multimodal.codecs import (
    encode_bmp,
    encode_gif,
    encode_pgm,
    encode_png,
    encode_png_subbyte,
    encode_ppm,
    encode_wav,
    encode_wav_adpcm_mono,
    encode_wav_mulaw,
    encode_y4m,
)
from etl_orders_spark.multimodal.jpeg import encode_jpeg as _encode_jpeg
from etl_orders_spark.multimodal.jpeg import (
    encode_jpeg_progressive as _encode_jpeg_progressive,
)
from etl_orders_spark.multimodal.pickling import pickle_by_value
from etl_orders_spark.multimodal.vp8l import encode_webp_lossless
from etl_orders_spark.operators.grouped_map import map_rows

MEDIA_META = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)

# Per-task row target for the Python-encoder generators. spark.range's
# default (one partition per core) hands each mapInPandas task only
# 3-4 rows at the fixture sizes, so Python-worker round-trip overhead
# dominates the stage (measured at sf-fixture n=100: 0.64 s at 32
# partitions vs 0.29 s at 8 — the encode work itself is milliseconds
# per row). Sizing partitions to ~this many rows each, capped by the
# session's parallelism so big n still fans out to every core, keeps
# the generators scale-adaptive instead of core-count-shaped.
_GEN_ROWS_PER_TASK = 12


def _gen_range(spark: SparkSession, start: int, n: int) -> DataFrame:
    parts = max(1, min(spark.sparkContext.defaultParallelism,
                       -(-n // _GEN_ROWS_PER_TASK)))
    return spark.range(start, start + n, numPartitions=parts)


def _media_rows(
    spark: SparkSession,
    start: int,
    n: int,
    kind: str,
    row_for: Callable[[int], tuple],
) -> DataFrame:
    """``kind`` rows for ids [start, start + n) from ``row_for(mid) ->
    (content, format, width, height, sample_rate, duration_ms)``, built
    per partition (a pure function of the id, so the output is
    partition-invariant)."""
    fields = MEDIA_META.names

    def row(mid):
        content, *meta = row_for(int(mid))
        return [(int(mid), kind, content, dict(zip(fields, meta)))]

    return map_rows(_gen_range(spark, start, n), row, MEDIA_SCHEMA)


_KINDS = ("image", "audio", "video")
_FORMATS = {"image": "png", "audio": "wav", "video": "mp4"}


_PAYLOAD_BYTES = 256


def gen_media(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic synthetic media rows: content = _PAYLOAD_BYTES of
    repeated sha2 of the id (opaque but reproducible bytes), metadata
    consistent with the kind. Pure Spark plan — scales like any range
    source."""
    # one shared cycling index: kind and format MUST stay consistent
    # per row, so format indexes with the same expression, never a copy
    kind_idx = (F.col("id") % 3 + 1).cast("int")
    kind = F.element_at(F.array(*[F.lit(k) for k in _KINDS]), kind_idx)
    payload_hex = F.concat(
        *[F.sha2(F.concat(F.col("id").cast("string"), F.lit(f"|{i}")), 256) for i in range((_PAYLOAD_BYTES + 31) // 32)]
    )
    meta = F.struct(
        F.element_at(
            F.array(*[F.lit(_FORMATS[k]) for k in _KINDS]), kind_idx
        ).alias("format"),
        F.when(kind == "audio", F.lit(None).cast("int"))
        .otherwise((F.col("id") % 4 * 160 + 320).cast("int"))
        .alias("width"),
        F.when(kind == "audio", F.lit(None).cast("int"))
        .otherwise((F.col("id") % 4 * 90 + 240).cast("int"))
        .alias("height"),
        F.when(kind == "audio", F.lit(16000).cast("int")).otherwise(F.lit(None).cast("int")).alias(
            "sample_rate"
        ),
        F.when(kind == "image", F.lit(None).cast("long"))
        .otherwise((F.col("id") % 30 * 1000 + 1000).cast("long"))
        .alias("duration_ms"),
    )
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        kind.alias("kind"),
        F.unhex(F.substring(payload_hex, 1, _PAYLOAD_BYTES * 2)).alias("content"),
        meta.alias("meta"),
    )


_PIXEL_FORMATS = ("ppm", "pgm", "bmp")


def pixel_media_dims(media_id: int) -> tuple[int, int]:
    """The generator's width/height law, importable so tests and the
    SQL oracle derivation share one definition: w in 16..31, h in
    12..19, both pure functions of the id (and always landscape)."""
    return 16 + media_id % 16, 12 + media_id % 8


def _pixel_law(mid: int) -> tuple[np.ndarray, int, int]:
    """(v, w, h): v = (7*id + 3*x + 5*y) % 256 as int64 over the
    pixel_media_dims grid (rows y, columns x)."""
    w, h = pixel_media_dims(mid)
    y = np.arange(h, dtype=np.int64)[:, None]
    x = np.arange(w, dtype=np.int64)[None, :]
    return (7 * mid + 3 * x + 5 * y) % 256, w, h


def _law_rgb(v: np.ndarray) -> np.ndarray:
    """The distinct-channel RGB form of a pixel law v in 0..255."""
    return np.stack([v, (v + 85) % 256, (v + 170) % 256], axis=-1).astype(np.uint8)


def gen_pixel_media(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic DECODABLE media rows: real encoded images rotating
    through the three pure-Python containers (PPM / PGM / BMP,
    multimodal/codecs.py), with every pixel a closed-form function of
    (media_id, x, y):

        v = (7*id + 3*x + 5*y) % 256
        RGB formats: r = v, g = (v+85) % 256, b = (v+170) % 256
        PGM: gray v (decodes to r = g = b = v)

    The law is trivially mirrorable in ANSI SQL (generate_series over
    x/y), which is what lets the decode -> resize -> feature queries
    carry full DuckDB value-hash oracles. Channels are deliberately
    DISTINCT in the RGB formats so a BGR/RGB swap in the BMP decoder
    cannot hide.

    Content bytes are built per partition in an Arrow-batched
    mapInPandas (pure function of the id, so the output is partition-
    invariant); the codecs module pickles by value, so this runs on
    bare-session workers."""

    def row_for(mid: int) -> tuple:
        v, w, h = _pixel_law(mid)
        fmt = _PIXEL_FORMATS[mid % 3]
        if fmt == "pgm":
            content = encode_pgm(v.astype(np.uint8))
        else:
            content = (encode_ppm if fmt == "ppm" else encode_bmp)(_law_rgb(v))
        return content, fmt, w, h, None, None

    return _media_rows(spark, 0, n, "image", row_for)


WAV_RATE = 16000  # fixed sample rate shared with the SQL oracle


def gen_wav_media(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic REAL 16-bit PCM WAV rows: every sample is a
    closed-form function of (media_id, t) —

        n_samples(id) = 800 + (id % 8) * 100   (mono, 16 kHz)
        s(id, t) = (((id*1009 + t*2399) * 2654435761 mod 2^32)
                     >> 16) - 32768             (full int16 range)

    — so the DuckDB oracle re-derives every sample with
    generate_series, and a value-hash match on the audio features
    certifies the RIFF chunk walk, PCM decode, and the integer
    feature arithmetic end to end."""

    def row_for(mid: int) -> tuple:
        ns = 800 + (mid % 8) * 100
        t = np.arange(ns, dtype=np.int64)
        s = ((((mid * 1009 + t * 2399) * 2654435761) % (2**32)) >> 16) - 32768
        content = encode_wav(s.astype(np.int16), WAV_RATE)
        return content, "wav", None, None, WAV_RATE, ns * 1000 // WAV_RATE

    return _media_rows(spark, 0, n, "audio", row_for)


Y4M_W, Y4M_H, Y4M_FPS = 16, 12, 10  # fixed geometry shared with the SQL oracle


N_Y4M = 60  # video fixture rows


def gen_y4m_media(spark: SparkSession) -> DataFrame:
    """Deterministic REAL uncompressed video rows (YUV4MPEG2, mono
    luma): every luma sample is a closed-form function of
    (media_id, frame, x, y) —

        n_frames(id) = 4 + id % 5        (16x12 @ 10 fps)
        v(id, f, x, y) = ((id*53 + f*17 + x*37 + y*101)
                           * 2654435761 mod 2^32) >> 24

    — so the DuckDB oracle re-derives every sampled frame's pixels
    with generate_series and a value-hash match certifies the stream
    parse (header tokens, FRAME markers, plane sizes) plus the
    per-frame feature arithmetic."""

    def row_for(mid: int) -> tuple:
        nf = 4 + mid % 5
        f = np.arange(nf, dtype=np.int64)[:, None, None]
        y = np.arange(Y4M_H, dtype=np.int64)[None, :, None]
        x = np.arange(Y4M_W, dtype=np.int64)[None, None, :]
        v = (((mid * 53 + f * 17 + x * 37 + y * 101) * 2654435761) % (2**32)) >> 24
        content = encode_y4m(v.astype(np.uint8), (Y4M_FPS, 1))
        return content, "y4m", Y4M_W, Y4M_H, None, nf * 1000 // Y4M_FPS

    return _media_rows(spark, 0, N_Y4M, "video", row_for)


NOISE_W, NOISE_H = 32, 24  # fixed dims shared with the SQL oracle
NOISE_CLONE_EVERY = 5  # id % 5 == 4 clones id-1 with one perturbed pixel


def gen_noise_media(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic 'noisy' gray images for perceptual-hash tests: a
    multiplicative-hash pixel law makes neighbor comparisons behave
    like coin flips (so distinct images sit ~32 bits apart in dHash
    space), and every id with id % 5 == 4 is a PLANTED CLONE of id-1
    with exactly one source pixel perturbed (so true near-dups sit at
    hamming <= 1). All three channels equal (gray):

        base = id - 1 if id % 5 == 4 else id
        v(base, x, y) = ((base*73 + x*37 + y*101) * 2654435761
                          mod 2^32) >> 24
        clone perturbation: pixel (0, 0) -> (v + 128) % 256

    Exact 64-bit integer arithmetic, closed form — the DuckDB oracle
    re-derives every pixel (and therefore every dHash bit) from this
    law. Fixed 32x24 PPM payloads."""

    def row_for(mid: int) -> tuple:
        base = mid - 1 if mid % NOISE_CLONE_EVERY == NOISE_CLONE_EVERY - 1 else mid
        y = np.arange(NOISE_H, dtype=np.int64)[:, None]
        x = np.arange(NOISE_W, dtype=np.int64)[None, :]
        v = (((base * 73 + x * 37 + y * 101) * 2654435761) % (2**32)) >> 24
        v = v.astype(np.int64)
        if base != mid:  # planted clone: one perturbed pixel
            v[0, 0] = (v[0, 0] + 128) % 256
        g = v.astype(np.uint8)
        content = encode_ppm(np.repeat(g[:, :, None], 3, axis=2))
        return content, "ppm", NOISE_W, NOISE_H, None, None

    return _media_rows(spark, 0, n, "image", row_for)

N_PNG = 100  # PNG fixture rows


def gen_png_media(spark: SparkSession, start: int = 0) -> DataFrame:
    """Deterministic REAL PNG rows: the gen_pixel_media RGB law

        v = (7*id + 3*x + 5*y) % 256
        r = q, g = (q+85) % 256, b = (q+170) % 256

    where q = v for whole-byte shapes and a QUANTIZED v at sub-byte
    depths (below), encoded with the row filter CYCLING through all
    five scanline filter types and the SHAPE cycling through the FULL
    legal decode matrix by ``media_id % 9``:

        0 = 8-bit truecolor plain        1 = 16-bit truecolor plain
        2 = 8-bit truecolor Adam7        3 = 16-bit truecolor Adam7
        4 = 4-bit palette plain          5 = 2-bit palette plain
        6 = 1-bit palette plain          7 = 4-bit palette Adam7
        8 = 2-bit GRAYSCALE plain (VERDICT r7 #4)

    16-bit samples encode as v*257 so the high-byte strip returns v.
    Sub-byte PALETTE shapes store index s = v % 2^depth with palette
    entry s -> (s*k, (s*k+85)%256, (s*k+170)%256), k = 255/(2^depth-1)
    (17/85/255) — i.e. q = (v % 2^depth) * k, a closed form the DuckDB
    oracle mirrors with one CASE. The sub-byte GRAY shape stores the
    same s with NO palette (color type 0): the decoder's
    bit-replication scale yields r = g = b = s*85, certifying the
    ``color == 0`` expansion branch against the law rather than only
    unit vectors. Channels stay deliberately DISTINCT in every palette
    shape so an index/channel mixup cannot hide (the gray shape is the
    one place equal channels are themselves the law). A value-hash
    match therefore certifies DEFLATE round-tripping, chunk CRC
    handling, every unfilter branch, the 7-pass unweave (including
    per-pass sub-byte bit-packing), 16-bit byte-distance filter
    semantics, AND the MSB-first bit-unpack + PLTE lookup / gray
    bit-replication against the closed form, with no shared code path
    between the derivations.
    Same dims law as gen_pixel_media (w 16..31, h 12..19); ``start``
    offsets the id range so a consumer can pool this family with
    others without key collisions."""

    def row_for(mid: int) -> tuple:
        v, w, h = _pixel_law(mid)
        shape = mid % 9
        if shape >= 4:
            depth = {4: 4, 5: 2, 6: 1, 7: 4, 8: 2}[shape]
            nc = 1 << depth
            k = 255 // (nc - 1)
            s = (v % nc).astype(np.uint8)
            if shape == 8:  # sub-byte grayscale: no PLTE, color 0
                png = encode_png_subbyte(s, depth)
            else:
                pal = _law_rgb(np.arange(nc, dtype=np.int64) * k)
                png = encode_png_subbyte(
                    s, depth, palette=pal, interlace=1 if shape == 7 else 0
                )
        else:
            depth = 16 if shape in (1, 3) else 8
            interlace = 1 if shape in (2, 3) else 0
            png = encode_png(_law_rgb(v), depth=depth, interlace=interlace)
        return png, "png", w, h, None, None

    return _media_rows(spark, start, N_PNG, "image", row_for)


def jpeg_media_bytes(mid: int) -> tuple[bytes, int, int]:
    """The gen_jpeg_media fixture law for ONE id: (jpeg bytes, w, h).
    Module-level so the in-memory generator and the file-staging
    binaryFile ingest lane (plans/media_queries.py) serve IDENTICAL
    bytes from one definition."""
    encode_jpeg = _encode_jpeg  # module-top import; see header comment

    w, h = 16 + 8 * (mid % 3), 8 + 8 * (mid % 2)
    bx = np.arange(w // 8, dtype=np.int64)[None, :]
    by = np.arange(h // 8, dtype=np.int64)[:, None]
    v = (7 * mid + 3 * bx + 5 * by) % 256
    y = np.repeat(np.repeat(v, 8, axis=0), 8, axis=1).astype(np.uint8)
    shape = mid % 4
    if shape in (0, 3):
        return encode_jpeg(y, restart_interval=2 if shape == 3 else 0), w, h
    ycc = np.stack(
        [y, np.full((h, w), 144, np.uint8), np.full((h, w), 112, np.uint8)],
        axis=2,
    )
    sub = "444" if shape == 1 else "420"
    return encode_jpeg(ycc, subsampling=sub, color_input="ycbcr"), w, h


# blank-image fixture ids
FLAT_ID_START, N_FLAT = 5000, 10


def gen_flat_media(spark: SparkSession) -> DataFrame:
    """Deterministic BLANK images for quality-gate fixtures: flat gray
    PPMs (every pixel c = (id * 37) % 256, 32x24) whose pixel variance
    is exactly zero — the degenerate scrape artifacts a media-prep
    pipeline must drop before perceptual dedup (flat images all dHash
    to 0 and would otherwise flood the band join with phantom
    near-dup pairs)."""

    def row_for(mid: int) -> tuple:
        g = np.full((NOISE_H, NOISE_W), (mid * 37) % 256, np.uint8)
        content = encode_ppm(np.repeat(g[:, :, None], 3, axis=2))
        return content, "ppm", NOISE_W, NOISE_H, None, None

    return _media_rows(spark, FLAT_ID_START, N_FLAT, "image", row_for)


# baseline-JPEG fixtures pool at their own id range
JPEG_ID_START, N_JPEG = 2000, 100


def gen_jpeg_media(spark: SparkSession) -> DataFrame:
    """Deterministic REAL baseline-JPEG rows with a closed-form pixel
    law a LOSSY codec can still satisfy exactly: all-ones quantization
    tables + BLOCK-CONSTANT pixels make the whole entropy/DCT pipeline
    bit-exact (multimodal/jpeg.py module docstring), so the law lives
    at 8x8-block grain:

        w = 16 + 8*(id % 3), h = 8 + 8*(id % 2)     (block grid bw x bh)
        v(id, bx, by) = (7*id + 3*bx + 5*by) % 256  (every pixel of the block)

    with the SHAPE cycling the decoder's surface by ``id % 4``:

        0 = grayscale (1 component)          -> r = g = b = v
        1 = YCbCr 4:4:4, Cb=144, Cr=112      -> r = max(0, v-22),
        2 = YCbCr 4:2:0 (same chroma)           g = min(255, v+6),
        3 = grayscale + restart interval 2      b = min(255, v+28)

    The color law is the JFIF float matrix evaluated at the pinned
    chroma constants: 1.402*(112-128) = -22.432, +5.92, +28.352 —
    fractions chosen so round-to-nearest can never straddle a .5 and
    the DuckDB twin can mirror the convert as integer offsets + clamp.
    Constant chroma also makes 4:2:0 box-downsampling exact, so shape
    2 certifies the subsample/replicate path against the same law. A
    value-hash match certifies marker parsing, stream-read DQT/DHT,
    Huffman + EXTEND, the IDCT, restart-marker predictor resets, and
    the color convert bit for bit (hand-built vectors in
    tests/test_jpeg.py additionally pin the decoder independent of
    the encoder)."""

    def row_for(mid: int) -> tuple:
        content, w, h = jpeg_media_bytes(mid)
        return content, "jpeg", w, h, None, None

    return _media_rows(spark, JPEG_ID_START, N_JPEG, "image", row_for)


def jpeg_progressive_media_bytes(mid: int) -> tuple[bytes, int, int]:
    """gen_jpeg_progressive_media's fixture law for ONE id: SAME pixel
    law and shape cycle as jpeg_media_bytes (so the two lanes share
    one oracle CTE), but encoded as progressive SOF2 streams with the
    default spectral-selection + successive-approximation scan script
    — the web's dominant JPEG flavor (VERDICT r9 #2)."""
    encode = _encode_jpeg_progressive  # module-top import; see header comment

    w, h = 16 + 8 * (mid % 3), 8 + 8 * (mid % 2)
    bx = np.arange(w // 8, dtype=np.int64)[None, :]
    by = np.arange(h // 8, dtype=np.int64)[:, None]
    v = (7 * mid + 3 * bx + 5 * by) % 256
    y = np.repeat(np.repeat(v, 8, axis=0), 8, axis=1).astype(np.uint8)
    shape = mid % 4
    if shape in (0, 3):
        return encode(y, restart_interval=2 if shape == 3 else 0), w, h
    ycc = np.stack(
        [y, np.full((h, w), 144, np.uint8), np.full((h, w), 112, np.uint8)],
        axis=2,
    )
    sub = "444" if shape == 1 else "420"
    return encode(ycc, subsampling=sub, color_input="ycbcr"), w, h


# progressive-JPEG fixtures pool at their own id range; SAME pixel law
# as the baseline JPEG range, so one oracle CTE serves both lanes
PJPEG_ID_START, N_PJPEG = 3500, 100


def gen_jpeg_progressive_media(spark: SparkSession) -> DataFrame:
    """Deterministic REAL progressive-JPEG (SOF2) rows: identical pixel
    law + shape cycle to gen_jpeg_media (all-ones quant +
    block-constant pixels keep the lossy pipeline bit-exact), so the
    DuckDB twin is the SAME closed form — a value-hash match certifies
    the whole progressive machinery on top of it: per-band spectral-
    selection scans, DC successive approximation (shifted first pass +
    raw refinement bits), AC first scans with cross-block EOB runs, AC
    refinement correction bits, non-interleaved per-component block
    rasters, and in-scan restart markers (shape 3). Hand-built vectors
    in tests/test_jpeg_progressive.py pin the decoder independently of
    our encoder."""

    def row_for(mid: int) -> tuple:
        content, w, h = jpeg_progressive_media_bytes(mid)
        return content, "jpeg", w, h, None, None

    return _media_rows(spark, PJPEG_ID_START, N_PJPEG, "image", row_for)


# lossless-WebP fixtures pool at their own id range
WEBP_ID_START, N_WEBP = 3000, 100


def gen_webp_media(spark: SparkSession) -> DataFrame:
    """Deterministic REAL lossless-WebP (VP8L) rows: the gen_pixel_media
    RGB law verbatim —

        v = (7*id + 3*x + 5*y) % 256
        r = v, g = (v+85) % 256, b = (v+170) % 256

    — because VP8L is LOSSLESS, so unlike JPEG no block-constant
    escape hatch is needed: arbitrary per-pixel laws round-trip
    bit-exactly. The ENCODING SHAPE cycles the decoder's whole branch
    surface by ``media_id % 6`` while the pixels (and therefore the
    oracle) stay identical:

        0 = plain literals               1 = SUBTRACT_GREEN transform
        2 = COLOR_INDEXING (palette)     3 = color cache + LZ77 runs
        4 = PREDICTOR (Select mode 11)   5 = COLOR (cross-color) transform

    so a value-hash match certifies the RIFF walk, both prefix-code
    forms, canonical code build, LZ77 backrefs, the color cache, and
    all four inverse transforms against ONE closed form (hand-built
    vectors in tests/test_vp8l.py additionally pin the decoder
    independent of the encoder). Same dims law as gen_pixel_media
    (w 16..31, h 12..19); ``start`` offsets the ids for pooling."""

    def row_for(mid: int) -> tuple:
        v, w, h = _pixel_law(mid)
        kw = [
            {},
            {"subtract_green": True},
            {"palette": True},
            {"cache_bits": 8, "use_runs": True},
            {"fixed_predictor": 11},
            {"fixed_cte": (35, 210, 17)},
        ][mid % 6]
        return encode_webp_lossless(_law_rgb(v), **kw), "webp", w, h, None, None

    return _media_rows(spark, WEBP_ID_START, N_WEBP, "image", row_for)


N_ADPCM = 40  # IMA-ADPCM fixture rows


def gen_adpcm_wav_media(spark: SparkSession) -> DataFrame:
    """Deterministic REAL IMA-ADPCM WAV rows (format tag 0x11, mono):
    the fixture law chooses the 4-bit CODE stream directly —

        nn(id) = 400 + (id % 4) * 80          (nibbles per clip)
        nib(id, t) = (7*id + 11*t) % 16       (t = 0..nn-1)
        init_pred(id) = (97*id) % 1024 - 512
        init_index(id) = (13*id) % 89

    — so 'encoding' is pure block framing (codecs.encode_wav_adpcm_mono)
    and the IMA RECURRENCE exists in exactly two independent places:
    the decoder (codecs.ima_adpcm_decode_mono) and the DuckDB oracle's
    recursive CTE. A value-hash match on the decoded-sample features
    therefore certifies the step/index tables, the shift-sum diff
    reconstruction, both clamps, the low-nibble-first unpacking, and
    the header-sample emission against the public IMA spec with no
    shared code path."""

    def row_for(mid: int) -> tuple:
        nn = 400 + (mid % 4) * 80
        t = np.arange(nn, dtype=np.int64)
        nib = (7 * mid + 11 * t) % 16
        content = encode_wav_adpcm_mono(
            nib, 8000, init_pred=(97 * mid) % 1024 - 512, init_index=(13 * mid) % 89
        )
        return content, "wav", None, None, 8000, (nn + 1) * 1000 // 8000

    return _media_rows(spark, 0, N_ADPCM, "audio", row_for)


N_WAV = 100  # mu-law fixture rows, as many as the PCM lane's


def gen_mulaw_wav_media(spark: SparkSession) -> DataFrame:
    """Deterministic REAL mu-law (G.711, WAVE format tag 7) rows: the
    fixture generates the 8-bit CODEWORDS from a closed-form law —

        n_samples(id) = 800 + (id % 8) * 100   (mono, 16 kHz)
        b(id, t) = ((id*1009 + t*2399) * 2654435761 mod 2^32) >> 24

    (every byte value is a valid mu-law code, so no companion
    compressor is involved) — and the decoded sample is the G.711
    expansion of b, a second closed form the DuckDB oracle computes
    arithmetically (codecs.mulaw_decode docstring). A value-hash match
    on the audio features therefore certifies the RIFF tag-7 chunk
    walk AND the mu-law expansion branch bit for bit."""

    def row_for(mid: int) -> tuple:
        ns = 800 + (mid % 8) * 100
        t = np.arange(ns, dtype=np.int64)
        b = (((mid * 1009 + t * 2399) * 2654435761) % (2**32)) >> 24
        content = encode_wav_mulaw(b.astype(np.uint8), WAV_RATE)
        return content, "wav", None, None, WAV_RATE, ns * 1000 // WAV_RATE

    return _media_rows(spark, 0, N_WAV, "audio", row_for)


VNOISE_FRAMES = 6  # frames per clip, shared with the SQL oracle


def gen_noise_y4m_media(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic 'noisy' Y4M clips for video near-dup tests: the
    gen_noise_media pixel law extended with a frame term,

        base = id - 1 if id % 5 == 4 else id
        v(base, f, x, y) = ((base*73 + f*29 + x*37 + y*101)
                             * 2654435761 mod 2^32) >> 24

    over VNOISE_FRAMES frames of NOISE_W x NOISE_H mono luma. Every
    id % 5 == 4 is a PLANTED CLONE of id-1 with source pixel (0, 0)
    perturbed (+128 mod 256) in EVERY frame — so each of a clone
    pair's frame dHashes sits at hamming <= 1 while distinct clips'
    frames sit ~32 bits apart per frame (coin-flip neighbor bits).
    Exact 64-bit integer arithmetic, closed form: the DuckDB oracle
    re-derives every sampled frame's dHash bits from this law."""

    def row_for(mid: int) -> tuple:
        base = mid - 1 if mid % NOISE_CLONE_EVERY == NOISE_CLONE_EVERY - 1 else mid
        f = np.arange(VNOISE_FRAMES, dtype=np.int64)[:, None, None]
        y = np.arange(NOISE_H, dtype=np.int64)[None, :, None]
        x = np.arange(NOISE_W, dtype=np.int64)[None, None, :]
        v = (((base * 73 + f * 29 + x * 37 + y * 101) * 2654435761) % (2**32)) >> 24
        if base != mid:  # planted clone: one perturbed pixel per frame
            v[:, 0, 0] = (v[:, 0, 0] + 128) % 256
        content = encode_y4m(v.astype(np.uint8))
        return content, "y4m", NOISE_W, NOISE_H, None, VNOISE_FRAMES * 1000 // 30

    return _media_rows(spark, 0, n, "video", row_for)


# static-clip fixture ids, past the noise clips'
FLAT_Y4M_ID_START, N_FLAT_Y4M = 6100, 10


def gen_flat_y4m_media(spark: SparkSession) -> DataFrame:
    """Constant-luma ('dead air') Y4M clips for the video curation
    pipeline's quality gate: every frame of clip ``id`` is the single
    value (id*37) % 256 over VNOISE_FRAMES frames of NOISE_W x NOISE_H
    — zero variance in every frame (the integer static-clip law
    n*sumsq - sum^2 == 0) and an all-zero dHash, the video analog of
    gen_flat_media's blank images."""

    def row_for(mid: int) -> tuple:
        v = np.full((VNOISE_FRAMES, NOISE_H, NOISE_W), (mid * 37) % 256, np.uint8)
        return encode_y4m(v), "y4m", NOISE_W, NOISE_H, None, VNOISE_FRAMES * 1000 // 30

    return _media_rows(spark, FLAT_Y4M_ID_START, N_FLAT_Y4M, "video", row_for)


N_GIF = 100  # GIF fixture rows


def gen_gif_media(spark: SparkSession) -> DataFrame:
    """Deterministic REAL GIF rows: the pixel law's gray form

        v = (7*id + 3*x + 5*y) % 256   (decodes to r = g = b = v)

    encoded as GIF89a over a 256-gray palette with the fixed-width LZW
    form (clear-code resets every 254 literals — a valid stream that
    exercises the decoder's reset path), ODD ids written INTERLACED so
    the 4-pass unweave is under the oracle too. Same dims law as
    gen_pixel_media."""

    def row_for(mid: int) -> tuple:
        v, w, h = _pixel_law(mid)
        content = encode_gif(v.astype(np.uint8), interlaced=bool(mid % 2))
        return content, "gif", w, h, None, None

    return _media_rows(spark, 0, N_GIF, "image", row_for)

TONE_N_FFT = 256  # analysis window, shared with the SQL oracle
TONE_N_SAMPLES = 1024  # 4 full windows per clip


def gen_tone_wav_media(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic pure-tone WAV clips for spectral-feature tests:

        k(id) = 3 + id % 40          (cycles per analysis window)
        s(id, t) = round(18000 · sin(2π · k(id) · t / TONE_N_FFT))

    Each clip holds TONE_N_SAMPLES = 4 whole windows, so the tone sits
    EXACTLY on DFT bin k(id) — the rFFT magnitude argmax equals k(id)
    by construction (int16 quantization spreads only a ~-60 dB noise
    floor), which gives the FFT feature extractor a closed-form
    integer oracle without the oracle engine ever computing an FFT."""

    def row_for(mid: int) -> tuple:
        k = 3 + mid % 40
        t = np.arange(TONE_N_SAMPLES, dtype=np.float64)
        s = np.round(18000.0 * np.sin(2.0 * np.pi * k * t / TONE_N_FFT))
        content = encode_wav(s.astype(np.int16), WAV_RATE)
        return content, "wav", None, None, WAV_RATE, TONE_N_SAMPLES * 1000 // WAV_RATE

    return _media_rows(spark, 0, n, "audio", row_for)


# silent-clip fixture ids
SILENT_ID_START, N_SILENT = 6000, 10


def gen_silent_wav_media(spark: SparkSession) -> DataFrame:
    """Deterministic SILENT clips for the audio quality gate: all-zero
    16-bit PCM (800 samples, mono 16 kHz) — the dead-air artifacts an
    audio-prep pipeline drops before spectral fingerprinting (a silent
    clip has no dominant bin; its spectrum argmax is meaningless)."""

    def row_for(mid: int) -> tuple:
        content = encode_wav(np.zeros(800, np.int16), WAV_RATE)
        return content, "wav", None, None, WAV_RATE, 800 * 1000 // WAV_RATE

    return _media_rows(spark, SILENT_ID_START, N_SILENT, "audio", row_for)


# jpeg_media_bytes is referenced by generator closures AND the
# binaryFile staging helper; by-value registration keeps every fixture
# closure runnable on bare-session workers that cannot import the
# package (same contract as codecs.py / jpeg.py).
pickle_by_value(__name__)
