"""Multimodal plumbing tests: schema, Arrow batch shape, determinism,
fan-out, and the honest codec stub."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from etl_orders_spark.multimodal import (
    MEDIA_SCHEMA,
    decode_images,
    gen_media,
    media_fingerprints,
    media_stats,
    sample_frames,
)


@pytest.fixture(scope="module")
def media(spark):
    return gen_media(spark, 60)


def test_gen_media_schema_and_determinism(spark, media):
    # simpleString compares names/types while ignoring nullability flags,
    # which differ between a generated plan and the declared schema
    assert media.schema.simpleString() == MEDIA_SCHEMA.simpleString()
    assert media.count() == 60
    a = media.select("media_id", F.md5("content").alias("h")).collect()
    b = gen_media(spark, 60).select("media_id", F.md5("content").alias("h")).collect()
    assert a == b  # fully deterministic payloads
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_media_metadata_is_kind_consistent(media):
    assert media.filter((F.col("kind") == "audio") & F.col("meta.width").isNotNull()).count() == 0
    assert media.filter((F.col("kind") == "image") & F.col("meta.duration_ms").isNotNull()).count() == 0
    assert media.filter((F.col("kind") == "audio") & (F.col("meta.sample_rate") != 16000)).count() == 0


def test_media_stats_arrow_batch_features(media):
    out = {r["media_id"]: r for r in media_stats(media).collect()}
    assert len(out) == 60
    r = out[0]
    assert r["n_bytes"] == 256
    assert 0.0 <= r["mean_byte"] <= 255.0
    # sha2-derived bytes are near-uniform: entropy close to log2(256)=8
    assert 6.0 <= r["byte_entropy"] <= 8.0
    assert not math.isnan(r["mean_byte"])


def test_media_stats_survives_repartition(media):
    """Arrow batching is per-partition; results must not depend on layout."""
    a = sorted(map(tuple, media_stats(media).collect()))
    b = sorted(map(tuple, media_stats(media.repartition(7)).collect()))
    assert a == b


def test_map_rows_fans_out_and_names_columns_from_schema(spark):
    """map_rows emits 0, 1 or many rows per input row, names the output
    columns from the DDL schema, and copes with a partition that
    produces no rows at all."""
    from etl_orders_spark.operators.grouped_map import map_rows

    schema = "id long, copy int"

    def fan(i):  # closure: i % 3 copies of the row
        return [(i, c) for c in range(i % 3)]

    # 3 partitions over ids 0..29 (10 ids per residue), plus one
    # partition of multiples of 3 that emits nothing
    df = spark.range(0, 30, 1, 3).union(spark.range(0, 9, 3, 1))
    out = map_rows(df, fan, schema)
    assert out.columns == ["id", "copy"]
    assert out.schema.simpleString() == "struct<id:bigint,copy:int>"
    rows = out.collect()
    assert len(rows) == 10 * (0 + 1 + 2)
    assert sorted((r["id"], r["copy"]) for r in rows) == sorted(
        (i, c) for i in range(30) for c in range(i % 3)
    )

    empty = map_rows(spark.range(0, 9, 3, 1), fan, schema)
    assert empty.columns == ["id", "copy"]
    assert empty.count() == 0


def test_media_fingerprints_pure_jvm_dedup_key(spark, media):
    fp = media_fingerprints(media)
    assert fp.count() == 60
    assert fp.select("fp").distinct().count() == 60  # payloads unique by construction
    plan = fp._jdf.queryExecution().executedPlan().toString()
    assert "mapInPandas" not in plan.lower()  # no Python in this path


def test_decode_images_metadata_path_and_strict_garbage(spark, media):
    out = decode_images(media)  # non-strict: metadata-shaped rows
    rows = out.collect()
    assert rows and all(not r["decoded"] for r in rows)
    assert all(r["n_pixels"] == r["width"] * r["height"] for r in rows)
    # strict path: gen_media payloads are sha2 bytes with no container
    # magic, so the honest worker-side failure is now ValueError from
    # the pure-Python sniffer (NotImplementedError is reserved for
    # RECOGNIZED compressed formats without a codec — test_codecs.py)
    with pytest.raises(Exception, match="not a decodable image"):
        decode_images(media, strict=True).collect()


def test_decode_images_strict_real_pixels(spark):
    """Strict decode on REAL encoded fixtures: decoded=true and the
    dimensions come from the decoded array (the generator's law)."""
    from etl_orders_spark.multimodal import gen_pixel_media

    rows = decode_images(gen_pixel_media(spark, 24), strict=True).collect()
    assert len(rows) == 24
    for r in rows:
        mid = r["media_id"]
        assert r["decoded"] is True
        assert (r["width"], r["height"]) == (16 + mid % 16, 12 + mid % 8)
        assert r["n_pixels"] == r["width"] * r["height"]


def test_sample_frames_fanout(media):
    frames = sample_frames(media)
    got = frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).collect()
    vids = media.filter("kind = 'video'")
    assert len(got) == vids.count()
    expected = {
        r["media_id"]: min(int(r["duration_ms"]) // 1000 + 1, 8)
        for r in vids.select("media_id", "meta.duration_ms").collect()
    }
    assert {r["media_id"]: r["n"] for r in got} == expected
    one = frames.filter("media_id = 2").orderBy("frame_idx").collect()
    assert [r["frame_idx"] for r in one] == list(range(len(one)))
    assert all(len(r["frame_bytes"]) == 16 for r in one)


def test_resize_images_geometry_and_strict_garbage(spark, media):
    """Resize: exact never-upscale aspect-ratio geometry from metadata,
    thumb payload sized to the output pixel count, deterministic across
    runs; strict mode on undecodable payloads raises the honest
    worker-side ValueError."""
    from etl_orders_spark.multimodal.ops import resize_images

    out = resize_images(media, max_side=16).collect()
    imgs = {
        r["media_id"]: r
        for r in media.filter(F.col("kind") == "image")
        .select("media_id", F.col("meta.width").alias("w"), F.col("meta.height").alias("h"))
        .collect()
    }
    assert {r["media_id"] for r in out} == set(imgs)
    for r in out:
        src = imgs[r["media_id"]]
        assert (r["src_w"], r["src_h"]) == (src["w"], src["h"])
        assert max(r["out_w"], r["out_h"]) <= 16
        if max(src["w"], src["h"]) <= 16:  # never upscale
            assert (r["out_w"], r["out_h"]) == (src["w"], src["h"])
        else:
            assert max(r["out_w"], r["out_h"]) == 16
            # aspect ratio held within integer floor rounding
            if src["w"] >= src["h"]:
                assert r["out_h"] == max(1, src["h"] * 16 // src["w"])
            else:
                assert r["out_w"] == max(1, src["w"] * 16 // src["h"])
        assert len(r["thumb"]) == max(1, r["out_w"] * r["out_h"])
        assert r["resized"] is False  # honest flag: no codec, fake pixels
    again = resize_images(media, max_side=16).collect()
    assert sorted((r["media_id"], bytes(r["thumb"])) for r in again) == sorted(
        (r["media_id"], bytes(r["thumb"])) for r in out
    )
    with pytest.raises(Exception, match="not a decodable image"):
        resize_images(media, max_side=16, strict=True).collect()


def test_resize_images_strict_real_pixels(spark):
    """Strict resize on real fixtures: resized=true, geometry from the
    DECODED dims, thumb = out_w*out_h*3 RGB bytes matching a local
    numpy decode+floor-map oracle exactly."""
    import numpy as np

    from etl_orders_spark.multimodal import decode_image, gen_pixel_media, resize_nearest
    from etl_orders_spark.multimodal.ops import resize_images as _resize

    fixtures = {
        r["media_id"]: bytes(r["content"])
        for r in gen_pixel_media(spark, 18).select("media_id", "content").collect()
    }
    rows = _resize(gen_pixel_media(spark, 18), max_side=8, strict=True).collect()
    assert len(rows) == 18
    for r in rows:
        assert r["resized"] is True
        arr = decode_image(fixtures[r["media_id"]])
        h, w = arr.shape[:2]
        assert (r["src_w"], r["src_h"]) == (w, h)
        assert max(r["out_w"], r["out_h"]) == 8  # generator dims always > 8
        expected = resize_nearest(arr, r["out_w"], r["out_h"])
        got = np.frombuffer(bytes(r["thumb"]), dtype=np.uint8).reshape(
            r["out_h"], r["out_w"], 3
        )
        assert np.array_equal(got, expected)


def test_dhash_planted_clone_recall(spark):
    """The perceptual-hash pipeline finds every planted near-clone at
    hamming <= 1, and the band join loses nothing the brute-force pair
    scan finds at the threshold (pigeonhole completeness, live)."""
    import itertools

    from etl_orders_spark.multimodal.ops import dhash_images
    from etl_orders_spark.multimodal.schemas import NOISE_CLONE_EVERY, gen_noise_media
    from etl_orders_spark.plans.registry import query_map

    n = 50
    hashes = {
        r["media_id"]: (r["dhash_hi"], r["dhash_lo"])
        for r in dhash_images(gen_noise_media(spark, n)).collect()
    }
    assert len(hashes) == n

    def ham(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    for i in range(n):
        if i % NOISE_CLONE_EVERY == NOISE_CLONE_EVERY - 1:
            assert ham(hashes[i - 1], hashes[i]) <= 1  # planted clone
    # brute force == the registered band-join query at the same threshold
    rows = query_map()["media_dhash_near_dup"](spark, "/root/testdata/sf0.01").collect()
    got = {(r["id_a"], r["id_b"]) for r in rows}
    full = {
        r["media_id"]: (r["dhash_hi"], r["dhash_lo"])
        for r in dhash_images(gen_noise_media(spark, 100)).collect()
    }
    brute = {
        (a, b)
        for a, b in itertools.combinations(sorted(full), 2)
        if ham(full[a], full[b]) <= 3
    }
    assert got == brute  # banding is lossless at the pigeonhole bound


def test_video_near_dup_majority_vote_matches_brute_force(spark):
    """The video near-dup query (per-frame dHash -> frame-grain band
    join -> majority vote) equals a brute-force per-frame hamming scan
    with the same vote, every planted clone pair matches on ALL
    sampled frames, and frame hashes are pure functions of content."""
    import itertools
    from collections import Counter

    from etl_orders_spark.multimodal.ops import video_frame_dhash
    from etl_orders_spark.multimodal.schemas import (
        NOISE_CLONE_EVERY,
        gen_noise_y4m_media,
    )
    from etl_orders_spark.plans.registry import query_map

    n = 60
    media = gen_noise_y4m_media(spark, n)
    fh = video_frame_dhash(media)
    rows = fh.collect()
    assert sorted(set(r["frame_idx"] for r in rows)) == [0, 2, 4]
    hashes = {(r["media_id"], r["frame_idx"]): (r["dhash_hi"], r["dhash_lo"]) for r in rows}
    assert len(hashes) == 3 * n
    # partition invariance
    rows2 = video_frame_dhash(media.repartition(7)).collect()
    assert {(r["media_id"], r["frame_idx"]): (r["dhash_hi"], r["dhash_lo"]) for r in rows2} == hashes

    def ham(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    votes = Counter()
    for a, b in itertools.combinations(range(n), 2):
        for f in (0, 2, 4):
            if ham(hashes[(a, f)], hashes[(b, f)]) <= 3:
                votes[(a, b)] += 1
    brute = {(a, b): c for (a, b), c in votes.items() if c >= 2}
    got = {
        (r["id_a"], r["id_b"]): r["frames_matched"]
        for r in query_map()["media_video_near_dup"](spark, "/root/testdata/sf0.01").collect()
    }
    assert got == brute  # frame-grain banding is lossless; the vote agrees
    for i in range(n):
        if i % NOISE_CLONE_EVERY == NOISE_CLONE_EVERY - 1:
            assert got[(i - 1, i)] == 3  # planted clones match on every frame


def test_audio_features_partition_invariance(spark):
    """WAV decode features are pure functions of content — layout-free
    — and the planted law's properties hold (full int16 peak range,
    plenty of sign changes in a hash-noise signal)."""
    from etl_orders_spark.multimodal import audio_features, gen_wav_media

    media = gen_wav_media(spark, 24)
    a = sorted(map(tuple, audio_features(media).collect()))
    b = sorted(map(tuple, audio_features(media.repartition(5)).collect()))
    assert a == b
    for mid, rate, n, sum_abs, peak, zc in a:
        assert rate == 16000
        assert n == 800 + mid % 8 * 100
        assert 0 < sum_abs and 0 < peak <= 32768
        assert n // 4 < zc < n  # hash noise: roughly half the steps cross


def test_audio_zero_crossings_are_per_channel(spark):
    """ADVICE r4: crossings must count per channel along the frame
    axis, never across channel boundaries in the interleaved stream.
    A stereo clip with a constant-positive left channel and an
    alternating right channel has exactly the right channel's
    crossings; the interleaved-flat bug would also count every
    L->R / R->L sign boundary."""
    import numpy as np

    from etl_orders_spark.multimodal import audio_features
    from etl_orders_spark.multimodal.codecs import encode_wav

    n = 16
    left = np.full(n, 1000, dtype=np.int64)            # never crosses
    right = np.where(np.arange(n) % 2 == 0, 500, -500)  # crosses every step
    stereo = np.stack([left, right], axis=1)
    wav = encode_wav(stereo, 8000)
    media = spark.createDataFrame(
        [(1, "audio", bytearray(wav))], "media_id long, kind string, content binary"
    )
    row = audio_features(media).collect()[0]
    assert row["n_samples"] == 2 * n  # amplitude stats stay flattened
    assert row["zero_crossings"] == n - 1  # right channel only


def test_pixel_features_partition_invariance(spark):
    """Decode features are pure functions of content — layout-free."""
    from etl_orders_spark.multimodal import gen_pixel_media, pixel_features

    media = gen_pixel_media(spark, 30)
    a = sorted(map(tuple, pixel_features(media).collect()))
    b = sorted(map(tuple, pixel_features(media.repartition(7)).collect()))
    assert a == b
    fmts = {r[1] for r in a}
    assert fmts == {"ppm", "pgm", "bmp"}
    # pgm rows decode gray: all three channel sums equal
    for _, fmt, _, _, n, sr, sg, sb, _ in a:
        if fmt == "pgm":
            assert sr == sg == sb
        else:
            assert len({sr, sg, sb}) == 3  # distinct by the +85/+170 law


def test_pixel_media_dims_is_the_single_source_of_truth(spark):
    """The pixel generators call pixel_media_dims for their geometry;
    this guard pins the emitted metadata to the helper so the rows —
    and the SQL oracle derived from the helper's law — cannot drift
    apart silently."""
    from etl_orders_spark.multimodal.schemas import gen_pixel_media, pixel_media_dims

    rows = gen_pixel_media(spark, 40).select(
        "media_id", "meta.width", "meta.height"
    ).collect()
    assert len(rows) == 40
    for r in rows:
        assert (r["width"], r["height"]) == pixel_media_dims(r["media_id"])


def test_audio_spectral_dominant_bin_matches_tone_law(spark):
    """The rFFT dominant-bin extractor recovers every planted tone's
    exact bin, is partition-invariant, and short clips emit the
    n_frames = 0 / dominant_bin = -1 sentinel instead of erroring."""
    import numpy as np

    from etl_orders_spark.multimodal.codecs import encode_wav
    from etl_orders_spark.multimodal.ops import audio_spectral_features
    from etl_orders_spark.multimodal.schemas import gen_tone_wav_media

    media = gen_tone_wav_media(spark, 50)
    rows = {r["media_id"]: r for r in audio_spectral_features(media).collect()}
    assert len(rows) == 50
    for mid, r in rows.items():
        assert r["dominant_bin"] == 3 + mid % 40
        assert r["n_frames"] == 4
    again = {
        r["media_id"]: r["dominant_bin"]
        for r in audio_spectral_features(media.repartition(7)).collect()
    }
    assert again == {m: r["dominant_bin"] for m, r in rows.items()}

    short = spark.createDataFrame(
        [(9, "audio", bytearray(encode_wav(np.zeros(10, np.int16), 8000)))],
        "media_id long, kind string, content binary",
    )
    r = audio_spectral_features(short).collect()[0]
    assert (r["n_frames"], r["dominant_bin"]) == (0, -1)


def test_media_prep_corpus_drops_blanks_and_planted_clones(spark, sf_dir):
    """Pipeline-semantics pins: every planted BLANK (ids 5000..5009,
    zero variance) is gone, every planted near-clone (id % 5 == 4 —
    hamming <= 1 from its source id-1, which is a lower id, so the
    clone is always the dropped side) is gone, survivors all carry
    positive integer variance, and the canonical (lowest-id) side of
    each clone pair is never dropped BY ITS CLONE (it may still fall
    to an unrelated near-dup of an even lower id — fixture dHash
    density is high by design)."""
    from etl_orders_spark.plans.registry import query_map

    rows = query_map()["media_prep_corpus"](spark, sf_dir).collect()
    kept = {r.media_id for r in rows}
    assert kept, "pipeline dropped everything"
    assert not (kept & set(range(5000, 5010))), "a blank survived the quality gate"
    assert not {k for k in kept if k % 5 == 4}, "a planted clone survived dedup"
    for r in rows:
        assert r.var_num > 0 and r.n_pixels == 32 * 24


def test_audio_prep_corpus_drops_silence_and_dedups_by_bin(spark, sf_dir):
    """Audio pipeline pins: the planted silent clips (6000..6009)
    never survive, exactly one clip per dominant bin remains and it is
    the LOWEST id carrying that bin (ids 0..39 each own bin 3+id%40
    first), and every survivor has real signal energy."""
    from etl_orders_spark.plans.registry import query_map

    rows = query_map()["audio_prep_corpus"](spark, sf_dir).collect()
    kept = {r.media_id for r in rows}
    assert kept == set(range(40)), kept  # first owner of each of 40 bins
    bins = [r.dominant_bin for r in rows]
    assert sorted(bins) == list(range(3, 43))
    for r in rows:
        assert r.sum_abs > 0 and r.dominant_bin == 3 + r.media_id % 40


def test_video_prep_corpus_drops_static_and_planted_clones(spark, sf_dir):
    """Video pipeline pins (round 11 — fourth modality's end-to-end
    twin): every planted STATIC clip (6100..6109, zero variance in
    every frame) is gone, every planted per-frame near-clone
    (id % 5 == 4, hamming <= 1 from id-1 on all sampled frames, so the
    clone is always the dropped side) is gone, survivors carry
    positive integer min-variance, the full sampled-frame count, and
    real texture; and the canonical id 0 survives (nothing below it
    can drop it)."""
    from etl_orders_spark.plans.registry import query_map

    rows = query_map()["video_prep_corpus"](spark, sf_dir).collect()
    kept = {r.media_id for r in rows}
    assert kept, "pipeline dropped everything"
    assert not (kept & set(range(6100, 6110))), "a static clip survived"
    assert not {k for k in kept if k % 5 == 4}, "a planted clone survived dedup"
    assert 0 in kept
    for r in rows:
        assert r.var_min > 0 and r.n_frames == 3 and r.texture_bits > 0
