"""Multimodal plumbing tests: binary payloads stay opaque, metadata
projection prunes the blob, fake decode streams Arrow batches with the
declared schema, real-decode seam raises cleanly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dirty_js_etl_spark.operators.multimodal import (
    attach_binary_payload,
    decode_images,
    media_metadata_only,
)


@pytest.fixture(scope="module")
def media(spark, catalog):
    return attach_binary_payload(catalog.read("documents").limit(50))


def test_payload_is_binary(media):
    assert dict(media.dtypes)["payload"] == "binary"
    assert dict(media.dtypes)["media_meta"].startswith("struct<")


def test_metadata_matches_bytes(media):
    row = media.select(
        F.length("payload").alias("n"), F.col("media_meta.byte_len").alias("m")
    ).collect()
    assert all(r["n"] == r["m"] for r in row)


def test_metadata_only_prunes_payload(media):
    out = media_metadata_only(media)
    assert "payload" not in out.columns
    assert out.count() == 50


def test_fake_decode_schema_and_determinism(spark, media):
    out = decode_images(media)
    assert out.columns == ["doc_id", "byte_len", "width", "height", "format"]
    a = sorted(tuple(r) for r in out.collect())
    b = sorted(tuple(r) for r in decode_images(media).collect())
    assert a == b  # deterministic fake
    assert all(r[4] == "FAKE" for r in a)
    assert all(0 <= r[2] < 640 and 0 <= r[3] < 480 for r in a)


def test_real_decoder_unknown_format_degrades(spark, media):
    # text payloads carry no image magic -> UNKNOWN rows, not a crash
    out = decode_images(media, use_real_decoder=True).collect()
    assert len(out) == 50
    assert all(
        r.format == "UNKNOWN" and r.width == -1 and r.pixel_sum == 0
        for r in out
    )


def test_real_decoder_ppm_roundtrip(spark, catalog):
    # wrap text into genuine P6 bytes, then parse them back: dims from
    # the header scan, pixel_sum from the tiled byte plane
    from dirty_js_etl_spark.operators.multimodal import attach_ppm_payload

    docs = catalog.read("documents").limit(20)
    out = {
        r.doc_id: r
        for r in decode_images(
            attach_ppm_payload(docs), use_real_decoder=True
        ).collect()
    }
    for row in docs.select("doc_id", "text").collect():
        data = row.text.encode()
        length = len(data)
        w, h = length % 16 + 1, length % 12 + 1
        npix = w * h * 3
        tiled = (data * (npix // length + 1))[:npix]
        header = f"P6\n{w} {h}\n255\n".encode()
        got = out[row.doc_id]
        assert (got.width, got.height, got.format) == (w, h, "PPM")
        assert got.byte_len == len(header) + npix
        assert got.pixel_sum == sum(tiled)


def test_parse_ppm_skips_header_comments():
    from dirty_js_etl_spark.operators.multimodal import _parse_ppm

    pixels = bytes(range(12))  # 2x2 RGB
    data = b"P6\n# a comment\n2 # trailing\n2\n255\n" + pixels
    w, h, off = _parse_ppm(data)
    assert (w, h) == (2, 2)
    assert data[off : off + 12] == pixels


def test_parse_bmp_2x2_bottom_up_with_padding():
    import struct

    from dirty_js_etl_spark.operators.multimodal import _parse_bmp

    # 2x2 24-bit BMP: rows are 6 pixel bytes + 2 padding bytes each,
    # stored bottom-up; padding must not leak into pixel_sum
    rows = [bytes([1, 2, 3, 4, 5, 6]), bytes([7, 8, 9, 10, 11, 12])]
    pix = rows[1] + b"\xff\xff" + rows[0] + b"\xff\xff"  # bottom-up
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pix), 0, 0, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pix), 0, 0, 14 + 40)
    w, h, s = _parse_bmp(hdr + dib + pix)
    assert (w, h) == (2, 2)
    assert s == sum(range(1, 13))  # 78, excludes the 0xff padding


def test_decode_images_bmp_payload(spark):
    import struct

    # 1x1 24bpp -> 3 pixel bytes, stride 4 -> 1 padding byte
    pix = bytes([10, 20, 30]) + b"\xee"
    dib = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, len(pix), 0, 0, 0, 0)
    bmp = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pix), 0, 0, 54) + dib + pix
    df = spark.createDataFrame([(1, bytearray(bmp))], "doc_id long, payload binary")
    got = decode_images(df, use_real_decoder=True).collect()[0]
    assert (got.width, got.height, got.format, got.pixel_sum) == (1, 1, "BMP", 60)


def test_resize_scale_factors(spark, media):
    from dirty_js_etl_spark.operators.multimodal import resize_images

    out = resize_images(media, target_w=224, target_h=112).collect()
    assert len(out) == 50
    for r in out:
        if r["width"]:
            assert r["scale_x"] == pytest.approx(224 / r["width"], rel=1e-5)
        else:
            assert r["scale_x"] is None
        assert r["target_h"] == 112


def test_frame_sample_expansion(spark, media):
    """1->N expansion: each doc yields byte_len % 5 + 1 frames with
    distinct indices and per-frame checksums."""
    from dirty_js_etl_spark.operators.multimodal import sample_frames

    frames = sample_frames(media, max_frames=5)
    per_doc = frames.groupBy("doc_id").count()
    want = media.select(
        "doc_id", (F.length("payload") % 5 + 1).alias("n")
    )
    joined = per_doc.join(want, "doc_id")
    assert joined.filter(F.col("count") != F.col("n")).isEmpty()
    # frame checksums unique within a doc (payload+idx keyed)
    assert (
        frames.groupBy("doc_id", "frame_checksum").count().filter("count > 1").isEmpty()
    )


def test_audio_features_deterministic(spark, media):
    from dirty_js_etl_spark.operators.multimodal import extract_audio_features

    out = extract_audio_features(media)
    assert out.columns == ["doc_id", "duration_ms", "n_channels", "rms"]
    rows = out.collect()
    assert all(r["n_channels"] in (1, 2) for r in rows)
    assert all(0.0 <= r["rms"] < 1.0 for r in rows)


# ---------------------------------------------------------------------------
# Perceptual-hash near-dup (average-hash kernel + pigeonhole pairing)
# ---------------------------------------------------------------------------


def test_wav_payload_is_spec_compliant_per_stdlib(spark, catalog):
    # the constructed bytes must be a REAL WAV: the stdlib wave module
    # (an independent RIFF implementation) has to open every payload
    # and report the same params the builder promised
    import io
    import wave

    from dirty_js_etl_spark.operators.multimodal import attach_wav_payload

    docs = catalog.read("documents").limit(20)
    for row in attach_wav_payload(docs).select("text", "payload").collect():
        with wave.open(io.BytesIO(bytes(row.payload))) as w:
            length = len(row.text.encode())
            n = 0 if length == 0 else (length - 1) % 90 + 1
            assert w.getnchannels() == 1
            assert w.getsampwidth() == 1
            assert w.getframerate() == 8000
            assert w.getnframes() == n
            assert w.readframes(n) == row.text.encode()[:n]


def test_wav_parser_reads_stdlib_written_16bit_stereo():
    # reverse direction: stdlib wave WRITES a 16-bit stereo PCM file
    # and _parse_wav must recover its params and the signed sample sum
    import io
    import struct
    import wave

    from dirty_js_etl_spark.operators.multimodal import _parse_wav

    samples = [0, 1, -1, 32767, -32768, 123, -456, 789]  # 4 frames x 2ch
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(44100)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    rate, ch, bits, n_frames, ms, ssum = _parse_wav(buf.getvalue())
    assert (rate, ch, bits) == (44100, 2, 16)
    assert n_frames == 4  # block align 4 -> frames, not samples
    assert ms == 4 * 1000 // 44100
    assert ssum == sum(samples)


def test_wav_decode_roundtrip(spark, catalog):
    # builder -> RIFF walker roundtrip: parsed fields equal the
    # generation rule, sample_sum equals the byte sum of the prefix
    from dirty_js_etl_spark.operators.multimodal import (
        attach_wav_payload,
        decode_audio,
    )

    docs = catalog.read("documents").limit(20)
    out = {
        r.doc_id: r for r in decode_audio(attach_wav_payload(docs)).collect()
    }
    for row in docs.select("doc_id", "text").collect():
        data = row.text.encode()
        n = (len(data) - 1) % 90 + 1
        got = out[row.doc_id]
        assert (got.sample_rate, got.n_channels, got.bits) == (8000, 1, 8)
        assert got.n_samples == n
        assert got.duration_ms == n * 1000 // 8000
        assert got.sample_sum == sum(data[:n])


def test_wav_decoder_rejects_garbage(spark, media):
    # non-RIFF payloads degrade to the -1 sentinel row, never raise
    from dirty_js_etl_spark.operators.multimodal import decode_audio

    rows = decode_audio(media).collect()
    assert rows and all(r.sample_rate == -1 and r.sample_sum == 0 for r in rows)


def test_frame_stream_walker_parses_every_sampled_frame(spark, catalog):
    # container build -> stream walk roundtrip: the kernel must stride
    # frame-by-frame through the concatenated P6 bytes and recover the
    # per-frame dims + pixel sums of exactly the even frames
    from dirty_js_etl_spark.operators.multimodal import (
        attach_ppm_stream_payload,
        sample_frames_real,
    )

    docs = catalog.read("documents").limit(10)
    got = {}
    for r in sample_frames_real(attach_ppm_stream_payload(docs)).collect():
        got[(r.doc_id, r.frame_idx)] = r
    expect_keys = set()
    for row in docs.select("doc_id", "text").collect():
        data = row.text.encode()
        length = len(data)
        for f in range(length % 4 + 2):
            if f % 2:
                continue
            w, h = (length + f) % 8 + 1, (length + f) % 6 + 1
            npix = w * h * 3
            tiled = (data * (npix // length + 1))[:npix]
            r = got[(row.doc_id, f)]
            expect_keys.add((row.doc_id, f))
            assert (r.width, r.height) == (w, h)
            assert r.pixel_sum == sum(tiled)
    assert expect_keys == set(got)


def test_phash_identical_payloads_pair_at_zero(spark):
    from dirty_js_etl_spark.operators.multimodal import (
        attach_binary_payload,
        phash_near_dup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog " * 8
    perturbed = base.replace("quick", "quack", 1)
    unrelated = "zq " + "xv kj qw zz pp mm nn oo " * 16
    df = attach_binary_payload(
        spark.createDataFrame(
            [(1, base), (2, base), (3, perturbed), (4, unrelated)],
            "doc_id long, text string",
        )
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_dup_pairs(df, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0  # identical payloads
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3  # tiny perturbation
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_phash_signature_deterministic(spark, catalog):
    from dirty_js_etl_spark.operators.multimodal import (
        attach_binary_payload,
        phash_signatures,
    )

    docs = attach_binary_payload(catalog.read("documents").limit(50))
    a = sorted(map(tuple, phash_signatures(docs).collect()))
    b = sorted(map(tuple, phash_signatures(docs.repartition(5)).collect()))
    assert a == b


def test_null_payload_degrades_not_fails(spark):
    # real binary ingestion can carry NULL payloads; every kernel must
    # degrade (sentinel row / zero rows), never fail the task
    from dirty_js_etl_spark.operators.multimodal import (
        decode_audio,
        decode_images,
        sample_frames_real,
    )

    df = spark.createDataFrame(
        [(1, None)], "doc_id long, payload binary"
    )
    audio = decode_audio(df).collect()
    assert len(audio) == 1 and audio[0].sample_rate == -1
    imgs = decode_images(df, use_real_decoder=True).collect()
    assert len(imgs) == 1 and imgs[0].format == "UNKNOWN"
    assert sample_frames_real(df).collect() == []


def test_payload_builders_reject_non_ascii_text(spark):
    # the synthetic builders size by octet_length but slice by chars;
    # a multi-byte char would silently diverge payload bytes from the
    # arithmetic oracles, so the builders raise instead
    import pytest
    from py4j.protocol import Py4JJavaError
    from dirty_js_etl_spark.operators.multimodal import (
        attach_ppm_payload,
        attach_ppm_stream_payload,
        attach_wav_payload,
    )

    df = spark.createDataFrame([(1, "café au lait")], "doc_id long, text string")
    for builder in (attach_ppm_payload, attach_wav_payload,
                    attach_ppm_stream_payload):
        with pytest.raises(Exception, match="ASCII|octet_length"):
            builder(df).select("payload").collect()


def test_payload_builders_pass_null_text_through(spark):
    # octet_length(NULL) == length(NULL) evaluates NULL, so
    # without an explicit isNull branch the guard's otherwise() fell into
    # raise_error and a single NULL text row failed the whole job with a
    # misleading "requires ASCII" error. NULL must flow through to a NULL
    # payload (which the decoders already degrade on — see
    # test_null_payload_degrades_not_fails).
    from dirty_js_etl_spark.operators.multimodal import (
        attach_ppm_payload,
        attach_ppm_stream_payload,
        attach_wav_payload,
    )

    df = spark.createDataFrame(
        [(1, None), (2, "plain ascii text")], "doc_id long, text string"
    )
    for builder in (attach_ppm_payload, attach_wav_payload,
                    attach_ppm_stream_payload):
        rows = {r.doc_id: r.payload for r in
                builder(df).select("doc_id", "payload").collect()}
        assert rows[1] is None and rows[2] is not None
