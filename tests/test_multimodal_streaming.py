"""Multimodal plumbing (real schema/batching, stubbed codec) and the
Structured Streaming pipeline mode."""

import pytest
from pyspark.sql import functions as F

from cefspark import fixtures, multimodal, pipeline, streaming


def test_multimodal_feature_extraction_deterministic(spark):
    assets = multimodal.synthesize_assets(spark, 30)
    feats = multimodal.extract_features(assets).collect()
    assert len(feats) == 30
    by_id = {r["asset_id"]: r for r in feats}
    assert all(len(r["features"]) == multimodal.FEATURE_DIM for r in feats)
    # deterministic across runs
    feats2 = {r["asset_id"]: r["features"] for r in
              multimodal.extract_features(assets).collect()}
    assert feats2["asset-000007"] == by_id["asset-000007"]["features"]
    assert by_id["asset-000000"]["n_bytes"] == len(
        assets.where(F.col("asset_id") == "asset-000000").first()["payload"])


def test_multimodal_real_decode_rejects_fake_payloads(spark):
    # kind-keyed dispatch: a non-container payload surfaces the matching
    # parser's typed ValueError for every kind — no silent fallthrough
    assets = multimodal.synthesize_assets(spark, 3)
    for kind, msg in [("image", "not a BMP container"),
                      ("audio", "not a RIFF/WAVE container"),
                      ("video", "not a GIF container")]:
        with pytest.raises(Exception) as ei:
            multimodal.extract_features(
                assets.where(F.col("kind") == kind),
                deterministic_fake=False).collect()
        assert msg in str(ei.value)


def test_frame_sampling_only_videos(spark):
    assets = multimodal.synthesize_assets(spark, 30)
    frames = multimodal.sample_frames(assets, every_n=1, max_frames=3).collect()
    vids = {r["asset_id"] for r in assets.where(F.col("kind") == "video").collect()}
    assert {r["asset_id"] for r in frames} == vids
    assert all(0 <= r["frame_idx"] < 3 for r in frames)
    assert all(len(r["frame_payload"]) <= 32 for r in frames)


def test_resize_stub_tags_meta(spark):
    assets = multimodal.synthesize_assets(spark, 3)
    out = multimodal.resize_stub(assets, 224, 224).first()
    assert out["meta"]["resize"] == "224x224"


def test_streaming_counts_match_batch(spark, tmp_path):
    src = str(tmp_path / "stream_in")
    pdf = fixtures.transcripts_pdf(2000)
    sdf = spark.createDataFrame(pdf)
    sdf.repartition(4).write.parquet(src)

    q = streaming.run_to_memory(spark, src, "scounts")
    q.awaitTermination(120)
    got = {(r["sink_id"], r["window_start"]): r["n_events"]
           for r in spark.sql("select * from scounts").collect()}

    batch = pipeline.sink_counts(
        pipeline.route(pipeline.enrich(pipeline.decode(sdf), spark))).collect()
    exp = {(r["sink_id"], r["window_start"]): r["n_events"] for r in batch}
    assert got == exp and sum(got.values()) == 2000


def test_streaming_parquet_sink_with_checkpoint(spark, tmp_path):
    src = str(tmp_path / "in")
    spark.createDataFrame(fixtures.transcripts_pdf(500)).write.parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = streaming.run_to_parquet(spark, src, out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 500
    # re-run with same checkpoint: file source is exactly-once -> no dup rows
    q2 = streaming.run_to_parquet(spark, src, out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 500


def test_stateful_conversation_stats(spark, tmp_path):
    src = str(tmp_path / "conv_in")
    pdf = fixtures.transcripts_pdf(1600)
    sdf = spark.createDataFrame(pdf)
    # files land at the top level (FileStreamSource does not recurse);
    # maxFilesPerTrigger=2 forces several micro-batches so state must carry
    sdf.where(F.col("turn_idx") < 4).coalesce(2).write.parquet(src)
    sdf.where(F.col("turn_idx") >= 4).coalesce(2).write.mode("append").parquet(src)

    q = streaming.run_conversation_stats(spark, src, "convstats",
                                         max_files_per_trigger=2)
    q.awaitTermination(120)
    got = spark.sql(
        "select conv_id, max(n_turns) n_turns, max(n_failed) n_failed,"
        " max(last_turn_idx) last_turn_idx from convstats group by conv_id").collect()
    got_m = {r["conv_id"]: (r["n_turns"], r["n_failed"], r["last_turn_idx"]) for r in got}

    batch = pipeline.decode(sdf)
    exp = {r["conv_id"]: (r["n"], r["f"], r["l"]) for r in
           batch.groupBy("conv_id").agg(
               F.count(F.lit(1)).alias("n"),
               F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("f"),
               F.max("turn_idx").alias("l")).collect()}
    assert got_m == exp
    assert all(v[0] == 8 for v in got_m.values())  # 8 turns per conversation


# --- real WAV codec -----------------------------------------------------------

def test_build_wav_is_readable_by_stdlib_wave():
    import io
    import wave

    from cefspark import multimodal

    blob = multimodal.build_wav(16000, 200, channels=2, with_list_chunk=True)
    with wave.open(io.BytesIO(blob)) as w:
        assert w.getnchannels() == 2
        assert w.getframerate() == 16000
        assert w.getnframes() == 200
        assert w.getsampwidth() == 2


def test_parse_wav_reads_stdlib_wave_output():
    import io
    import struct
    import wave

    from cefspark import multimodal

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<160h", *range(160)))
    meta = multimodal.parse_wav(buf.getvalue())
    assert meta == {"channels": 1, "sample_rate": 8000, "bits_per_sample": 16,
                    "n_frames": 160, "duration_ms": 20, "audio_format": 1}


def test_parse_wav_rejects_malformed_and_non_pcm():
    import pytest as _pytest
    import struct

    from cefspark import multimodal

    with _pytest.raises(ValueError):
        multimodal.parse_wav(b"not a wav at all")
    # format tag 3 (IEEE float) now DECODES when the bit depth is a float
    # width; a 16-bit blob relabeled float is internally inconsistent and
    # gets a typed ValueError, and truly exotic formats (ALAW=6) keep the
    # NotImplementedError
    blob = bytearray(multimodal.build_wav(8000, 10))
    fmt_at = blob.find(b"fmt ") + 8
    blob[fmt_at:fmt_at + 2] = struct.pack("<H", 3)
    with _pytest.raises(ValueError, match="float WAV with bit depth 16"):
        multimodal.parse_wav(bytes(blob))
    blob[fmt_at:fmt_at + 2] = struct.pack("<H", 6)
    with _pytest.raises(NotImplementedError):
        multimodal.parse_wav(bytes(blob))


def test_real_audio_features_are_rms_envelope(spark):
    import numpy as np

    from cefspark import multimodal

    assets = multimodal.synthesize_wav_assets(spark, n=6)
    feats = {r["asset_id"]: r["features"] for r in
             multimodal.extract_features(assets, deterministic_fake=False).collect()}
    assert len(feats) == 6
    for aid, f in feats.items():
        assert len(f) == multimodal.FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in f)
    # deterministic: same input -> same features, executor-independent
    again = {r["asset_id"]: r["features"] for r in
             multimodal.extract_features(assets, deterministic_fake=False).collect()}
    assert all(np.allclose(feats[k], again[k]) for k in feats)


def test_parse_bmp_honors_pixel_offset_and_rejects_bad_input():
    import struct

    import pytest as _pytest

    from cefspark import multimodal

    # gap between headers and pixels: the offset field must be honored
    blob = multimodal.build_bmp(7, 5, with_gap=True)
    meta = multimodal.parse_bmp(blob)
    assert meta == {"width": 7, "height": 5, "bits_per_pixel": 24,
                    "n_pixel_bytes": 24 * 5,  # rows pad 21 -> 24 bytes
                    "compression": 0}
    with _pytest.raises(ValueError):
        multimodal.parse_bmp(b"BMtooshort")
    with _pytest.raises(ValueError):
        multimodal.parse_bmp(blob[:40])  # truncated pixel array
    comp = bytearray(blob)
    comp[30:34] = struct.pack("<I", 1)  # BI_RLE8 on a 24-bit blob: illegal
    with _pytest.raises(ValueError, match="BI_RLE8 with bit depth 24"):
        multimodal.parse_bmp(bytes(comp))
    comp[30:34] = struct.pack("<I", 3)  # BI_BITFIELDS: genuinely codec work
    with _pytest.raises(NotImplementedError):
        multimodal.parse_bmp(bytes(comp))


def test_real_image_features_are_band_intensities(spark):
    from cefspark import multimodal

    assets = multimodal.synthesize_bmp_assets(spark, n=6)
    feats = {r["asset_id"]: r["features"] for r in
             multimodal.extract_features(assets, deterministic_fake=False).collect()}
    assert len(feats) == 6
    for f in feats.values():
        assert len(f) == multimodal.FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in f)
        assert any(x > 0.0 for x in f)  # gradient payload is not all-black


def test_parse_bmp_sub_byte_stride_and_negative_width():
    """ADVICE r3: stride must round up in BITS (width=33 @ 1bpp -> 8 bytes,
    not 4), width<=0 and exotic bit depths are typed rejections."""
    import struct

    import pytest as _pytest

    from cefspark import multimodal

    def bmp_with(width, height, bpp, n_pixel_bytes):
        info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, bpp, 0,
                           n_pixel_bytes, 2835, 2835, 0, 0)
        header = struct.pack("<2sIHHI", b"BM", 54 + n_pixel_bytes, 0, 0, 54)
        return header + info + b"\x00" * n_pixel_bytes

    # 33px @ 1bpp: ceil(33/32)*4 = 8 stride bytes per row
    meta = multimodal.parse_bmp(bmp_with(33, 2, 1, 16))
    assert meta["n_pixel_bytes"] == 16
    # the old byte-granularity formula would claim 4-byte rows -> 8 total and
    # wrongly accept this truncated blob; the bit-exact formula rejects it
    with _pytest.raises(ValueError):
        multimodal.parse_bmp(bmp_with(33, 2, 1, 8))
    with _pytest.raises(ValueError):
        multimodal.parse_bmp(bmp_with(-7, 2, 24, 64))
    with _pytest.raises(ValueError):
        multimodal.parse_bmp(bmp_with(4, 2, 13, 64))


def test_parse_wav_zero_sample_rate_is_typed():
    """ADVICE r3: sample_rate=0 must raise ValueError, not ZeroDivisionError."""
    import struct

    import pytest as _pytest

    from cefspark import multimodal

    blob = bytearray(multimodal.build_wav(8000, 10))
    fmt_at = blob.find(b"fmt ") + 8
    blob[fmt_at + 4:fmt_at + 8] = struct.pack("<I", 0)  # sample_rate = 0
    with _pytest.raises(ValueError):
        multimodal.parse_wav(bytes(blob))


def test_extract_features_dispatches_on_kind_not_magic(spark):
    """ADVICE r3: a corrupt audio payload (kind='audio', wrong magic) must
    surface the parser's typed ValueError, not the video NotImplementedError."""
    import pytest as _pytest

    from cefspark import multimodal

    bad = spark.createDataFrame(
        [("a-0", "audio", b"not riff at all", {})], multimodal.ASSET_SCHEMA)
    with _pytest.raises(Exception) as ei:
        multimodal.extract_features(bad, deterministic_fake=False).collect()
    assert "not a RIFF/WAVE container" in str(ei.value)
    assert "NotImplementedError" not in str(ei.value)


# --- real GIF codec -----------------------------------------------------------

def test_build_gif_parse_gif_roundtrip():
    blob = multimodal.build_gif(8, 6, 4, with_comment=True)
    meta = multimodal.parse_gif(blob)
    assert meta["version"] == "GIF89a"
    assert (meta["width"], meta["height"]) == (8, 6)
    assert meta["n_colors"] == 4
    assert meta["n_frames"] == 4
    for f, fr in enumerate(meta["frames"]):
        assert (fr["left"], fr["top"]) == (f % 3, f % 2)
        assert (fr["width"], fr["height"]) == (8 - f % 3, 6 - f % 2)
        # frame byte spans start at the image descriptor
        assert blob[fr["offset"]] == 0x2C


def test_parse_gif_rejects_malformed():
    with pytest.raises(ValueError):
        multimodal.parse_gif(b"not a gif")
    blob = multimodal.build_gif(5, 4, 2)
    with pytest.raises(ValueError):
        multimodal.parse_gif(blob[:-1])  # trailer gone
    with pytest.raises(ValueError):
        multimodal.parse_gif(blob[:30])  # truncated mid-frame
    bad = bytearray(blob)
    bad[25] = 0x99  # neither extension, descriptor, nor trailer
    with pytest.raises(ValueError):
        multimodal.parse_gif(bytes(bad))


def test_decode_gif_pixels_recovers_pattern():
    import numpy as np

    blob = multimodal.build_gif(7, 5, 3)
    frames = multimodal.decode_gif_pixels(blob)
    assert len(frames) == 3
    for f, px in enumerate(frames):
        fw, fh = 7 - f % 3, 5 - f % 2
        assert px.shape == (fh, fw)
        want = np.fromfunction(lambda y, x: (x + y + f) % 4, (fh, fw))
        assert np.array_equal(px, want)


def test_gif_lzw_decoder_handles_adaptive_streams():
    """The decoder must handle table growth, width increases, and KwKwK —
    proven against an independent ADAPTIVE encoder (the builder only emits
    fixed-width streams)."""
    import random

    def adaptive_encode(pixels, min_code_size):
        clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
        table = {(i,): i for i in range(clear)}
        next_code, width = eoi + 1, min_code_size + 1
        bits = nbits = 0
        out = bytearray()

        def emit(code, w):
            nonlocal bits, nbits
            bits |= code << nbits
            nbits += w
            while nbits >= 8:
                out.append(bits & 0xFF)
                bits >>= 8
                nbits -= 8

        emit(clear, width)
        run = (pixels[0],)
        for p in pixels[1:]:
            if run + (p,) in table:
                run = run + (p,)
                continue
            emit(table[run], width)
            table[run + (p,)] = next_code
            next_code += 1
            # GIF spec: width grows AFTER the code that fills the table
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
            run = (p,)
        emit(table[run], width)
        emit(eoi, width)
        if nbits:
            out.append(bits & 0xFF)
        return bytes(out)

    rng = random.Random(7)
    # KwKwK-inducing repetition + enough symbols to grow past 2 width bumps
    pixels = [0, 0, 0, 0] + [rng.randrange(4) for _ in range(3000)]
    enc = adaptive_encode(pixels, 2)
    assert multimodal._gif_lzw_decode(enc, 2) == pixels
    # corrupt stream: out-of-range code is a typed error
    with pytest.raises(ValueError):
        multimodal._gif_lzw_decode(b"\xff\xff\xff\xff", 2)


def test_sample_frames_real_gif_path(spark):
    assets = multimodal.synthesize_gif_assets(spark, 9)
    rows = multimodal.sample_frames(assets, every_n=1, max_frames=8,
                                    deterministic_fake=False).collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], []).append(r)
    for i in range(9):
        aid = f"vid-{i:06d}"
        assert len(by_asset[aid]) == 1 + i % 5  # real frame counts
        for r in by_asset[aid]:
            assert bytes(r["frame_payload"])[0] == 0x2C  # real descriptor slice


def test_gif_block_stats_match_closed_form():
    import numpy as np

    blob = multimodal.build_gif(6, 5, 2)
    flat = []
    for f in range(2):
        fw, fh = 6 - f % 3, 5 - f % 2
        flat.extend((x + y + f) % 4 for y in range(fh) for x in range(fw))
    want = [(int(b.sum()), len(b)) for b in
            np.array_split(np.array(flat, dtype=np.int64), multimodal.FEATURE_DIM)]
    assert multimodal._gif_block_stats(blob) == want
    feats = multimodal._gif_features(blob)
    assert len(feats) == multimodal.FEATURE_DIM
    assert all(0.0 <= v <= 1.0 for v in feats)


def test_wav_8bit_decodes_at_native_width():
    """Review r4 follow-up: 8-bit PCM decodes at its native width (unsigned,
    centered at 128) — NEVER silently reinterpreted as int16."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)  # 8-bit PCM
        w.setframerate(8000)
        w.writeframes(bytes(range(100)))
    blob = buf.getvalue()
    meta = multimodal.parse_wav(blob)
    assert meta["bits_per_sample"] == 8 and meta["n_frames"] == 100
    stats = multimodal._wav_block_stats(blob)
    assert sum(n for _, n in stats) == 100  # 100 samples, not 50 bogus int16
    # exact: sum over blocks of (v-128)^2 equals the closed form
    assert sum(s for s, _ in stats) == sum((v - 128) ** 2 for v in range(100))


def test_gif_features_bounded_with_local_palette():
    """Review r4: features normalize by the largest ACTIVE palette (local
    color tables override the global one)."""
    import struct

    # spec-valid GIF89a, NO global color table, one frame with a local
    # 8-color table, 2x2 pixels of indices 0..3 (fixed-width LZW, mcs=3)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 2, 2, 0x00, 0, 0)  # no GCT
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, 2, 2, 0x80 | 0x02)  # LCT, 8 colors
    out += bytes(24)  # local color table
    lzw = multimodal._gif_lzw_encode([0, 1, 2, 3], min_code_size=3)
    out.append(3)
    out.append(len(lzw)); out += lzw
    out.append(0)
    out.append(0x3B)
    meta = multimodal.parse_gif(bytes(out))
    assert meta["n_colors"] == 0 and meta["frames"][0]["n_local_colors"] == 8
    feats = multimodal._gif_features(bytes(out))
    assert all(0.0 <= v <= 1.0 for v in feats)


def test_streaming_dedup_drops_redelivered_events(spark, tmp_path):
    """At-least-once redelivery collapses to exactly-once within the
    watermark horizon: the same batch written twice (plus an extra unique
    file) yields each (conv_id, turn_idx) exactly once."""
    src = str(tmp_path / "dup_in")
    pdf = fixtures.transcripts_pdf(400)
    sdf = spark.createDataFrame(pdf)
    sdf.coalesce(1).write.parquet(src)                        # delivery 1
    sdf.coalesce(1).write.mode("append").parquet(src)         # redelivery
    q = streaming.run_dedup_to_memory(spark, src, "dedup_out",
                                      max_files_per_trigger=1)
    q.awaitTermination(120)
    got = spark.sql("select conv_id, turn_idx, count(*) c from dedup_out "
                    "group by 1,2 having c > 1").count()
    assert got == 0
    assert spark.sql("select count(*) from dedup_out").first()[0] == 400


def test_gif_interlaced_frames_decode_to_natural_order():
    """Round 4: interlaced GIFs (4-pass row order) decode to the same
    natural-order rasters as their progressive twins."""
    import numpy as np

    prog = multimodal.decode_gif_pixels(multimodal.build_gif(9, 11, 2))
    inter = multimodal.decode_gif_pixels(
        multimodal.build_gif(9, 11, 2, interlace=True))
    assert all(np.array_equal(a, b) for a, b in zip(prog, inter))


def test_wav_all_pcm_widths_decode(spark):
    """Round 4: 8/16/24/32-bit PCM all decode to correctly-scaled RMS
    features (8-bit cross-checked against stdlib wave output)."""
    import io
    import struct
    import wave

    import numpy as np

    # 8-bit unsigned PCM via stdlib wave: full-swing square wave -> RMS ~1
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1); w.setsampwidth(1); w.setframerate(8000)
        w.writeframes(bytes([0, 255] * 160))
    f8 = multimodal._wav_features(buf.getvalue())
    assert all(0.9 < v <= 1.01 for v in f8)

    # 24-bit and 32-bit: hand-built containers, constant half-range samples
    def pcm_wav(bits, frames):
        bytes_per = bits // 8
        if bits == 24:
            data = b"".join(struct.pack("<i", 1 << 22)[:3] for _ in range(frames))
        else:
            data = b"".join(struct.pack("<i", 1 << 30) for _ in range(frames))
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * bytes_per,
                          bytes_per, bits)
        body = (b"WAVEfmt " + struct.pack("<I", 16) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    for bits in (24, 32):
        feats = multimodal._wav_features(pcm_wav(bits, 320))
        assert all(np.isclose(v, 0.5, atol=0.01) for v in feats), (bits, feats)

    # exotic widths stay typed rejections
    import pytest as _pytest
    with _pytest.raises(ValueError):
        multimodal._wav_samples(b"RIFF\x00\x00\x00\x00WAVE", bits=12)


def test_wav_truncated_data_chunk_typed_for_all_widths():
    """Review r4 pass 2: a data chunk that is not a whole number of samples
    is a typed ValueError for every width (16-bit used to crash untyped in
    numpy; 24/32-bit used to silently trim)."""
    import struct

    def pcm_wav_raw(bits, data):
        bytes_per = max(1, bits // 8)
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * bytes_per,
                          bytes_per, bits)
        body = (b"WAVEfmt " + struct.pack("<I", 16) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    for bits, n_bad in ((16, 5), (24, 7), (32, 6)):
        with pytest.raises(ValueError):
            multimodal._wav_block_stats(pcm_wav_raw(bits, b"\x01" * n_bad))


def test_wav_24bit_block_sums_do_not_overflow():
    """Review r4 pass 2: block sums of squared 24-bit samples exceed int64
    past ~131k full-scale samples per block; the Python-int accumulation
    must stay exact (numpy's int64 sum wraps negative)."""
    import struct

    n = 140_000 * 2  # two FEATURE_DIM=16 blocks' worth would be huge; use
    # a payload small enough to build fast but with a closed-form check
    n = 40_000
    sample = struct.pack("<i", (1 << 23) - 1)[:3]
    data = sample * n
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 24000, 3, 24)
    body = (b"WAVEfmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    blob = b"RIFF" + struct.pack("<I", len(body)) + body
    stats = multimodal._wav_block_stats(blob)
    v = (1 << 23) - 1
    assert sum(s for s, _ in stats) == n * v * v  # exact, positive
    assert all(s >= 0 for s, _ in stats)


def test_streaming_interval_enrich_matches_batch_interval_join(spark, tmp_path):
    """Stream-static SCD-2 enrich == batch interval_join on the same input
    (in-window match, gap, open-ended interval, pre-state event)."""
    from pyspark.sql import functions as F

    from cefspark.asof import interval_join

    events = spark.createDataFrame(
        [(1, 0, 150), (2, 0, 250), (3, 0, 999), (4, 1, 10)],
        "event_id long, k long, sec long").select(
        "event_id", "k", F.timestamp_seconds("sec").alias("ts"))
    intervals = spark.createDataFrame(
        [(0, 100, 200, "v1"), (0, 300, None, "v2"), (1, 50, 60, "w1")],
        "k long, f long, t long, cfg string").select(
        "k", F.timestamp_seconds("f").alias("valid_from"),
        F.timestamp_seconds("t").alias("valid_to"), "cfg")

    src = str(tmp_path / "iv_in")
    events.write.parquet(src)
    stream = (spark.readStream.schema("event_id long, k long, ts timestamp")
              .parquet(src))
    enriched = streaming.interval_enrich(
        stream, intervals, key="k", event_ts="ts",
        valid_from="valid_from", valid_to="valid_to", value_cols=["cfg"])
    q = (enriched.writeStream.format("memory").queryName("iv_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["event_id"]: r["cfg"]
           for r in spark.sql("select * from iv_out").collect()}

    batch = {r["event_id"]: r["cfg"]
             for r in interval_join(events, intervals, key="k", left_ts="ts",
                                    valid_from="valid_from",
                                    valid_to="valid_to",
                                    value_cols=["cfg"]).collect()}
    assert got == batch == {1: "v1", 2: None, 3: "v2", 4: None}

    with pytest.raises(ValueError, match="collide"):
        streaming.interval_enrich(stream, intervals, key="k", event_ts="ts",
                                  valid_from="valid_from",
                                  valid_to="valid_to", value_cols=["event_id"])
    # reserved sentinel names reject loudly instead of silently dropping
    # (ADVICE r4): a user column named __iv_from would vanish in the .drop()
    from pyspark.sql import functions as F
    with pytest.raises(ValueError, match="reserved"):
        streaming.interval_enrich(
            stream.withColumn("__iv_from", F.lit(1)), intervals, key="k",
            event_ts="ts", valid_from="valid_from", valid_to="valid_to",
            value_cols=["cfg"])
    with pytest.raises(ValueError, match="reserved"):
        streaming.interval_enrich(
            stream, intervals.withColumn("__iv_key", F.lit(1)), key="k",
            event_ts="ts", valid_from="valid_from", valid_to="valid_to",
            value_cols=["cfg"])
    with pytest.raises(ValueError, match="reserved"):
        streaming.asof_enrich(
            stream.withColumn("__asof_valid_to", F.lit(1)), intervals,
            key="k", event_ts="ts", state_ts="valid_from", value_cols=["cfg"])


def test_session_window_counts_matches_batch_sessionizer(spark, tmp_path):
    """Native session_window == the lag/running-sum sessionizer on the real
    events table (per-user session count, sizes, and start times), and the
    streaming drain == the batch session_window result."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

    # batch sessionizer (the q_event_sessions 'session' variant, aggregated)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    gap = ms - F.lag(ms).over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60 * 1000), 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = (ev.withColumn("sidx", F.sum(is_new).over(run))
            .groupBy("user_id", "sidx")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("ts").alias("session_start")))
    exp = {(r["user_id"], r["session_start"]): r["n_events"]
           for r in sess.collect()}

    got_batch = {(r["user_id"], r["session_start"]): r["n_events"]
                 for r in streaming.session_window_counts(
                     ev, watermark=None).collect()}
    assert got_batch == exp
    assert len(exp) > ev.select("user_id").distinct().count()  # real splits

    # streaming drain (complete mode: emit all sessions at availableNow end)
    src = str(tmp_path / "sw_in")
    ev.write.parquet(src)
    stream = (spark.readStream
              .schema("event_id long, ts timestamp, user_id long, "
                      "event_type string, value double, props string")
              .parquet(src))
    q = (streaming.session_window_counts(stream)
         .writeStream.format("memory").queryName("sw_out")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got_stream = {(r["user_id"], r["session_start"]): r["n_events"]
                  for r in spark.sql("select * from sw_out").collect()}
    assert got_stream == exp


def test_streaming_asof_enrich_matches_batch_asof_join(spark, tmp_path):
    """Stream-static as-of == batch asof_join on the real events table
    (latest purchase at or before each event, inclusive ties)."""
    from pyspark.sql import functions as F

    from cefspark.asof import asof_join

    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .select("event_id", "user_id", "ts"))
    states = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
              .where("event_type = 'purchase'")
              .groupBy("user_id", F.col("ts").alias("state_ts"))
              .agg(F.max("event_id").alias("state_event_id")))

    batch = {r["event_id"]: r["state_event_id"]
             for r in asof_join(ev, states, key="user_id", left_ts="ts",
                                right_ts="state_ts",
                                value_cols=["state_event_id"]).collect()}

    src = str(tmp_path / "asof_in")
    ev.write.parquet(src)
    stream = (spark.readStream
              .schema("event_id long, user_id long, ts timestamp")
              .parquet(src))
    enr = streaming.asof_enrich(stream, states, key="user_id",
                                event_ts="ts", state_ts="state_ts",
                                value_cols=["state_event_id"])
    q = (enr.writeStream.format("memory").queryName("asof_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["event_id"]: r["state_event_id"]
           for r in spark.sql("select * from asof_out").collect()}
    assert got == batch
    assert any(v is not None for v in got.values())
    assert any(v is None for v in got.values())  # pre-first-purchase events


# ---------------------------------------------------------------------------
# PNG codec (round-5: stdlib zlib walker + full defilter + Adam7)
# ---------------------------------------------------------------------------


def test_build_png_parse_png_roundtrip_all_forms():
    """Every color type × interlace × filter-cycled rows round-trips to the
    exact gradient pixels (all five scanline filters exercised per image)."""
    import numpy as np

    from cefspark import multimodal as mm

    for w, h in ((1, 1), (5, 4), (7, 13), (16, 8), (33, 3)):
        for ct in (0, 2, 4, 6):
            for il in (0, 1):
                b = mm.build_png(w, h, color_type=ct, interlace=il)
                meta = mm.parse_png(b)
                assert (meta["width"], meta["height"]) == (w, h)
                assert meta["color_type"] == ct and meta["interlace"] == il
                assert meta["channels"] == mm._PNG_CHANNELS[ct]
                px = mm.decode_png_pixels(b)
                exp = mm._png_gradient(w, h, mm._PNG_CHANNELS[ct])
                assert px.shape == exp.shape and (px == exp).all()


def test_parse_png_rejects_malformed():
    import struct
    import zlib

    import pytest

    from cefspark import multimodal as mm

    good = mm.build_png(6, 5)
    with pytest.raises(ValueError, match="not a PNG"):
        mm.parse_png(b"BM" + good[2:])
    with pytest.raises(ValueError, match="not a PNG"):
        mm.parse_png(good[:20])
    # flip a byte inside the first IDAT chunk's data -> CRC mismatch
    bad = bytearray(good)
    idat_at = good.index(b"IDAT")
    bad[idat_at + 5] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        mm.parse_png(bytes(bad))
    # truncated mid-chunk (inside IDAT payload)
    idat_len_at = idat_at - 4
    with pytest.raises(ValueError, match="truncated"):
        mm.parse_png(good[:idat_len_at + 12])
    # IEND sheared off entirely
    with pytest.raises(ValueError, match="missing IEND"):
        mm.parse_png(good[:len(good) - 8])
    # spec-ILLEGAL depth/color combination is a typed rejection
    ihdr = struct.pack(">IIBBBBB", 4, 4, 2, 2, 0, 0, 0)  # 2-bit RGB: illegal
    bad_depth = (mm.PNG_SIG + mm._png_chunk(b"IHDR", ihdr)
                 + mm._png_chunk(b"IDAT", zlib.compress(b"\x00" * 100))
                 + mm._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="illegal PNG bit depth"):
        mm.parse_png(bad_depth)
    # IDAT inflating to the wrong length is a typed rejection
    ihdr8 = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    short = (mm.PNG_SIG + mm._png_chunk(b"IHDR", ihdr8)
             + mm._png_chunk(b"IDAT", zlib.compress(b"\x00" * 7))
             + mm._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="does not match"):
        mm.decode_png_pixels(short)


def test_decode_png_palette_path():
    """Hand-built indexed-color (type 3) PNG expands through PLTE to RGB;
    an out-of-range index is a typed rejection."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from cefspark import multimodal as mm

    w, h = 4, 3
    pal = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90])  # 3 entries
    idx = np.arange(w * h, dtype=np.uint8).reshape(h, w) % 3
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    png = (mm.PNG_SIG + mm._png_chunk(b"IHDR", ihdr)
           + mm._png_chunk(b"PLTE", pal)
           + mm._png_chunk(b"IDAT", zlib.compress(raw))
           + mm._png_chunk(b"IEND", b""))
    px = mm.decode_png_pixels(png)
    assert px.shape == (h, w, 3)
    expect = np.frombuffer(pal, np.uint8).reshape(3, 3)[idx]
    assert (px == expect).all()
    # index beyond the palette
    raw_bad = b"".join(b"\x00" + (idx[y] + 7).tobytes() for y in range(h))
    png_bad = (mm.PNG_SIG + mm._png_chunk(b"IHDR", ihdr)
               + mm._png_chunk(b"PLTE", pal)
               + mm._png_chunk(b"IDAT", zlib.compress(raw_bad))
               + mm._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="palette index"):
        mm.decode_png_pixels(png_bad)


def test_png_real_world_files_decode():
    """The walker parses arbitrary conformant files, not just its own
    builder's output: system PNGs (greyscale, RGBA, palette) decode,
    including the sub-8-bit palette favicon (all spec-legal bit depths
    decode since r5)."""
    import os

    import pytest

    from cefspark import multimodal as mm

    cases = {
        "/usr/share/doc/python3/_static/minus.png": (0, 1),   # grey
        "/usr/share/doc/python3/_static/file.png": (6, 4),    # RGBA
        "/usr/share/gitweb/static/git-logo.png": (3, 3),      # palette->RGB
    }
    seen = 0
    for path, (ct, out_ch) in cases.items():
        if not os.path.exists(path):
            continue  # image not present on this host; others still cover
        seen += 1
        b = open(path, "rb").read()
        meta = mm.parse_png(b)
        assert meta["color_type"] == ct
        px = mm.decode_png_pixels(b)
        assert px.shape == (meta["height"], meta["width"], out_ch)
    if seen == 0:
        pytest.skip("no system PNG fixtures present on this host")
    deep = "/usr/share/gitweb/static/git-favicon.png"  # 2-bit palette
    if os.path.exists(deep):
        b = open(deep, "rb").read()
        meta = mm.parse_png(b)
        assert meta["bit_depth"] < 8 and meta["color_type"] == 3
        px = mm.decode_png_pixels(b)  # sub-byte palette -> RGB
        assert px.shape == (meta["height"], meta["width"], 3)


def test_png_assets_flow_through_feature_and_stats_stages(spark):
    """PNG assets ride the same image stages as BMP (signature sniff within
    the kind): block stats equal the gradient's closed form and features are
    their normalized means."""
    import numpy as np

    from cefspark import multimodal as mm

    df = mm.synthesize_png_assets(spark, 12)
    metas = mm.extract_png_meta(df).orderBy("asset_id").collect()
    assert [m["width"] for m in metas] == [5 + i % 11 for i in range(12)]
    assert [m["interlace"] for m in metas] == [1 if i % 3 == 0 else 0
                                              for i in range(12)]
    stats = (mm.extract_block_stats(df).orderBy("asset_id", "block_idx")
             .collect())
    feats = {r["asset_id"]: r["features"]
             for r in mm.extract_features(df, deterministic_fake=False).collect()}
    for i in range(12):
        w, h = 5 + i % 11, 4 + i % 7
        ch = mm._PNG_CHANNELS[(0, 2, 4, 6)[i % 4]]
        flat = mm._png_gradient(w, h, ch).astype(np.int64).ravel()
        exp = [(int(b.sum()), len(b)) for b in np.array_split(flat, mm.FEATURE_DIM)]
        rows = stats[i * mm.FEATURE_DIM:(i + 1) * mm.FEATURE_DIM]
        assert [(r["block_sum"], r["block_n"]) for r in rows] == exp
        got = feats[f"png-{i:06d}"]
        want = [s / n / 255.0 if n else 0.0 for s, n in exp]
        assert np.allclose(got, want, atol=1e-6)


def test_streaming_spike_alerts_match_batch_detector(spark, tmp_path):
    """Streaming spike alerts (stream-static baseline join) == batch
    detect_rate_spikes on the same counts when the baseline is that batch's
    own per-sink medians; sentinel collisions reject loudly."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from cefspark import fixtures, pipeline, streaming

    src = str(tmp_path / "spike_in")
    import pandas as pd

    pdf = fixtures.transcripts_pdf(2000)
    # the raw fixture packs all turns into one hour (one window per sink ->
    # median == count, no spike can exist): spread turns across 48 hourly
    # windows, then replay the first 300 inside one hour as a volume burst
    pdf = pdf.copy()
    pdf["ts"] = pdf["ts"] + pd.to_timedelta(pdf.index % 48, unit="h")
    burst = pdf.iloc[:300].copy()
    burst["conv_id"] = burst["conv_id"] + "-replay"
    burst["ts"] = pdf["ts"].iloc[0].floor("h")
    sdf = spark.createDataFrame(pd.concat([pdf, burst], ignore_index=True))
    sdf.repartition(4).write.parquet(src)

    batch_counts = pipeline.sink_counts(
        pipeline.route(pipeline.enrich(pipeline.decode(sdf), spark)))
    baseline = pipeline.median_baseline(batch_counts)
    # append-mode contract: a window only EMITS once the watermark passes
    # its end, so the final open windows (and null-ts buckets, which
    # F.window drops) are not expected from the availableNow drain
    max_ts = sdf.agg(F.max("ts")).first()[0]
    horizon = max_ts - __import__("datetime").timedelta(minutes=10)
    exp = {(r["sink_id"], r["window_start"]): (r["n_events"], r["median_n"])
           for r in pipeline.detect_rate_spikes(batch_counts, factor=2).collect()
           if r["window_start"] is not None
           and r["window_start"] + __import__("datetime").timedelta(hours=1) <= horizon}
    assert exp  # fixture must actually contain spikes

    stream = streaming.read_transcript_stream(spark, src)
    counts = streaming.windowed_sink_counts(
        streaming.routed_stream(stream, spark))
    # windowed_sink_counts names the window column window_start already
    alerts = streaming.spike_alerts(counts, baseline, factor=2)
    q = (alerts.writeStream.format("memory").queryName("spikes")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["sink_id"], r["window_start"]): (r["n_events"], r["median_n"])
           for r in spark.sql("select * from spikes").collect()}
    assert got == exp

    with _pytest.raises(ValueError, match="reserved"):
        streaming.spike_alerts(
            counts.withColumn("__bl_median", F.lit(1)), baseline)


def test_png_all_legal_bit_depths_decode():
    """Hand-built PNGs at every spec-legal depth/color combination decode to
    the exact planted samples: 16-bit big-endian assembly, sub-byte
    (1/2/4-bit) MSB-first unpacking with padded row tails, filters applied
    on byte-level filter units throughout."""
    import struct
    import zlib

    import numpy as np

    from cefspark import multimodal as mm

    def make(w, h, depth, color, rows_of_samples):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
        raw = b""
        for row in rows_of_samples:  # row = list of per-sample ints
            if depth == 16:
                body = b"".join(struct.pack(">H", s) for s in row)
            elif depth == 8:
                body = bytes(row)
            else:
                bits = "".join(format(s, f"0{depth}b") for s in row)
                bits += "0" * (-len(bits) % 8)
                body = int(bits, 2).to_bytes(len(bits) // 8, "big") if bits else b""
            raw += b"\x00" + body
        chunks = [mm._png_chunk(b"IHDR", ihdr)]
        if color == 3:
            chunks.append(mm._png_chunk(
                b"PLTE", bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 5, 6, 7])))
        chunks += [mm._png_chunk(b"IDAT", zlib.compress(raw)),
                   mm._png_chunk(b"IEND", b"")]
        return mm.PNG_SIG + b"".join(chunks)

    # 16-bit grayscale: values beyond uint8
    blob = make(3, 2, 16, 0, [[1000, 2000, 65535], [0, 256, 513]])
    px = mm.decode_png_pixels(blob)
    assert px.dtype == np.uint16
    assert px[:, :, 0].tolist() == [[1000, 2000, 65535], [0, 256, 513]]

    # 16-bit RGB
    blob = make(2, 1, 16, 2, [[1, 2, 3, 60000, 50000, 40000]])
    px = mm.decode_png_pixels(blob)
    assert px[0].tolist() == [[1, 2, 3], [60000, 50000, 40000]]

    # 1/2/4-bit grayscale with non-byte-aligned widths (pad tail dropped)
    for depth, w, samples in ((1, 5, [1, 0, 1, 1, 0]),
                              (2, 3, [3, 0, 2]),
                              (4, 3, [15, 7, 1])):
        blob = make(w, 1, depth, 0, [samples])
        px = mm.decode_png_pixels(blob)
        assert px[0, :, 0].tolist() == samples, depth

    # 2-bit palette -> RGB through PLTE
    blob = make(4, 2, 2, 3, [[0, 1, 2, 3], [3, 2, 1, 0]])
    px = mm.decode_png_pixels(blob)
    pal = [[10, 20, 30], [40, 50, 60], [70, 80, 90], [5, 6, 7]]
    assert px.tolist() == [[pal[0], pal[1], pal[2], pal[3]],
                           [pal[3], pal[2], pal[1], pal[0]]]

    # 16-bit gray with Up filter: filter unit is 2 bytes
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    r0 = b"\x00" + struct.pack(">HH", 300, 400)
    delta = struct.pack(">HH", 100, 200)  # byte-wise Up adds mod 256 per byte
    r1 = b"\x02" + bytes((a + b) % 256 for a, b in zip(b"\x00" * 4, delta))
    raw = r0 + b"\x02" + delta  # recon row1 = row0 + delta bytewise
    blob = (mm.PNG_SIG + mm._png_chunk(b"IHDR", ihdr)
            + mm._png_chunk(b"IDAT", zlib.compress(raw))
            + mm._png_chunk(b"IEND", b""))
    px = mm.decode_png_pixels(blob)
    assert px[0, :, 0].tolist() == [300, 400]
    # filters are BYTEWISE mod-256 (no carry across the 16-bit sample):
    # 300=0x012C + 0x0064 -> 0x0190=400, but 400=0x0190 + 0x00C8 ->
    # low byte 0x90+0xC8 wraps to 0x58 -> 0x0158=344 (spec 9.2)
    assert px[1, :, 0].tolist() == [400, 344]


def test_ieee_float_wav_decodes():
    """Format-3 (IEEE float32) WAVs parse and produce the same RMS envelope
    as the equivalent PCM blob (the float sawtooth is the int sawtooth /
    32768), and the integer block-stat path correctly refuses them."""
    import numpy as np
    import pytest as _pytest

    from cefspark import multimodal as mm

    fblob = mm.build_wav(8000, 320, channels=1, ieee_float=True)
    meta = mm.parse_wav(fblob)
    assert meta["audio_format"] == 3 and meta["bits_per_sample"] == 32
    assert meta["n_frames"] == 320

    pcm = mm.build_wav(8000, 320, channels=1)
    f_feat = mm._wav_features(fblob)
    p_feat = mm._wav_features(pcm)
    assert np.allclose(f_feat, p_feat, rtol=1e-6)
    assert all(0.0 <= x <= 1.01 for x in f_feat)
    with _pytest.raises(ValueError, match="no integer block-stat contract"):
        mm._wav_block_stats(fblob)
    # truncated float data chunk is typed
    bad = bytearray(fblob)
    data_at = bad.find(b"data")
    import struct as _struct
    (dlen,) = _struct.unpack("<I", bad[data_at + 4:data_at + 8])
    bad[data_at + 4:data_at + 8] = _struct.pack("<I", dlen - 2)
    bad2 = bytes(bad[:len(bad) - 2])
    with _pytest.raises(ValueError):
        mm._wav_features(bad2)


def test_bmp_rle8_decodes():
    """BI_RLE8 BMPs decode through all four escapes (runs, absolute
    literals, EOL, delta, EOF) to the uncompressed-equivalent padded
    layout; malformed streams are typed rejections; the real-decode feature
    path accepts them."""
    import numpy as np
    import pytest as _pytest

    from cefspark import multimodal as mm

    for deltas in (False, True):
        blob = mm.build_bmp_rle8(11, 6, deltas=deltas)
        meta = mm.parse_bmp(blob)
        assert meta["compression"] == 1 and meta["bits_per_pixel"] == 8
        img = mm.decode_bmp_rle8(blob)
        assert img.shape == (6, 12)  # 11 -> 12-byte stride
        assert img[:, 11:].sum() == 0  # pad zeros
        # reconstruct row 0 (stream order) from the generator's closed rule
        x = r = 0
        row = np.zeros(12, np.uint8)
        while x < 11:
            run = min(1 + (0 + r) % 4, 11 - x)
            row[x:x + run] = (0 * 31 + r * 7) % 256
            x += run
            r += 1
            if deltas and x >= 9 and x < 11:
                x = 11
        assert (img[0] == row).all()

    # stats/features flow through the RLE decode
    stats = mm._bmp_block_stats(mm.build_bmp_rle8(9, 4))
    flat = mm.decode_bmp_rle8(mm.build_bmp_rle8(9, 4)).astype(np.int64).ravel()
    exp = [(int(b.sum()), len(b)) for b in np.array_split(flat, mm.FEATURE_DIM)]
    assert stats == exp

    # malformed: run overflowing the row, truncated stream, missing EOF
    good = bytearray(mm.build_bmp_rle8(5, 2))
    import struct as _struct
    offset = _struct.unpack("<I", good[10:14])[0]
    bad = bytearray(good)
    bad[offset:offset + 2] = bytes((200, 7))  # 200-run into a 5-wide row
    with _pytest.raises(ValueError, match="overflows"):
        mm.decode_bmp_rle8(bytes(bad))
    with _pytest.raises(ValueError, match="end-of-bitmap"):
        mm.decode_bmp_rle8(bytes(good[:len(good) - 2]))
    # RLE8 with a non-8 bit depth is spec-illegal -> typed
    bad2 = bytearray(good)
    bad2[28:30] = _struct.pack("<H", 24)
    with _pytest.raises(ValueError, match="BI_RLE8 with bit depth"):
        mm.parse_bmp(bytes(bad2))


def test_bmp_rle8_absolute_mode_hand_built():
    """The decoder's absolute-literal branch (n=0, b>=3 literals,
    word-aligned) against a HAND-BUILT stream another encoder could emit —
    the library builder never uses absolute mode, so this covers the branch
    with explicit bytes: odd-length literals need a pad byte, and a
    truncated literal block is typed."""
    import struct

    import numpy as np
    import pytest as _pytest

    from cefspark import multimodal as mm

    def wrap(stream, w, h):
        palette = b"\x00" * 1024
        offset = 14 + 40 + len(palette)
        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1,
                           len(stream), 2835, 2835, 256, 0)
        header = struct.pack("<2sIHHI", b"BM", offset + len(stream), 0, 0, offset)
        return bytes(header + info + palette + stream)

    # row0: run of 2 x 9, absolute [5,6,7] (odd -> pad), run 1 x 1; row1:
    # absolute [1,2,3,4] (even, no pad), run 2 x 8
    stream = bytes((2, 9, 0, 3, 5, 6, 7, 0,  # 3 literals + pad byte
                    1, 1, 0, 0,              # 1-run, EOL
                    0, 4, 1, 2, 3, 4,        # 4 literals, no pad
                    2, 8, 0, 0,              # run, EOL
                    0, 1))                   # EOF
    img = mm.decode_bmp_rle8(wrap(stream, 6, 2))
    assert img.shape == (2, 8)  # 6 -> 8-byte stride
    assert img[0, :6].tolist() == [9, 9, 5, 6, 7, 1]
    assert img[1, :6].tolist() == [1, 2, 3, 4, 8, 8]
    assert img[:, 6:].sum() == 0

    # absolute run overflowing the row is typed
    bad = bytes((0, 5, 1, 2, 3, 4, 5, 0,  # 5 literals into x=4 remaining...
                 0, 0, 0, 1))
    full = bytes((2, 9,)) + bad
    with _pytest.raises(ValueError, match="overflows"):
        mm.decode_bmp_rle8(wrap(full, 6, 2))
    # truncated literal block is typed
    trunc = bytes((0, 4, 1, 2))
    with _pytest.raises(ValueError, match="truncated RLE8 absolute"):
        mm.decode_bmp_rle8(wrap(trunc, 6, 2))


def test_resize_images_real_pixels(spark):
    """Nearest-neighbor resize over REAL decoded pixels: identity resize
    returns the exact decoded array; up/downscale follow the integer floor
    mapping for BMP (bottom-up un-flip), PNG, and RLE8 routes; undecodable
    containers reject typed."""
    import numpy as np

    from cefspark import multimodal as mm

    bmp = mm.synthesize_bmp_assets(spark, 6)
    # identity: out dims == in dims for asset 0 (w=4, h=3)
    one = bmp.where(F.col("asset_id") == "img-000000")
    row = mm.resize_images(one, out_w=4, out_h=3).collect()[0]
    direct = mm.decode_bmp_pixels(
        bytes(one.collect()[0]["payload"]))
    assert np.frombuffer(row["px"], np.uint8).reshape(3, 4, 3).tolist() \
        == direct.tolist()
    assert row["px_sum"] == int(direct.astype(np.int64).sum())

    # downscale + upscale: exact floor-mapped sample, all assets
    for r in mm.resize_images(bmp, out_w=8, out_h=6).collect():
        i = int(r["asset_id"].split("-")[1])
        w, h = 4 + i % 9, 3 + i % 5
        assert (r["in_w"], r["in_h"], r["channels"]) == (w, h, 3)
        exp = sum(3 * ((((xo * w) // 8) * 7
                        + (h - 1 - (yo * h) // 6) * 13) % 256)
                  for xo in range(8) for yo in range(6))
        assert r["px_sum"] == exp, r["asset_id"]

    # PNG route: resized sample equals the decoded array's floor sample
    png = mm.synthesize_png_assets(spark, 3)
    prow = mm.resize_images(png, out_w=5, out_h=5).collect()[0]
    src = mm.decode_png_pixels(bytes(png.collect()[0]["payload"]))
    h, w, c = src.shape
    ys = (np.arange(5) * h) // 5
    xs = (np.arange(5) * w) // 5
    assert np.frombuffer(prow["px"], np.uint8).reshape(5, 5, c).tolist() \
        == src[ys][:, xs].tolist()

    # RLE8 route: single-channel raster gains a channel axis
    rle = mm.synthesize_bmp_rle_assets(spark, 2)
    rrow = mm.resize_images(rle, out_w=4, out_h=4).collect()[0]
    assert rrow["channels"] == 1 and len(rrow["px"]) == 16

    # typed rejections: unknown container, non-positive dims
    import pytest as _pytest

    with _pytest.raises(Exception, match="codec library|resize_stub"):
        mm._decode_any_pixels(b"RIFF....WAVE")
    with _pytest.raises(ValueError, match="positive"):
        mm.resize_images(bmp, out_w=0, out_h=4)


def test_resample_audio_real_samples(spark):
    """PCM resample: identity rate returns the exact decoded samples;
    downsample follows the floor frame mapping per channel; int32 output
    is lossless for 16-bit input; non-positive rate rejects."""
    import numpy as np

    from cefspark import multimodal as mm

    wavs = mm.synthesize_wav_assets(spark, 6)
    one = wavs.where(F.col("asset_id") == "asset-000000")  # 8kHz mono 80f
    blob = bytes(one.collect()[0]["payload"])
    src = mm._wav_samples(blob, 16)
    ident = mm.resample_audio(one, out_rate=8000).collect()[0]
    assert ident["out_frames"] == 80
    assert np.frombuffer(ident["pcm"], "<i4").tolist() == src.tolist()

    for r in mm.resample_audio(wavs, out_rate=12000).collect():
        i = int(r["asset_id"].split("-")[1])
        sr, frames, ch = 8000 * (1 + i % 3), 80 + (i % 7) * 40, 1 + i % 2
        of = (frames * 12000) // sr
        assert (r["in_rate"], r["in_frames"], r["out_frames"],
                r["channels"]) == (sr, frames, of, ch)
        exp = sum((((((j * frames) // of) * ch + c) * 257) % 65536) - 32768
                  for j in range(of) for c in range(ch))
        assert r["sample_sum"] == exp, r["asset_id"]

    with pytest.raises(ValueError, match="positive"):
        mm.resample_audio(wavs, out_rate=0)


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream inner join == the batch join with the same
    time-range condition, single-batch AND multi-batch (time-split files)
    drains; leftOuter validates and emits every inner match."""
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    left = events.where(F.col("event_id") % 3 == 0).select(
        "event_id", "user_id", "ts")
    right = events.where(F.col("event_id") % 3 != 0).select(
        F.col("event_id"), F.col("user_id"), F.col("ts"), F.col("event_type"))

    lsrc, rsrc = str(tmp_path / "ss_l"), str(tmp_path / "ss_r")
    left.coalesce(1).write.parquet(lsrc)
    right.coalesce(1).write.parquet(rsrc)

    def drain(lpath, rpath, name, mft=16):
        ls = (spark.readStream.schema("event_id long, user_id long, ts timestamp")
              .option("maxFilesPerTrigger", mft).parquet(lpath))
        rs = (spark.readStream
              .schema("event_id long, user_id long, ts timestamp, event_type string")
              .option("maxFilesPerTrigger", mft).parquet(rpath))
        j = streaming.stream_stream_join(ls, rs, key="user_id",
                                         lag="30 minutes")
        q = (j.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(180)
        return {(r["event_id"], r["r_event_id"])
                for r in spark.sql(f"select * from {name}").collect()}

    batch = {(r["event_id"], r["r_event_id"])
             for r in streaming.stream_stream_join(
                 left, right, key="user_id", lag="30 minutes").collect()}
    assert batch  # fixture actually produces matches

    got1 = drain(lsrc, rsrc, "ss_one")
    assert got1 == batch

    # multi-batch: time-split each side at the median ts (later files carry
    # strictly later event times, so nothing is ever late vs the watermark)
    all_ts = sorted(r["ts"] for r in events.select("ts").collect())
    med = all_ts[len(all_ts) // 2]   # driver-side median: test fixture only
    l2, r2 = str(tmp_path / "ss_l2"), str(tmp_path / "ss_r2")
    for src, df in ((l2, left), (r2, right)):
        df.where(F.col("ts") < F.lit(med)).coalesce(1).write.parquet(src)
    import time
    time.sleep(1.1)  # distinct mtimes: early file must be discovered first
    for src, df in ((l2, left), (r2, right)):
        (df.where(F.col("ts") >= F.lit(med)).coalesce(1)
         .write.mode("append").parquet(src))
    got2 = drain(l2, r2, "ss_two", mft=1)
    assert got2 == batch

    # leftOuter: every inner match present; NULL-match rows only for left
    # rows the final watermark has proven unmatched (outer emission is
    # watermark-delayed by design, so it's a subset relation, not equality)
    ls = (spark.readStream.schema("event_id long, user_id long, ts timestamp")
          .parquet(lsrc))
    rs = (spark.readStream
          .schema("event_id long, user_id long, ts timestamp, event_type string")
          .parquet(rsrc))
    jo = streaming.stream_stream_join(ls, rs, key="user_id",
                                      lag="30 minutes", how="leftOuter")
    q = (jo.writeStream.format("memory").queryName("ss_outer")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    outer = spark.sql("select * from ss_outer").collect()
    inner_pairs = {(r["event_id"], r["r_event_id"]) for r in outer
                   if r["r_event_id"] is not None}
    assert inner_pairs == batch
    matched_left = {l for l, _ in batch}
    assert all(r["event_id"] not in matched_left
               for r in outer if r["r_event_id"] is None)

    with pytest.raises(ValueError, match="unsupported"):
        streaming.stream_stream_join(ls, rs, key="user_id", how="fullOuter")
    with pytest.raises(ValueError, match="collide"):
        streaming.stream_stream_join(
            ls.withColumnRenamed("event_id", "r_event_id"), rs,
            key="user_id")


def test_exactly_once_sink_idempotent_under_replay(spark, tmp_path):
    """foreachBatch -> ManifestTable: all input rows land exactly once
    across micro-batches; a replayed batch (crash-restart redelivery) is
    skipped by the consumed-inputs ledger; a checkpoint-resumed query
    appends nothing when no new data arrived, then exactly the new file."""
    from cefspark.storage import ManifestTable

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("event_id", "user_id", "ts")
    src = str(tmp_path / "eo_in")
    events.where(F.col("event_id") % 4 == 0).coalesce(1).write.parquet(src)
    events.where(F.col("event_id") % 4 == 1).coalesce(1) \
        .write.mode("append").parquet(src)

    table = ManifestTable(str(tmp_path / "eo_table"))
    ckpt = str(tmp_path / "eo_ckpt")
    stream = (spark.readStream.schema("event_id long, user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = streaming.exactly_once_sink(stream, table, "eo_sink", ckpt)
    q.awaitTermination(120)

    expected = {r["event_id"] for r in events.where(
        F.col("event_id") % 4 <= 1).collect()}
    got = {r["event_id"] for r in table.read_union(spark).collect()}
    assert got == expected
    n_snaps = len(table.chain())
    assert n_snaps == 2  # one snapshot per micro-batch

    # simulate at-least-once redelivery: re-commit batch 0 by hand — the
    # ledger token dedupes it before any write
    batch0 = spark.read.parquet(src)
    token = "stream://eo_sink/batch/0"
    assert token in table.consumed_inputs()
    # replay through the same code path the restarted query would take
    def replay(df, bid):
        t = f"stream://eo_sink/batch/{bid}"
        if t in table.consumed_inputs():
            return
        table.commit(df, inputs=[t])
    replay(batch0, 0)
    assert len(table.chain()) == n_snaps
    assert {r["event_id"] for r in table.read_union(spark).collect()} == expected

    # checkpoint resume with no new data: nothing commits
    q2 = streaming.exactly_once_sink(
        (spark.readStream.schema("event_id long, user_id long, ts timestamp")
         .option("maxFilesPerTrigger", 1).parquet(src)),
        table, "eo_sink", ckpt)
    q2.awaitTermination(120)
    assert len(table.chain()) == n_snaps

    # new file arrives -> resumed query commits exactly the delta
    events.where(F.col("event_id") % 4 == 2).coalesce(1) \
        .write.mode("append").parquet(src)
    q3 = streaming.exactly_once_sink(
        (spark.readStream.schema("event_id long, user_id long, ts timestamp")
         .option("maxFilesPerTrigger", 1).parquet(src)),
        table, "eo_sink", ckpt)
    q3.awaitTermination(120)
    got3 = {r["event_id"] for r in table.read_union(spark).collect()}
    assert got3 == {r["event_id"] for r in events.where(
        F.col("event_id") % 4 <= 2).collect()}
    assert len(table.chain()) == n_snaps + 1


def _sine_wav(sr, n, freqs_amps, channels=1):
    """Minimal PCM16 RIFF blob carrying a sum of sines (test-local)."""
    import struct

    import numpy as np

    t = np.arange(n) / sr
    sig = sum(a * np.sin(2 * np.pi * f * t) for f, a in freqs_amps)
    mono = np.clip(sig, -32767, 32767).astype("<i2")
    frames = np.repeat(mono[:, None], channels, axis=1).reshape(-1)
    data = frames.tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, sr, sr * 2 * channels,
                      2 * channels, 16)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_audio_spectral_features_closed_form(spark):
    """FFT features over genuinely decoded samples: a sine laid exactly on
    an FFT bin reports that frequency with no leakage, the centroid of a
    pure tone equals the tone, a louder second tone wins dominance, and
    stereo averages to mono."""
    from cefspark import multimodal

    sr, n = 8000, 2048                      # bin width 3.90625 Hz
    pure = _sine_wav(sr, n, [(1000, 20000)])           # 1000 = bin 256 exactly
    duo = _sine_wav(sr, n, [(500, 8000), (2000, 25000)])
    stereo = _sine_wav(sr, n, [(1000, 20000)], channels=2)
    df = spark.createDataFrame(
        [("pure", bytearray(pure)), ("duo", bytearray(duo)),
         ("stereo", bytearray(stereo))],
        "asset_id string, payload binary")
    out = {r["asset_id"]: r for r in
           multimodal.audio_spectral_features(df).collect()}
    assert abs(out["pure"]["dominant_hz"] - 1000) < 1e-9
    assert abs(out["pure"]["centroid_hz"] - 1000) < 1.0   # leakage-free tone
    assert abs(out["duo"]["dominant_hz"] - 2000) < 1e-9   # louder tone wins
    assert 500 < out["duo"]["centroid_hz"] < 2000
    assert abs(out["stereo"]["dominant_hz"] - 1000) < 1e-9
    assert len(out["pure"]["bands"]) == multimodal.FEATURE_DIM
    # band profile: the 1 kHz band of the pure tone carries the most power
    # (1025 rfft bins array_split 16 -> chunk sizes [65, 64x15]; bin 256
    # = 1 kHz falls in chunk 3: 193..256)
    bands = out["pure"]["bands"]
    assert max(range(len(bands)), key=lambda i: bands[i]) == 3


def test_video_motion_features_closed_form(spark):
    """Frame-motion over composited decode: uniform full-screen frames give
    the exact index delta; a sub-rectangle frame only changes its own
    region (disposal-none compositing); single-frame clips report 0."""
    import struct

    from cefspark import multimodal

    def gif(frames):
        """Hand-built GIF89a: frames = [(left, top, w, h, fill_index)]."""
        out = bytearray(b"GIF89a")
        out += struct.pack("<HHBBB", 4, 4, 0x80 | 0x10 | 0x01, 0, 0)
        for i in range(4):
            out += bytes((i, i, i))
        for (left, top, w, h, fill) in frames:
            out += b"\x2c" + struct.pack("<HHHHB", left, top, w, h, 0)
            lzw = multimodal._gif_lzw_encode([fill] * (w * h))
            out.append(2)
            for off in range(0, len(lzw), 255):
                chunk = lzw[off:off + 255]
                out.append(len(chunk))
                out += chunk
            out.append(0)
        out.append(0x3B)
        return bytes(out)

    full_swap = gif([(0, 0, 4, 4, 1), (0, 0, 4, 4, 3)])   # |3-1| everywhere
    subrect = gif([(0, 0, 4, 4, 2), (1, 1, 2, 2, 0)])     # 4 px change by 2
    still = gif([(0, 0, 4, 4, 1)])
    df = spark.createDataFrame(
        [("swap", bytearray(full_swap)), ("sub", bytearray(subrect)),
         ("still", bytearray(still))], "asset_id string, payload binary")
    out = {r["asset_id"]: r for r in
           multimodal.video_motion_features(df).collect()}
    assert out["swap"]["motion"] == [2.0]
    assert out["sub"]["motion"] == [2.0 * 4 / 16]         # 0.5 exactly
    assert out["still"]["motion"] == [] and out["still"]["mean_motion"] == 0.0
    assert out["swap"]["n_frames"] == 2


def test_dedup_stream_drops_redelivered_rows(spark, tmp_path):
    """Streaming exact dedup over an at-least-once file source: the input
    is delivered twice (full re-send in a later file, plus intra-file
    duplication) and dedup_stream must emit each (conv_id, turn_idx)
    exactly once — equal to batch distinct — with watermark-bounded state."""
    import time as _time

    from cefspark import fixtures

    t = fixtures.transcripts_df(spark, 600).cache()
    src = str(tmp_path / "dd_in")
    # first delivery duplicates every row in-file; second file re-sends all
    t.unionByName(t).coalesce(1).write.mode("overwrite").parquet(src)
    _time.sleep(1.1)
    t.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(streaming.TRANSCRIPT_DDL)
              .option("maxFilesPerTrigger", 1).parquet(src))
    # fixture spans 600 s; a 30-minute horizon covers the whole replay window
    deduped = streaming.dedup_stream(stream, ["conv_id", "turn_idx"],
                                     watermark="30 minutes")
    q = (deduped.writeStream.format("memory").queryName("dd_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(240)

    got = spark.sql("SELECT conv_id, turn_idx FROM dd_out").collect()
    assert len(got) == 600, "each key must be emitted exactly once"
    assert {(r["conv_id"], r["turn_idx"]) for r in got} == \
        {(r["conv_id"], r["turn_idx"]) for r in t.collect()}
    t.unpersist()


def test_binary_codec_decode_streams_equal_batch(spark, tmp_path):
    """The new binary codecs are pure mapInPandas projections, so they run
    unchanged on a file stream: availableNow drain == batch decode for
    NetFlow packets and fluent blobs."""
    from cefspark import msgpackc, netflow

    nf_src = str(tmp_path / "nf_in")
    netflow.synthesize_netflow_assets(spark, 30).write.parquet(nf_src)
    fl_src = str(tmp_path / "fl_in")
    msgpackc.synthesize_fluent_assets(spark, 30).write.parquet(fl_src)

    for name, src, decode in [
        ("nf", nf_src,
         lambda d: netflow.decode_netflow(d).where(F.col("error").isNull())
         .select("asset_id", "record_idx", "srcaddr", "d_octets")),
        ("fl", fl_src,
         lambda d: msgpackc.decode_fluent(d).where(F.col("error").isNull())
         .select("asset_id", "event_idx", "tag", "record_json")),
    ]:
        batch = {tuple(r) for r in decode(spark.read.parquet(src)).collect()}
        stream = decode(spark.readStream.schema(
            spark.read.parquet(src).schema).parquet(src))
        q = (stream.writeStream.format("memory")
             .queryName(f"codec_{name}")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {tuple(r) for r in
               spark.sql(f"SELECT * FROM codec_{name}").collect()}
        assert got == batch and len(got) > 0, name
