"""Multimodal column plumbing: schema contracts, Arrow batch flow,
deterministic fake-decoder features, stubbed real decoder, and the
frame-sampling plan. (The decode kernels are stubbed by contract — see
operators/multimodal.py — so these tests pin everything around them.)"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from covid_data_challenge_spark.operators.multimodal import (
    FEATURE_DIM,
    FEATURES_SCHEMA,
    extract_features,
    frame_sample_plan,
    synth_media_table,
)


def test_extract_features_schema_and_determinism(spark):
    media = synth_media_table(spark, n=24)
    feats = extract_features(media, decoder="fake")
    assert feats.schema == FEATURES_SCHEMA
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 24
    for r in rows.values():
        assert len(r["features"]) == FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in r["features"])
        assert r["n_bytes"] > 0
    # deterministic across runs (payloads are id-derived)
    again = {r["media_id"]: r["features"] for r in extract_features(media).collect()}
    assert all(again[i] == rows[i]["features"] for i in rows)


def test_extract_features_n_bytes_matches_payload(spark):
    media = synth_media_table(spark, n=12)
    expected = {
        r["media_id"]: len(r["payload"]) for r in media.select("media_id", "payload").collect()
    }
    got = {r["media_id"]: r["n_bytes"] for r in extract_features(media).collect()}
    assert got == expected


def test_real_decoder_is_stubbed(spark):
    media = synth_media_table(spark, n=3)
    with pytest.raises(Exception, match="NotImplementedError|real media decoding"):
        extract_features(media, decoder="real").collect()


def test_unknown_decoder_rejected(spark):
    with pytest.raises(ValueError):
        extract_features(synth_media_table(spark, n=3), decoder="nope")


def test_frame_sample_plan_counts_and_timestamps(spark):
    media = synth_media_table(spark, n=9)
    plan = frame_sample_plan(media, every_ms=1000)
    durations = {
        r["media_id"]: r["duration_ms"]
        for r in media.filter(F.col("kind") == "video").collect()
    }
    rows = plan.collect()
    assert {r["media_id"] for r in rows} == set(durations)
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, frames in by_media.items():
        assert len(frames) == max(durations[mid] // 1000, 1)
        idxs = sorted(f["frame_idx"] for f in frames)
        assert idxs == list(range(len(frames)))
        assert all(f["sample_ts_ms"] == f["frame_idx"] * 1000 for f in frames)


def test_ppm_roundtrip_and_real_feature_kernel(spark):
    """The pure-numpy PPM path is a REAL decode: encode→decode is
    pixel-exact, the Arrow-batched features match a direct NumPy
    reference, and a corrupt payload quarantines to null features
    instead of failing the job."""
    import numpy as np

    from covid_data_challenge_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
        extract_features,
        ppm_features,
        resize_nearest,
        synth_ppm_table,
    )

    img = decode_ppm(encode_ppm(8, 6, seed=3))
    y, x, c = np.mgrid[0:6, 0:8, 0:3]
    expect = ((x * 7 + y * 13 + c * 29 + 3) % 256).astype(np.uint8)
    assert img is not None and (img == expect).all()

    small = resize_nearest(img, 4, 3)
    assert small.shape == (3, 4, 3)
    assert (small == img[[0, 2, 4]][:, [0, 2, 4, 6]]).all()

    media = synth_ppm_table(spark, n=20)
    out = {r["media_id"]: r["features"]
           for r in extract_features(media, decoder="ppm").collect()}
    assert out[0] is None and out[16] is None  # corrupt rows quarantined
    rows = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for mid, payload in rows.items():
        ref = ppm_features(payload)
        got = out[mid]
        if ref is None:
            assert got is None
        else:
            assert [round(v, 6) for v in got] == ref


def test_png_decoder_closes_the_sink_loop(spark, tmp_path):
    """The stdlib PNG decoder (VERDICT r5 #6): (a) decodes the engine's
    own PNG sink output pixel-exactly (encoder in sources/sinks.py →
    decoder in operators/multimodal.py closes the loop on a real image
    format); (b) unfilters all five scanline filter types against the
    numpy ground truth, byte-identical to the PPM decode of the same
    pattern; (c) the Arrow-batched Spark path matches the direct
    kernel; (d) corrupt payloads — truncated stream, flipped CRC, bad
    signature — quarantine to null instead of failing the job."""
    import numpy as np

    from covid_data_challenge_spark.operators.multimodal import (
        decode_png,
        decode_ppm,
        encode_png_rgb,
        encode_ppm,
        extract_features,
        png_features,
        ppm_features,
        synth_png_table,
    )
    from covid_data_challenge_spark.sources.sinks import write_png_heatmap

    # (a) sink → decoder roundtrip: a 3×4 heatmap, values 0..11
    cells = [(r, c, float(r * 4 + c)) for r in range(3) for c in range(4)]
    feed = spark.createDataFrame(cells, "r int, c int, v double")
    path = str(tmp_path / "hm.png")
    width, height = write_png_heatmap(feed, "r", "c", "v", path, cell_px=2)
    img = decode_png(open(path, "rb").read())
    assert img is not None and img.shape == (height, width, 3)
    # grayscale → all three channels equal; shades follow the sink's
    # 1..255 min-max scale in 2×2 blocks
    assert (img[:, :, 0] == img[:, :, 1]).all() and (img[:, :, 1] == img[:, :, 2]).all()
    for r, c, v in cells:
        shade = 1 + int(round(254.0 * v / 11.0))
        block = img[2 * r : 2 * r + 2, 2 * c : 2 * c + 2, 0]
        assert (block == shade).all(), (r, c, v)

    # (b) all five filters, pixel-exact, and PNG ≡ PPM on the same pattern
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        png = encode_png_rgb(9, 7, seed=5, filters=filters)
        got = decode_png(png)
        y, x, ch = np.mgrid[0:7, 0:9, 0:3]
        expect = ((x * 7 + y * 13 + ch * 29 + 5) % 256).astype(np.uint8)
        assert got is not None and (got == expect).all(), filters
    same_ppm = decode_ppm(encode_ppm(9, 7, seed=5))
    assert (decode_png(encode_png_rgb(9, 7, seed=5, filters=[4])) == same_ppm).all()
    assert png_features(encode_png_rgb(9, 7, seed=5)) == ppm_features(
        encode_ppm(9, 7, seed=5)
    )

    # (c) Spark batch == direct kernel; corrupt rows quarantined
    media = synth_png_table(spark, n=20)
    out = {r["media_id"]: r["features"]
           for r in extract_features(media, decoder="png").collect()}
    assert out[0] is None and out[16] is None  # truncated IDAT rows
    for r in media.collect():
        ref = png_features(bytes(r["payload"]))
        got = out[r["media_id"]]
        assert (got is None) == (ref is None)
        if ref is not None:
            assert [round(v, 6) for v in got] == ref

    # (d) tampered CRC and bad signature must quarantine
    good = bytearray(encode_png_rgb(6, 4, seed=1))
    good[20] ^= 0xFF  # flip a byte inside IHDR → CRC mismatch
    assert decode_png(bytes(good)) is None
    assert decode_png(b"\x89PNX" + b"\x00" * 32) is None


def test_wav_roundtrip_and_real_audio_kernel(spark):
    """The pure-numpy WAV path: encode→decode recovers the PCM samples,
    the Arrow-batched features match the direct kernel, and corrupt /
    non-PCM16 payloads quarantine to null."""
    import numpy as np

    from covid_data_challenge_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_wav,
        encode_wav,
        extract_features,
        wav_features,
    )

    payload = encode_wav(4000, sample_rate=8000, seed=2)
    samples, rate = decode_wav(payload)
    assert rate == 8000 and len(samples) == 4000
    assert np.abs(samples).max() <= 1.0 and np.abs(samples).max() > 0.5

    rows = [
        (0, "audio", bytearray(payload), "audio/wav", -1, -1, 500),
        (1, "audio", bytearray(b"garbage-not-riff"), "audio/wav", -1, -1, 1),
        (2, "audio", bytearray(encode_wav(800, seed=9)), "audio/wav", -1, -1, 100),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r["features"]
           for r in extract_features(media, decoder="wav").collect()}
    assert out[1] is None
    for mid in (0, 2):
        ref = wav_features(bytes(rows[mid][2]))
        assert [round(v, 6) for v in out[mid]] == ref


def test_y4m_roundtrip_real_video_kernel_and_frame_sampling(spark):
    """The pure-numpy Y4M path: decode recovers every luma frame
    pixel-exactly, motion between frames is detected, frame sampling
    picks exactly every n-th frame, and corrupt payloads quarantine."""
    import numpy as np

    from covid_data_challenge_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_y4m,
        encode_y4m,
        extract_features,
        sample_frames,
        y4m_features,
    )

    payload = encode_y4m(16, 8, n_frames=10, seed=4)
    frames, w, h = decode_y4m(payload)
    assert (w, h) == (16, 8) and frames.shape == (10, 8, 16)
    y, x = np.mgrid[0:8, 0:16]
    assert (frames[3] == ((x * 7 + y * 13 + 3 * 31 + 4) % 256).astype(np.uint8)).all()

    feats = y4m_features(payload)
    assert feats is not None and feats[4] > 0  # temporal motion present

    sampled = sample_frames(payload, every_n=4)
    assert sampled.shape[0] == 3 and (sampled[1] == frames[4]).all()

    rows = [
        (0, "video", bytearray(payload), "video/x-y4m", 16, 8, 400),
        (1, "video", bytearray(b"not a clip"), "video/x-y4m", -1, -1, 1),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r["features"]
           for r in extract_features(media, decoder="y4m").collect()}
    assert out[1] is None
    assert [round(v, 6) for v in out[0]] == feats


def test_jpeg_codec_flat_image_decodes_exactly(spark):
    """A flat image is DC-only in every block: after quantization all
    coefficients are 0 except (exactly representable) DC, so the
    baseline decode must reproduce the flat color EXACTLY — in 4:4:4,
    4:2:0, and with restart intervals (lossy-format caveats don't apply
    to the DC-only case)."""
    import numpy as np

    from covid_data_challenge_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
    )

    flat = np.full((16, 24, 3), 128, dtype=np.uint8)
    for kwargs in ({}, {"subsample": True}, {"restart_interval": 1}):
        out = decode_jpeg(encode_jpeg_baseline(24, 16, img=flat, **kwargs))
        assert out is not None and out.shape == (16, 24, 3)
        assert (out == 128).all(), kwargs


def test_jpeg_codec_roundtrip_error_bounds_and_restart_equivalence():
    """Round-trip through the engine's own encoder: 4:4:4 at q95 stays
    within a small mean error; 4:2:0 is bounded too (looser — the
    fixture pattern has per-pixel chroma). Restart markers re-pack the
    SAME quantized coefficients, so the decode with DRI is pixel-equal
    to the decode without."""
    import numpy as np

    from covid_data_challenge_spark.operators.jpeg import (
        _test_pattern,
        decode_jpeg,
        encode_jpeg_baseline,
    )

    img = _test_pattern(40, 24, seed=3)
    out444 = decode_jpeg(encode_jpeg_baseline(40, 24, seed=3, quality=95))
    assert out444 is not None and out444.shape == (24, 40, 3)
    mae = np.abs(out444.astype(int) - img.astype(int)).mean()
    assert mae < 5.0, mae
    out420 = decode_jpeg(
        encode_jpeg_baseline(40, 24, seed=3, quality=95, subsample=True)
    )
    assert out420 is not None
    mae420 = np.abs(out420.astype(int) - img.astype(int)).mean()
    assert mae420 < 25.0, mae420
    plain = decode_jpeg(encode_jpeg_baseline(40, 24, seed=3, quality=90))
    dri = decode_jpeg(
        encode_jpeg_baseline(40, 24, seed=3, quality=90, restart_interval=2)
    )
    assert (plain == dri).all()


def test_jpeg_codec_quarantine_contract():
    """Corrupt / beyond-baseline payloads → None, never an exception:
    truncation, garbage, a progressive SOF2 frame, a grayscale-coerced
    single-component file still decodes (to replicated gray)."""
    from covid_data_challenge_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
    )

    p = encode_jpeg_baseline(16, 16, seed=1)
    assert decode_jpeg(p[: len(p) // 2]) is None
    assert decode_jpeg(b"\xff\xd8not a jpeg") is None
    assert decode_jpeg(b"") is None
    # flip SOF0 -> SOF2: the file CLAIMS progressive but carries a
    # baseline full-spectrum interleaved scan (Ss=0, Se=63) — an
    # illegal progressive scan header, which must quarantine rather
    # than decode with the wrong scan semantics
    sof_at = p.index(b"\xff\xc0")
    prog = p[:sof_at] + b"\xff\xc2" + p[sof_at + 2 :]
    assert decode_jpeg(prog) is None


def test_jpeg_spark_stage_matches_kernel_and_quarantines(spark):
    """extract_features(decoder='jpeg'): the Arrow-batched stage output
    equals the per-row kernel for every decodable payload; the planted
    corrupt payload surfaces as null features (quarantine, not error);
    the registered rows-only query reports decoded=false for it."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401 — populate REGISTRY
    from covid_data_challenge_spark.operators.multimodal import (
        extract_features,
        jpeg_features,
        synth_jpeg_table,
    )
    from covid_data_challenge_spark.registry import REGISTRY

    media = synth_jpeg_table(spark, n=32)
    local = {r.media_id: bytes(r.payload) for r in media.collect()}
    got = {r.media_id: r for r in
           extract_features(media, decoder="jpeg").collect()}
    assert len(got) == 32
    for mid, payload in local.items():
        want = jpeg_features(payload)
        have = got[mid].features
        if want is None:
            assert have is None, mid
        else:
            assert [round(v, 6) for v in have] == [round(v, 6) for v in want], mid
    assert got[0].features is None  # the planted truncation
    assert sum(1 for r in got.values() if r.features is None) == 2  # ids 0, 16
    out = {r.media_id: r for r in
           REGISTRY["multimodal_jpeg_features"].spark(spark, "unused").collect()}
    assert not out[0].decoded and not out[16].decoded
    assert sum(1 for r in out.values() if r.decoded) == 30


def test_jpeg_noninterleaved_and_progressive_decode_exactly():
    """All three scan layouts of the same (img, quality, subsample)
    carry identical quantized coefficients, so decode equality is
    EXACT: non-interleaved baseline (the ADVICE r7 silent-misdecode
    class) and progressive SOF2 (12-scan spectral selection +
    successive approximation) must both reproduce the interleaved
    baseline decode pixel-for-pixel."""
    from covid_data_challenge_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_baseline_noninterleaved,
        encode_jpeg_progressive,
    )

    for (w, h, seed, q, sub, dri) in [
        (24, 16, 7, 85, False, 0),
        (40, 24, 3, 95, True, 2),
        (17, 9, 5, 75, False, 1),
        (33, 31, 11, 90, True, 0),
    ]:
        base = decode_jpeg(
            encode_jpeg_baseline(
                w, h, seed=seed, quality=q, subsample=sub, restart_interval=dri
            )
        )
        assert base is not None and base.shape == (h, w, 3)
        ni = decode_jpeg(
            encode_jpeg_baseline_noninterleaved(
                w, h, seed=seed, quality=q, subsample=sub, restart_interval=dri
            )
        )
        assert ni is not None and (ni == base).all(), (w, h, seed, q, sub, dri)
        prog = decode_jpeg(
            encode_jpeg_progressive(w, h, seed=seed, quality=q, subsample=sub)
        )
        assert prog is not None and (prog == base).all(), (w, h, seed, q, sub)


def test_jpeg_fill_bytes_and_progressive_quarantine():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a
    marker — files padded that way must decode identically, not
    quarantine (ADVICE r7). Truncated progressive payloads quarantine
    like truncated baseline ones."""
    from covid_data_challenge_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    p = encode_jpeg_baseline(24, 16, seed=7, quality=85)
    base = decode_jpeg(p)
    assert p[20:22] == b"\xff\xdb"  # DQT right after SOI + APP0
    filled = p[:20] + b"\xff\xff\xff" + p[20:-2] + b"\xff" + p[-2:]
    out = decode_jpeg(filled)
    assert out is not None and (out == base).all()

    pp = encode_jpeg_progressive(24, 16, seed=2)
    assert decode_jpeg(pp[: len(pp) // 2]) is None
    assert decode_jpeg(pp) is not None


def test_phash_neardup_recovers_planted_groups(spark):
    """pHash near-dup (r8): the banded Hamming join must recover
    EXACTLY the planted re-encoding groups (8 groups × 3 encodings →
    24 intra-group pairs, zero cross-group pairs — measured intra ≤ 6
    bits vs inter ≥ 12), equal to brute-force all-pairs at the same
    threshold (banding recall is exact by pigeonhole for ≤ 8 bits);
    the corrupt payload quarantines (decoded=false) and never pairs."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.operators.multimodal import (
        phash63,
        phash_hashes,
        synth_phash_table,
    )
    from covid_data_challenge_spark.registry import REGISTRY

    media = synth_phash_table(spark, n_groups=8)
    hs = {r.media_id: r for r in phash_hashes(media).collect()}
    corrupt_id = 8 * 4 + 3
    assert not hs[corrupt_id].decoded and hs[corrupt_id].phash is None
    local = {
        r.media_id: phash63(bytes(r.payload))
        for r in media.collect()
        if r.media_id != corrupt_id
    }
    for mid, h in local.items():
        assert hs[mid].phash == h, mid  # Arrow stage == kernel

    brute = set()
    ids = sorted(local)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if bin(local[ids[i]] ^ local[ids[j]]).count("1") <= 6:
                brute.add((ids[i], ids[j]))
    got = {
        (r.id_a, r.id_b)
        for r in REGISTRY["image_phash_neardup"].spark(spark, "unused").collect()
    }
    assert got == brute
    assert len(got) == 24
    assert all(a // 4 == b // 4 for a, b in got)  # intra-group only


def test_audio_fp_neardup_recovers_planted_groups(spark):
    """Audio fingerprint near-dup (r8): banded join must recover
    EXACTLY the planted perceptual-duplicate groups (6 groups × 3
    variants → 18 intra-group pairs, zero cross-group; measured intra
    ≤ 3 bits of 96, inter ≥ 19), equal to brute force at the same
    threshold (exact-word banding is pigeonhole-complete for ≤ 5 over
    6 words); volume invariance holds by the sign rule; the corrupt
    payload quarantines."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.operators.multimodal import (
        audio_fingerprint,
        audio_fp_table,
        synth_audio_fp_table,
    )
    from covid_data_challenge_spark.registry import REGISTRY

    media = synth_audio_fp_table(spark, n_groups=6)
    out = {r.media_id: r for r in audio_fp_table(media).collect()}
    corrupt_id = 6 * 4 + 3
    assert not out[corrupt_id].decoded and out[corrupt_id].fp is None
    local = {
        r.media_id: audio_fingerprint(bytes(r.payload))
        for r in media.collect()
        if r.media_id != corrupt_id
    }
    for mid, fp in local.items():
        assert list(out[mid].fp) == fp, mid  # Arrow stage == kernel
    # volume-only variant is bit-identical to the original (exact
    # invariance of the double-difference sign rule)
    for g in range(6):
        assert local[g * 4] == local[g * 4 + 1]

    brute = set()
    ids = sorted(local)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            fa, fb = local[ids[i]], local[ids[j]]
            if len(fa) == len(fb) and sum(
                bin(x ^ y).count("1") for x, y in zip(fa, fb)
            ) <= 5:
                brute.add((ids[i], ids[j]))
    got = {
        (r.id_a, r.id_b)
        for r in REGISTRY["audio_fp_neardup"].spark(spark, "unused").collect()
    }
    assert got == brute and len(got) == 18
    assert all(a // 4 == b // 4 for a, b in got)


def test_video_fp_neardup_recovers_planted_groups(spark):
    """Video fingerprint near-dup (r8): planted groups recovered
    exactly (5 groups × 3 variants → 15 pairs, zero cross-group;
    intra ≤ 2 of 378 bits, inter ≥ 170); the +12 uniform brightness
    regrade is bit-IDENTICAL (DC excluded from the sign bits); banded
    == brute force; corrupt payload quarantines."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.operators.multimodal import (
        synth_video_fp_table,
        video_fingerprint,
        video_fp_table,
    )
    from covid_data_challenge_spark.registry import REGISTRY

    media = synth_video_fp_table(spark, n_groups=5)
    out = {r.media_id: r for r in video_fp_table(media).collect()}
    corrupt_id = 5 * 4 + 3
    assert not out[corrupt_id].decoded and out[corrupt_id].fp is None
    local = {
        r.media_id: video_fingerprint(bytes(r.payload))
        for r in media.collect()
        if r.media_id != corrupt_id
    }
    for mid, fp in local.items():
        assert list(out[mid].fp) == fp, mid
    for g in range(5):
        assert local[g * 4] == local[g * 4 + 1]  # brightness invariance

    brute = set()
    ids = sorted(local)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            fa, fb = local[ids[i]], local[ids[j]]
            if len(fa) == len(fb) and sum(
                bin(x ^ y).count("1") for x, y in zip(fa, fb)
            ) <= 5:
                brute.add((ids[i], ids[j]))
    got = {
        (r.id_a, r.id_b)
        for r in REGISTRY["video_fp_neardup"].spark(spark, "unused").collect()
    }
    assert got == brute and len(got) == 15
    assert all(a // 4 == b // 4 for a, b in got)


def _brute_shift(local, bits, max_shift=2, min_overlap=4):
    """Python replica of operators/multimodal.shifted_fp_pairs: all
    pairs x all offsets, accept strictly below BER 1/bits, best by the
    integer comparator (hamming, -overlap, |offset|, offset)."""
    out = {}
    ids = sorted(local)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            fa, fb = local[ids[i]], local[ids[j]]
            best = None
            for off in range(-max_shift, max_shift + 1):
                sa, ea = max(0, -off), min(len(fa), len(fb) - off)
                ln = ea - sa
                if ln < min_overlap:
                    continue
                ham = sum(
                    bin(fa[t] ^ fb[t + off]).count("1") for t in range(sa, ea)
                )
                if ham * (bits + 1) > ln * bits:
                    continue
                key = (ham, -ln, abs(off), off)
                if best is None or key < best:
                    best = key
            if best is not None:
                out[(ids[i], ids[j])] = (best[3], -best[1], best[0])
    return out


def test_audio_shifted_neardup_catches_trim_and_pad(spark):
    """Shift-tolerant audio matching (r9 — VERDICT r8 #1): the
    hop-trimmed cut is caught at offset -1 and the hop-padded variant
    at +1 — both invisible to the aligned r8 leg by construction
    (different fingerprint lengths) — while cross-group clips are
    rejected (best-offset BER >= 0.23 vs the 1/17 budget); banded ==
    brute force (pigeonhole-exact at BER < 1/bits)."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.operators.multimodal import (
        audio_fingerprint,
        synth_audio_shift_table,
    )
    from covid_data_challenge_spark.registry import REGISTRY

    media = synth_audio_shift_table(spark, n_groups=6)
    corrupt_id = 6 * 4 + 3
    local = {
        r.media_id: audio_fingerprint(bytes(r.payload))
        for r in media.collect()
        if r.media_id != corrupt_id
    }
    # trimmed/padded variants really do have DIFFERENT lengths — the
    # exact blindness the aligned leg has and this operator removes
    for g in range(6):
        assert len(local[g * 4 + 1]) == len(local[g * 4]) - 1
        assert len(local[g * 4 + 2]) == len(local[g * 4]) + 1

    brute = _brute_shift(local, bits=16)
    rows = REGISTRY["audio_fp_shifted_neardup"].spark(spark, "unused").collect()
    got = {(r.id_a, r.id_b): (r.offset, r.overlap, r.hamming) for r in rows}
    assert got == brute
    assert len(got) == 18 and all(a // 4 == b // 4 for a, b in got)
    for g in range(6):
        assert got[(g * 4, g * 4 + 1)][0] == -1  # trim caught at -1
        assert got[(g * 4, g * 4 + 2)][0] == 1   # pad caught at +1


def test_video_shifted_neardup_catches_recut_and_lead_in(spark):
    """Shift-tolerant video matching (r9): first-frame re-cut caught at
    offset -1, gray-lead-in pad at +1; cross-group rejected; banded ==
    brute force."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.operators.multimodal import (
        synth_video_shift_table,
        video_fingerprint,
    )
    from covid_data_challenge_spark.registry import REGISTRY

    media = synth_video_shift_table(spark, n_groups=5)
    corrupt_id = 5 * 4 + 3
    local = {
        r.media_id: video_fingerprint(bytes(r.payload))
        for r in media.collect()
        if r.media_id != corrupt_id
    }
    brute = _brute_shift(local, bits=63)
    rows = REGISTRY["video_fp_shifted_neardup"].spark(spark, "unused").collect()
    got = {(r.id_a, r.id_b): (r.offset, r.overlap, r.hamming) for r in rows}
    assert got == brute
    assert len(got) == 15 and all(a // 4 == b // 4 for a, b in got)
    for g in range(5):
        assert got[(g * 4, g * 4 + 1)][0] == -1
        assert got[(g * 4, g * 4 + 2)][0] == 1


def test_audio_large_shift_neardup_catches_seconds_long_trims(spark):
    """LARGE-offset shift matching (r10 — VERDICT r9 missing #1): the
    10-hop and 25-hop trims (seconds of audio) are caught at offsets
    -10/-25 and the 16-hop zero-pad at +16; the trim25-vs-pad16 sibling
    pair's true offset is 41 > max_shift=32 and must be ABSENT (the
    bound itself is pinned); cross-group clips are rejected; banded ==
    brute force; and candidate volume SATURATES as max_shift grows
    (offsets are derived from word hits, never scanned — the
    implied-overlap prune kills wild-offset hits before the
    fingerprint join)."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.operators.multimodal import (
        audio_fingerprint,
        audio_fp_table,
        shifted_fp_candidates,
        shifted_fp_pairs,
        synth_audio_large_shift_table,
    )
    from covid_data_challenge_spark.registry import REGISTRY

    media = synth_audio_large_shift_table(spark, n_groups=4)
    corrupt_id = 4 * 8 + 4
    local = {
        r.media_id: audio_fingerprint(bytes(r.payload))
        for r in media.collect()
        if r.media_id != corrupt_id
    }
    brute = _brute_shift(local, bits=16, max_shift=32)
    rows = REGISTRY["audio_fp_large_shift_neardup"].spark(spark, "unused").collect()
    got = {(r.id_a, r.id_b): (r.offset, r.overlap, r.hamming) for r in rows}
    assert got == brute
    assert len(got) == 20 and all(a // 8 == b // 8 for a, b in got)
    for g in range(4):
        assert got[(g * 8, g * 8 + 1)][0] == -10  # 10-hop trim
        assert got[(g * 8, g * 8 + 2)][0] == -25  # 25-hop trim
        assert got[(g * 8, g * 8 + 3)][0] == 16   # 16-hop pad
        assert (g * 8 + 2, g * 8 + 3) not in got  # true offset 41 > bound
    fps = audio_fp_table(media).filter(F.col("decoded"))
    c32 = shifted_fp_candidates(fps, max_shift=32, max_band_freq=64).count()
    c_unbounded = shifted_fp_candidates(
        fps, max_shift=10**6, max_band_freq=64
    ).count()
    # 2 -> 32 -> unbounded measured 21 -> 158 -> 168: the ceiling is
    # the set of alignments real hits propose, not O(max_shift)
    assert c32 == 158 and c_unbounded == 168
    # every planted alignment is proposed by many exact word hits, so
    # the offset-histogram vote knob keeps them all at min_votes=5
    voted = shifted_fp_pairs(
        fps, bits_per_word=16, max_shift=32, min_overlap=4,
        max_band_freq=64, min_votes=5,
    ).collect()
    assert {(r.id_a, r.id_b) for r in voted} == set(got)


def test_shifted_fp_pairs_skew_guard_and_ber_bound(spark):
    """The max_band_freq stop-word guard drops degenerate words
    (digital silence carried by many media) BEFORE the self-join — the
    100 TB skew defense — while ordinary pairs still match; and the
    operator refuses BER budgets at or above 1/bits (banding recall
    would no longer be pigeonhole-exact)."""
    import pytest

    from covid_data_challenge_spark.operators.multimodal import shifted_fp_pairs

    # 8 wall-to-wall-silence clips (all words 0) + one genuine pair
    rows = [(i, [0, 0, 0, 0, 0, 0]) for i in range(8)]
    rows += [(100, [7, 9, 11, 13, 15, 17]), (101, [9, 11, 13, 15, 17, 19])]
    fps = spark.createDataFrame(rows, "media_id long, fp array<int>")

    guarded = shifted_fp_pairs(
        fps, bits_per_word=16, max_shift=2, min_overlap=4, max_band_freq=4
    ).collect()
    got = {(r.id_a, r.id_b): r.offset for r in guarded}
    # word 0 appears in 8 > 4 media -> dropped; silence clips pair with
    # nothing; the genuine shifted pair (100, 101) survives at offset -1
    assert got == {(100, 101): -1}

    unguarded = shifted_fp_pairs(
        fps, bits_per_word=16, max_shift=2, min_overlap=4
    ).collect()
    assert len(unguarded) == 8 * 7 // 2 + 1  # silence all-pairs + genuine

    with pytest.raises(ValueError, match="pigeonhole"):
        shifted_fp_pairs(fps, bits_per_word=16, ber_num=1, ber_den=16)


# ---------------------------------------------------------------------------
# sf-scaled media corpus (r9 — VERDICT r8 next-round #4)
# ---------------------------------------------------------------------------


def test_media_corpus_size_rule():
    """corpus_size scales ∝ documents (one item per 10 docs, whole
    4-kind cycles) with the 48-item floor that pins the oracle-gate
    corpus at sf0.01 AND sf0.001 (both have 500 documents)."""
    from covid_data_challenge_spark.operators.media_corpus import corpus_size

    assert corpus_size(500) == 48  # the committed-golden contract
    assert corpus_size(5000) == 500  # sf0.1
    assert corpus_size(50000) == 5000  # synth sf1 → 10× growth signal
    assert corpus_size(0) == 48


def test_encode_png_rgb_img_roundtrip():
    """The explicit-array escape hatch must be pixel-exact through the
    engine's own decoder — same loop the affine pattern already closes."""
    import numpy as np

    from covid_data_challenge_spark.operators.multimodal import (
        decode_png,
        encode_png_rgb,
        lowfreq_content,
    )

    img = lowfreq_content(7)
    out = decode_png(encode_png_rgb(0, 0, img=img))
    assert out.shape == img.shape
    assert (out == img).all()
    # default path unchanged by the new parameter
    legacy = decode_png(encode_png_rgb(8, 6, seed=3))
    y, x, c = np.mgrid[0:6, 0:8, 0:3]
    assert (legacy == ((x * 7 + y * 13 + c * 29 + 3) % 256)).all()


def test_auto_features_dispatches_by_magic():
    """auto_features must agree with each format's dedicated kernel and
    quarantine anything unrecognizable — the untrusted-kind contract."""
    from covid_data_challenge_spark.operators.jpeg import encode_jpeg_baseline
    from covid_data_challenge_spark.operators.multimodal import (
        auto_features,
        encode_png_rgb,
        encode_wav,
        encode_y4m,
        jpeg_features,
        png_features,
        wav_features,
        y4m_features,
    )

    png = encode_png_rgb(12, 10, seed=1)
    jpg = encode_jpeg_baseline(16, 16, seed=2)
    wav = encode_wav(4000, seed=3)
    y4m = encode_y4m(16, 8, 4, seed=4)
    assert auto_features(png) == png_features(png)
    assert auto_features(jpg) == jpeg_features(jpg)
    assert auto_features(wav) == wav_features(wav)
    assert auto_features(y4m) == y4m_features(y4m)
    assert auto_features(b"garbage-payload") is None
    assert auto_features(wav[:16]) is None  # the corpus's WAV torso


def test_media_corpus_build_quarantine_and_cache(spark, sf_dir, monkeypatch):
    """The gate-scale corpus: 48 items, ids 17 (JPEG) and 30 (WAV)
    corrupt by construction; the gold table is built once and the query
    path reuses it (the _SUCCESS mtime must not move, and no build runs)."""
    import os

    from covid_data_challenge_spark.operators import media_corpus as mc
    from covid_data_challenge_spark.operators.media_corpus import (
        corpus_item,
        media_corpus,
        media_corpus_path,
    )
    from covid_data_challenge_spark.operators.multimodal import auto_features

    df = media_corpus(spark, sf_dir)
    rows = {r.media_id: r for r in df.collect()}
    assert len(rows) == 48
    assert auto_features(bytes(rows[17].payload)) is None
    assert auto_features(bytes(rows[30].payload)) is None
    # payloads are the pure function corpus_item replays
    for i in (0, 1, 17, 22, 30, 47):
        assert bytes(rows[i].payload) == bytes(corpus_item(i)[2]), i
    marker = f"{media_corpus_path(spark, sf_dir)}/_SUCCESS"
    t0 = os.path.getmtime(marker)

    def no_build(*args):
        raise AssertionError("the cached corpus was rebuilt")

    monkeypatch.setattr(mc, "build_media_corpus", no_build)
    media_corpus(spark, sf_dir).count()
    assert os.path.getmtime(marker) == t0  # cached, not rebuilt


def test_media_corpus_rebuild_race_loser_keeps_winner(
    spark, sf_dir, monkeypatch
):
    """Two sessions deciding to rebuild concurrently (VERDICT r9
    what's-wrong #3): simulate the LOSER — its store lookup misses the
    winner's just-published entry, it builds into its own temp dir,
    and its atomic-rename publish fails because the winner's directory
    already exists. The loser must discard its build, leave no temp
    litter, and serve the winner's (identical) table — never overwrite
    a directory another session may be scanning."""
    import os as _os

    from covid_data_challenge_spark import gold_store
    from covid_data_challenge_spark.operators.media_corpus import (
        media_corpus,
        media_corpus_path,
    )

    path = media_corpus_path(spark, sf_dir)  # winner's table is live
    t0 = _os.path.getmtime(f"{path}/_SUCCESS")

    monkeypatch.setattr(gold_store, "_newest", lambda slot, digest: None)
    assert media_corpus(spark, sf_dir).count() == 48
    monkeypatch.undo()
    # the winner's publication is untouched and no temp dirs remain
    assert _os.path.getmtime(f"{path}/_SUCCESS") == t0
    parent = _os.path.dirname(path)
    assert not [d for d in _os.listdir(parent) if ".build-" in d]


def test_phash_hashes_exact_beside_quarantine(spark):
    """Regression (r10): a quarantined payload sharing the Arrow batch
    must not degrade its batch-mates' hashes. pandas Series.map coerced
    an (int, None) column to float64, rounding every 63-bit hash in the
    corrupt item's batch to the 53-bit mantissa — invisible to the pair
    queries (planted pairs round together) but fatal to the incremental
    screen's exact-batch-vs-history join."""
    from covid_data_challenge_spark.operators.media_corpus import corpus_item
    from covid_data_challenge_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        phash63,
        phash_hashes,
    )

    items = [corpus_item(i) for i in (12, 13, 16, 17, 20, 21)]  # 17 corrupt
    media = spark.createDataFrame(items, MEDIA_SCHEMA).coalesce(1)
    got = {r.media_id: r.phash for r in phash_hashes(media).collect()}
    for i in (12, 13, 16, 20, 21):
        pure = phash63(bytes(corpus_item(i)[2]))
        assert got[i] == pure, f"id {i}: {got[i]} != {pure} (float rounding)"
    assert got[17] is None


def test_media_incremental_history_scanned_once_never_self_joined(spark, sf_dir):
    """The incremental screen's 100 TB contract (VERDICT r9 missing
    #2), plan-pinned: the history fingerprint gold is scanned exactly
    ONCE (re-banding history per ingest would scan it again; a
    self-join would too), its bands derive in-plan, and the batch
    arrives via BroadcastHashJoin — history is never shuffled (no
    SortMergeJoin / no Exchange feeding the join from the gold side)."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.registry import REGISTRY

    for name, gold_token, n_scans in (
        ("media_incremental_phash_screen", "/media_image_fp/", 1),
        ("media_incremental_audio_fp_screen", "/media_audio_fp/", 1),
        ("media_incremental_video_fp_screen", "/media_video_fp/", 1),
        # the shift screen's max_band_freq stop-word guard needs a
        # history document-frequency pass: exactly TWO scans of the
        # compact gold (stats + probe) — still never a self-join, and
        # the df side collapses to a broadcast anti-join input
        ("media_incremental_audio_shift_screen", "/media_audio_fp/", 2),
        ("media_incremental_video_shift_screen", "/media_video_fp/", 2),
        ("media_incremental_image_tile_screen", "/media_image_tile_fp8/", 2),
    ):
        df = REGISTRY[name].spark(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count(gold_token) == n_scans, (
            f"{name}: history scanned {plan.count(gold_token)} != {n_scans}"
        )
        assert "BroadcastHashJoin" in plan, f"{name}: batch not broadcast"
        assert "SortMergeJoin" not in plan, f"{name}: history shuffled to join"


def test_media_incremental_shift_screen_catches_trimmed_ingest(spark, sf_dir):
    """The shift-tolerant incremental screen (r10, the round's two new
    families composed): a 2-hop-trimmed 0.85× re-master of history
    groups 0–2 matches BOTH volume variants of its group at offset +2
    with 0 bits; fresh batch clips match nothing; the corrupt batch
    torso is quarantined; and the aligned incremental leg is blind to
    all of it (different fingerprint lengths) — the gap this query
    exists to close."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.registry import REGISTRY

    rows = (
        REGISTRY["media_incremental_audio_shift_screen"]
        .spark(spark, sf_dir)
        .collect()
    )
    got = {(r.batch_id, r.hist_id): (r.offset, r.overlap, r.hamming)
           for r in rows}
    assert len(got) == 6
    for j in range(3):
        for hist_variant in (2, 6):  # 1.0x and 0.6x volume members
            k = (40_000 + j, j * 8 + hist_variant)
            assert k in got and got[k][0] == 2 and got[k][2] == 0, (k, got)
    # the aligned leg sees none of these (lengths differ by the trim)
    aligned = (
        REGISTRY["media_incremental_audio_fp_screen"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert not any(r.batch_id >= 40_000 for r in aligned)


def test_media_incremental_video_shift_screen_catches_recut_ingest(spark, sf_dir):
    """The r11 video twin: a +40-regraded first-frame RE-CUT of history
    group 0 screens at offset +1 (overlap 5), a fresh-frame LEAD-IN
    over group 1 at offset −1 (overlap 5), and a two-frame deep cut of
    group 2 at offset +2 (overlap 4, the floor) — each with 0 bits
    against BOTH brightness variants of its group (DC exclusion);
    fresh batch clips match nothing (measured best BER ≥ 0.37 vs the
    1/64 budget); the corrupt torso is quarantined."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.registry import REGISTRY

    rows = (
        REGISTRY["media_incremental_video_shift_screen"]
        .spark(spark, sf_dir)
        .collect()
    )
    got = {(r.batch_id, r.hist_id): (r.offset, r.overlap, r.hamming)
           for r in rows}
    assert len(got) == 6
    for j, (off, ov) in enumerate(((1, 5), (-1, 5), (2, 4))):
        for hist_variant in (3, 7):  # plain and +25-regraded members
            k = (50_000 + j, j * 8 + hist_variant)
            assert k in got and got[k] == (off, ov, 0), (k, got)
    assert not any(b >= 50_003 for b, _h in got)  # fresh + corrupt: no hits


def test_media_corpus_decode_stats_matches_golden(spark, sf_dir):
    """The registered decode query at the gate scale must equal the
    committed golden parquet row-for-row (the same comparison the
    driver's DuckDB hash gate runs at sf0.01)."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.queries_multimodal import _FIXTURES
    from covid_data_challenge_spark.registry import REGISTRY

    import pyarrow.parquet as pq

    got = {
        (r.media_id, r.kind, r.n_bytes, r.decoded, r.feat_idx, r.feat_value)
        for r in REGISTRY["media_corpus_decode_stats"].spark(spark, sf_dir).collect()
    }
    golden = pq.read_table(f"{_FIXTURES}/media_corpus_features_golden.parquet")
    want = set(
        zip(*(golden.column(c).to_pylist() for c in golden.column_names))
    )
    assert got == want
    assert sum(1 for t in want if not t[3]) == 2  # the two quarantine rows


def test_media_corpus_kernel_replay_matches_golden():
    """The kernel layer alone, no Spark: replaying the 48 gate items
    through auto_features (as tools/gen_media_golden.py:gen_features
    does) reproduces the committed features golden exactly, so a kernel
    or codec change fails here before the hash gate. Exact float32
    equality also pins the codecs' DCT to a summation order that does
    not depend on which BLAS kernel the CPU selects."""
    import numpy as np
    import pyarrow.parquet as pq

    from covid_data_challenge_spark.operators.media_corpus import (
        corpus_item,
        corpus_size,
    )
    from covid_data_challenge_spark.operators.multimodal import auto_features
    from covid_data_challenge_spark.queries_multimodal import _FIXTURES

    got = []
    for i in range(corpus_size(500)):
        media_id, kind, payload, *_ = corpus_item(i)
        feats = auto_features(bytes(payload))
        if feats is None:
            got.append((media_id, kind, len(payload), False, None, None))
            continue
        for j, v in enumerate(feats):
            got.append(
                (media_id, kind, len(payload), True, j, np.float32(v).item())
            )
    golden = pq.read_table(f"{_FIXTURES}/media_corpus_features_golden.parquet")
    want = list(zip(*(golden.column(c).to_pylist() for c in golden.column_names)))
    assert sorted(got, key=repr) == sorted(want, key=repr)


def test_separable_product_sums_in_stated_order():
    """jpeg.separable_product is m @ x @ m.T with every product summed
    sequentially over k, left to right, each step rounded to float64:
    the order its docstring states. Checked bit for bit against a
    scalar replay of that order."""
    import numpy as np

    from covid_data_challenge_spark.operators.jpeg import _A, separable_product

    def seq_matmul(a, b):
        out = np.empty((a.shape[0], b.shape[1]))
        for i in range(a.shape[0]):
            for j in range(b.shape[1]):
                acc = float(a[i, 0]) * float(b[0, j])
                for k in range(1, a.shape[1]):
                    acc = acc + float(a[i, k]) * float(b[k, j])
                out[i, j] = acc
        return out

    rng = np.random.default_rng(7)
    for _ in range(20):
        x = rng.integers(0, 256, size=(8, 8)).astype(np.float64) - 128.0
        want = seq_matmul(seq_matmul(_A, x), _A.T)
        assert separable_product(_A, x).tobytes() == want.tobytes()
        coef = np.round(want / 7.0) * 7.0
        want_inv = seq_matmul(seq_matmul(_A.T, coef), _A)
        assert separable_product(_A.T, coef).tobytes() == want_inv.tobytes()


def test_tile_phash_screen_catches_crop_and_pad(spark, sf_dir):
    """The 2-D transform-tolerance family on the r12 8-px-hop dual
    grid (offsets in HOP units): the incremental screen reports
    exactly the planted crops of history groups 0–2 at (2, 0) with 0
    bits against the PNG members only (the JPEG members keep no exact
    tile after recompression — the measured candidate rule), the
    top-pad of group 3 at (0, −2), and the 8-px HALF-TILE crop of
    group 4 at (1, 0) — the catch the r11 16-aligned grid was blind to
    by construction; fresh scenes and the corrupt torso surface
    nothing. The pair query's per-scene structure holds: all 10
    in-scene pairs (crop / q85 crop / pad / 8-px crop against each
    other and the original), zero cross-scene pairs, the lossless legs
    0-bit, the q85 legs within the 4-bit/tile budget, and the 8-px
    variant caught losslessly at hop offset (1, 0) vs the original."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.registry import REGISTRY

    rows = (
        REGISTRY["media_incremental_image_tile_screen"]
        .spark(spark, sf_dir)
        .collect()
    )
    got = {(r.batch_id, r.hist_id): (r.dx, r.dy, r.overlap, r.hamming)
           for r in rows}
    assert len(got) == 5
    for j in range(3):
        k = (60_000 + j, j * 4)  # the group's PNG member
        assert k in got and got[k] == (2, 0, 9, 0), (k, got)
    assert got[(60_003, 12)] == (0, -2, 15, 0)
    assert got[(60_007, 16)] == (1, 0, 12, 0)  # the dual-grid catch

    pairs = REGISTRY["image_tile_phash_neardup"].spark(spark, sf_dir).collect()
    assert len(pairs) == 50  # 10 per scene × 5 scenes
    by_pair = {(r.id_a, r.id_b): r for r in pairs}
    for r in pairs:
        assert r.id_a // 5 == r.id_b // 5  # never cross-scene
        assert r.hamming <= 4 * r.overlap
        if r.id_a % 5 != 2 and r.id_b % 5 != 2:
            assert r.hamming == 0  # lossless crop/pad: bit-exact tiles
    for sid in range(5):
        r = by_pair[(sid * 5, sid * 5 + 4)]  # original vs 8-px crop
        assert (r.dx, r.dy, r.hamming) == (1, 0, 0)


def test_media_corpus_phash_neardup_planted_pairs(spark, sf_dir):
    """The banded pHash join over the corpus's image half must recover
    exactly the planted PNG↔JPEG pairs (one per content group, minus
    the group whose JPEG slot is quarantined) — equal to the committed
    brute-force golden."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.queries_multimodal import _FIXTURES
    from covid_data_challenge_spark.registry import REGISTRY

    import pyarrow.parquet as pq

    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in REGISTRY["media_corpus_phash_neardup"].spark(spark, sf_dir).collect()
    }
    golden = pq.read_table(f"{_FIXTURES}/media_corpus_phash_pairs_golden.parquet")
    want = set(
        zip(*(golden.column(c).to_pylist() for c in golden.column_names))
    )
    assert got == want
    # every pair is a planted (png, jpeg-of-same-content) adjacency
    assert all(b == a + 1 and a % 4 == 0 for a, b, _ in got)
    # 12 groups in 48 items, one lost to the id-17 quarantine
    assert len(got) == 11
    assert not any(a == 16 for a, _, _ in got)  # group 4's pair is gone


def test_media_corpus_audio_video_neardup_match_goldens(spark, sf_dir):
    """Corpus v2 (r9): the audio volume pairs and video brightness
    pairs must come out of the banded joins exactly as the committed
    brute-force goldens say — every pair a planted (base, variant)
    adjacency 4 ids apart, the id-30 quarantined WAV costing its block
    the audio pair."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.queries_multimodal import _FIXTURES
    from covid_data_challenge_spark.registry import REGISTRY

    import pyarrow.parquet as pq

    for name, golden_file, base_mod in (
        ("media_corpus_audio_fp_neardup", "media_corpus_audio_fp_pairs_golden", 2),
        ("media_corpus_video_fp_neardup", "media_corpus_video_fp_pairs_golden", 3),
    ):
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in REGISTRY[name].spark(spark, sf_dir).collect()
        }
        golden = pq.read_table(f"{_FIXTURES}/{golden_file}.parquet")
        want = set(zip(*(golden.column(c).to_pylist() for c in golden.column_names)))
        assert got == want, name
        assert all(b == a + 4 and a % 8 == base_mod for a, b, _ in got), name
    # audio: 6 blocks at gate scale, block 3's pair lost to the id-30
    # quarantine; video keeps all 6
    audio = REGISTRY["media_corpus_audio_fp_neardup"].spark(spark, sf_dir).count()
    video = REGISTRY["media_corpus_video_fp_neardup"].spark(spark, sf_dir).count()
    assert (audio, video) == (5, 6)
