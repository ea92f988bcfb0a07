"""Generate the golden-parquet oracle twins for the JPEG feature
queries (VERDICT r7 next-round #1).

The fixture corpora are pure functions of the row id (deterministic
encoders in operators/jpeg.py), and the decode→feature kernel is pinned
independently by golden + hypothesis pytest against those encoders — so
the expected feature rows can be materialized ONCE, committed as small
parquet files, and served to DuckDB via ``read_parquet``. That lifts
the reference's inline golden-value assertion style
(tests/test_integration.py:49-89 in lfaller/covid-data-challenge) to
the oracle layer: the driver's correctness gate then hash-checks the
whole Spark plumbing (mapInPandas batching, schema, quarantine nulls)
against the committed goldens instead of recording a rows-only check.

Run from the repo root after changing the fixture corpora or the
feature kernel:  python tools/gen_jpeg_golden.py
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

FIXTURE_DIR = str(REPO / "covid_data_challenge_spark" / "fixtures")

GOLDEN_SCHEMA = pa.schema(
    [
        ("media_id", pa.int64()),
        ("kind", pa.string()),
        ("n_bytes", pa.int64()),
        ("decoded", pa.bool_()),
        ("feat_idx", pa.int32()),
        ("feat_value", pa.float32()),
    ]
)


def _payloads_baseline(n: int = 32) -> list[tuple[int, bytes]]:
    """Exactly operators/multimodal.synth_jpeg_table's payloads."""
    from covid_data_challenge_spark.operators.jpeg import encode_jpeg_baseline

    out = []
    for i in range(n):
        w, h = 16 + 8 * (i % 3), 16 + 8 * (i % 2)
        jpg = encode_jpeg_baseline(
            w,
            h,
            seed=i,
            quality=85 + (i % 3) * 5,
            subsample=(i % 2 == 1),
            restart_interval=(2 if i % 4 == 2 else 0),
        )
        out.append((i, jpg[: len(jpg) // 2] if i % 16 == 0 else jpg))
    return out


def _payloads_progressive(n: int = 32) -> list[tuple[int, bytes]]:
    """Exactly operators/multimodal.synth_jpeg_progressive_table's."""
    from covid_data_challenge_spark.operators.jpeg import (
        encode_jpeg_baseline_noninterleaved,
        encode_jpeg_progressive,
    )

    out = []
    for i in range(n):
        w, h = 16 + 8 * (i % 3), 16 + 8 * (i % 2)
        enc = (
            encode_jpeg_baseline_noninterleaved
            if i % 8 == 5
            else encode_jpeg_progressive
        )
        jpg = enc(w, h, seed=i, quality=85 + (i % 3) * 5, subsample=(i % 2 == 1))
        out.append((i, jpg[: len(jpg) // 2] if i % 16 == 0 else jpg))
    return out


def _rows(payloads: list[tuple[int, bytes]]) -> dict[str, list]:
    from covid_data_challenge_spark.operators.multimodal import jpeg_features

    cols: dict[str, list] = {k: [] for k in GOLDEN_SCHEMA.names}
    for media_id, payload in payloads:
        feats = jpeg_features(payload)
        if feats is None:
            cols["media_id"].append(media_id)
            cols["kind"].append("image")
            cols["n_bytes"].append(len(payload))
            cols["decoded"].append(False)
            cols["feat_idx"].append(None)
            cols["feat_value"].append(None)
        else:
            for j, v in enumerate(feats):
                cols["media_id"].append(media_id)
                cols["kind"].append("image")
                cols["n_bytes"].append(len(payload))
                cols["decoded"].append(True)
                cols["feat_idx"].append(j)
                cols["feat_value"].append(v)
    return cols


def main() -> None:
    import os

    os.makedirs(FIXTURE_DIR, exist_ok=True)
    for name, payloads in (
        ("jpeg_features_golden", _payloads_baseline()),
        ("jpeg_progressive_golden", _payloads_progressive()),
    ):
        table = pa.table(_rows(payloads), schema=GOLDEN_SCHEMA)
        path = f"{FIXTURE_DIR}/{name}.parquet"
        pq.write_table(table, path)
        n_corrupt = table.num_rows - table.column("decoded").to_pylist().count(True)
        print(f"{path}: {table.num_rows} rows ({n_corrupt} quarantine rows)")
    gen_phash_pairs()
    gen_audio_fp_pairs()
    gen_video_fp_pairs()
    gen_audio_shift_pairs()
    gen_video_shift_pairs()
    gen_audio_large_shift_pairs()


def gen_phash_pairs() -> None:
    """Ground-truth near-dup pairs of the pHash fixture corpus: kernel
    hashes for every decodable payload, ALL pairs at Hamming ≤ 6 —
    banding recall is exact by pigeonhole, so the engine's banded join
    must reproduce this set precisely."""
    from covid_data_challenge_spark.operators.jpeg import encode_jpeg_baseline
    from covid_data_challenge_spark.operators.multimodal import (
        encode_png_rgb,
        phash63,
    )

    payloads = []
    for g in range(8):
        seed = g * 97
        payloads.append((g * 4 + 0, encode_png_rgb(48, 32, seed=seed)))
        payloads.append((g * 4 + 1, encode_jpeg_baseline(48, 32, seed=seed, quality=90)))
        payloads.append(
            (g * 4 + 2,
             encode_jpeg_baseline(48, 32, seed=seed, quality=75, subsample=True))
        )
    hashes = [(mid, phash63(p)) for mid, p in payloads]
    cols = {"id_a": [], "id_b": [], "hamming": []}
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            (ia, ha), (ib, hb) = hashes[i], hashes[j]
            d = bin(ha ^ hb).count("1")
            if d <= 6:
                a, b = (ia, ib) if ia < ib else (ib, ia)
                cols["id_a"].append(a)
                cols["id_b"].append(b)
                cols["hamming"].append(d)
    schema = pa.schema(
        [("id_a", pa.int64()), ("id_b", pa.int64()), ("hamming", pa.int32())]
    )
    path = f"{FIXTURE_DIR}/phash_pairs_golden.parquet"
    pq.write_table(pa.table(cols, schema=schema), path)
    print(f"{path}: {len(cols['id_a'])} pairs")



def gen_audio_fp_pairs() -> None:
    """Ground-truth near-dup pairs of the audio-fingerprint fixture:
    kernel fingerprints, ALL equal-length pairs at Hamming ≤ 5."""
    import numpy as np

    from covid_data_challenge_spark.operators.multimodal import (
        audio_fingerprint,
        decode_wav,
        encode_wav,
        encode_wav_samples,
    )

    fps = []
    for g in range(6):
        base = decode_wav(encode_wav(4096, seed=g * 13))[0]
        t = np.arange(len(base))
        variants = [
            encode_wav_samples(base),
            encode_wav_samples(base * 0.6),
            encode_wav_samples(
                base * 0.9 + 0.02 * np.sin(2 * np.pi * 3777 * t / 8000.0)
            ),
        ]
        for v, payload in enumerate(variants):
            fps.append((g * 4 + v, audio_fingerprint(payload)))
    cols = {"id_a": [], "id_b": [], "hamming": []}
    for i in range(len(fps)):
        for j in range(i + 1, len(fps)):
            (ia, fa), (ib, fb) = fps[i], fps[j]
            if len(fa) != len(fb):
                continue
            d = sum(bin(x ^ y).count("1") for x, y in zip(fa, fb))
            if d <= 5:
                cols["id_a"].append(min(ia, ib))
                cols["id_b"].append(max(ia, ib))
                cols["hamming"].append(d)
    schema = pa.schema(
        [("id_a", pa.int64()), ("id_b", pa.int64()), ("hamming", pa.int32())]
    )
    path = f"{FIXTURE_DIR}/audio_fp_pairs_golden.parquet"
    pq.write_table(pa.table(cols, schema=schema), path)
    print(f"{path}: {len(cols['id_a'])} pairs")



def gen_video_fp_pairs() -> None:
    """Ground-truth near-dup pairs of the video-fingerprint fixture."""
    import numpy as np

    from covid_data_challenge_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
        encode_y4m_luma,
        video_fingerprint,
    )

    fps = []
    w, h = 32, 24
    for g in range(5):
        frames, _, _ = decode_y4m(encode_y4m(w, h, 6, seed=g * 31))
        yy, xx = np.mgrid[0:h, 0:w]
        variants = [
            encode_y4m_luma(frames, w, h),
            encode_y4m_luma(
                [np.clip(f.astype(np.int32) + 12, 0, 255) for f in frames], w, h
            ),
            encode_y4m_luma(
                [
                    np.clip(
                        f.astype(np.int32) + ((xx * 3 + yy * 5 + i) % 7 - 3), 0, 255
                    )
                    for i, f in enumerate(frames)
                ],
                w,
                h,
            ),
        ]
        for v, payload in enumerate(variants):
            fps.append((g * 4 + v, video_fingerprint(payload)))
    cols = {"id_a": [], "id_b": [], "hamming": []}
    for i in range(len(fps)):
        for j in range(i + 1, len(fps)):
            (ia, fa), (ib, fb) = fps[i], fps[j]
            if len(fa) != len(fb):
                continue
            d = sum(bin(x ^ y).count("1") for x, y in zip(fa, fb))
            if d <= 5:
                cols["id_a"].append(min(ia, ib))
                cols["id_b"].append(max(ia, ib))
                cols["hamming"].append(d)
    schema = pa.schema(
        [("id_a", pa.int64()), ("id_b", pa.int64()), ("hamming", pa.int32())]
    )
    path = f"{FIXTURE_DIR}/video_fp_pairs_golden.parquet"
    pq.write_table(pa.table(cols, schema=schema), path)
    print(f"{path}: {len(cols['id_a'])} pairs")


_SHIFT_SCHEMA = pa.schema(
    [
        ("id_a", pa.int64()),
        ("id_b", pa.int64()),
        ("offset", pa.int32()),
        ("overlap", pa.int32()),
        ("hamming", pa.int32()),
    ]
)


def _brute_shift_pairs(
    fps: list[tuple[int, list[int]]],
    bits_per_word: int,
    max_shift: int = 2,
    min_overlap: int = 4,
) -> dict[str, list]:
    """All-pairs × all-offsets ground truth with EXACTLY the operator's
    accept rule (ham·(bits+1) ≤ overlap·bits, i.e. BER strictly below
    1/bits) and best-alignment comparator (hamming, −overlap, |offset|,
    offset) — operators/multimodal.shifted_fp_pairs. Banding recall is
    pigeonhole-exact at this budget, so the sets coincide."""
    cols: dict[str, list] = {k: [] for k in _SHIFT_SCHEMA.names}
    for i in range(len(fps)):
        for j in range(i + 1, len(fps)):
            (ia, fa), (ib, fb) = fps[i], fps[j]
            if ia > ib:
                (ia, fa), (ib, fb) = (ib, fb), (ia, fa)
            best = None
            for off in range(-max_shift, max_shift + 1):
                sa = max(0, -off)
                ea = min(len(fa), len(fb) - off)
                ln = ea - sa
                if ln < min_overlap:
                    continue
                ham = sum(
                    bin(fa[t] ^ fb[t + off]).count("1") for t in range(sa, ea)
                )
                if ham * (bits_per_word + 1) > ln * bits_per_word:
                    continue  # BER at or above 1/bits — reject
                key = (ham, -ln, abs(off), off)
                if best is None or key < best[0]:
                    best = (key, off, ln, ham)
            if best is not None:
                cols["id_a"].append(ia)
                cols["id_b"].append(ib)
                cols["offset"].append(best[1])
                cols["overlap"].append(best[2])
                cols["hamming"].append(best[3])
    return cols


def gen_audio_shift_pairs() -> None:
    """Ground truth for audio_fp_shifted_neardup: the SHARED fixture
    payload builder (multimodal.audio_shift_payloads — same source the
    synth table consumes, so goldens track fixture edits by
    construction) through the fingerprint kernel, then the brute-force
    shift matcher."""
    from covid_data_challenge_spark.operators.multimodal import (
        audio_fingerprint,
        audio_shift_payloads,
    )

    fps = [
        (mid, audio_fingerprint(payload))
        for mid, payload in audio_shift_payloads(6)
    ]
    cols = _brute_shift_pairs(fps, bits_per_word=16)
    path = f"{FIXTURE_DIR}/audio_fp_shifted_pairs_golden.parquet"
    pq.write_table(pa.table(cols, schema=_SHIFT_SCHEMA), path)
    print(f"{path}: {len(cols['id_a'])} pairs")


def gen_audio_large_shift_pairs() -> None:
    """Ground truth for audio_fp_large_shift_neardup: the shared
    LARGE-offset fixture through the fingerprint kernel, brute-forced
    at max_shift=32 — including the negative case (the trim25/pad16
    sibling pair's true offset is 41 and must be absent)."""
    from covid_data_challenge_spark.operators.multimodal import (
        audio_fingerprint,
        audio_large_shift_payloads,
    )

    fps = [
        (mid, audio_fingerprint(payload))
        for mid, payload in audio_large_shift_payloads(4)
    ]
    cols = _brute_shift_pairs(fps, bits_per_word=16, max_shift=32)
    path = f"{FIXTURE_DIR}/audio_fp_large_shift_pairs_golden.parquet"
    pq.write_table(pa.table(cols, schema=_SHIFT_SCHEMA), path)
    print(f"{path}: {len(cols['id_a'])} pairs")


def gen_video_shift_pairs() -> None:
    """Ground truth for video_fp_shifted_neardup: the SHARED fixture
    payload builder (multimodal.video_shift_payloads) through the
    per-frame pHash kernel, then the brute-force matcher."""
    from covid_data_challenge_spark.operators.multimodal import (
        video_fingerprint,
        video_shift_payloads,
    )

    fps = [
        (mid, video_fingerprint(payload))
        for mid, payload in video_shift_payloads(5)
    ]
    cols = _brute_shift_pairs(fps, bits_per_word=63)
    path = f"{FIXTURE_DIR}/video_fp_shifted_pairs_golden.parquet"
    pq.write_table(pa.table(cols, schema=_SHIFT_SCHEMA), path)
    print(f"{path}: {len(cols['id_a'])} pairs")


if __name__ == "__main__":
    main()
