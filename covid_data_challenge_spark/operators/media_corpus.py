"""sf-SCALED media corpus — the decode path's growth fixture
(VERDICT r8 next-round #4).

Every other family prices its 10× growth against the driver's parquet
tables; the multimodal decode/fingerprint queries ran on fixed-size
in-query ``synth_*`` tables, so the sf1 tier could not see mapInPandas
decode throughput at all. This module materializes a deterministic
parquet corpus of ENCODED media payloads whose item count scales with
the sf directory (∝ the ``documents`` row count), persisted as a
:mod:`~covid_data_challenge_spark.gold_store` entry keyed on the
documents source and ``MEDIA_CORPUS_VERSION`` — like the IVF-PQ index
and every gold derived from the corpus (:func:`media_gold`).

Corpus layout — ``corpus_item`` is a pure function of (media_id), the
contract tools/gen_media_golden.py replays for the DuckDB oracle twins:

- id % 4 == 0 → PNG of :func:`multimodal.lowfreq_content`(id // 4)
- id % 4 == 1 → JPEG of the SAME content (q90 4:4:4 / q75 4:2:0
  alternating by group) — a planted cross-format near-duplicate pair
  per group, pHash-verifiable at the ≤ 6-bit gate by construction
- id % 8 == 2 / 6 → mono PCM16 WAV pair of group id // 8: the SAME
  17-band amplitude-modulated mixture (see :func:`_audio_base` — real
  temporal structure, so every Haitsma–Kalker double-difference bit
  has magnitude ≫ quantization noise; measured volume-variant
  distance ≤ 1 bit at 300 groups, zero incidental ≤ 5 collisions) at
  1.0× and 0.6× volume — a planted audio near-duplicate per block
- id % 8 == 3 / 7 → Y4M C420 pair of group id // 8: the same
  DCT-synthesized luma frames (:func:`_video_luma`, range [30, 195])
  plain and +25 brightness-regraded — bit-IDENTICAL per-frame pHash
  words by DC exclusion (measured 0 bits at 200 groups), a planted
  video near-duplicate per block
- id % 32 == 17 (a JPEG slot, truncated stream) and id % 32 == 30 (a
  WAV slot, header-only torso) are CORRUPT — the quarantine contract
  must hold at every sf (the corrupt WAV's group partner loses its
  planted pair, visible in the goldens)

Scale notes (the 100 TB story): the build is one embarrassingly
parallel mapInPandas over ``spark.range`` — no shuffle, payloads never
sit on the driver; the decode queries chain a second shuffle-free
mapInPandas onto the parquet scan. At sf0.01/sf0.001 (500 docs) the
corpus is 48 items — exactly what the committed golden parquets
replay; at sf0.1 it is 500 and at the synthetic sf1 fixture 5000, so
the sf1 tier finally prices decode throughput (expected ~linear in
payload bytes).

Reference parity note: lfaller/covid-data-challenge has no media path
at all — this family is part of the training-data-pipeline surface the
brief adds beyond the reference.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from covid_data_challenge_spark import gold_store
from covid_data_challenge_spark.operators.multimodal import (
    AUDIO_FP_BANDS,
    MEDIA_SCHEMA,
    encode_png_rgb,
    encode_wav_samples,
    encode_y4m_luma,
    lowfreq_content,
)

#: bump to invalidate cached corpora when the layout contract changes
#: (v3: the r10 phash_hashes precision fix — v2 image_fp gold tables
#: hold float64-rounded hashes wherever a quarantine slot shared the
#: Arrow batch)
MEDIA_CORPUS_VERSION = 3

#: one corpus item per ~10 documents, floored to a whole 4-kind cycle;
#: the max() keeps the gate-scale corpus (500 docs at sf0.01 AND
#: sf0.001) at exactly the 48 items the committed goldens replay
_DOCS_PER_ITEM = 10
_MIN_ITEMS = 48

def corpus_size(n_docs: int) -> int:
    return max(_MIN_ITEMS, (n_docs // _DOCS_PER_ITEM) // 4 * 4)


def _audio_base(ga: int, n_samples: int, rate: int = 8000, key: str | None = None):
    """Deterministic per-group audio content: one tone per fingerprint
    band, each with a sha256-seeded amplitude, AM period, and phases —
    so band-energy differences AND their frame-to-frame changes both
    have real magnitude (a stationary tone mixture leaves the H&K time
    double-difference ≈ 0 and the sign bits become quantization noise;
    measured: tones → volume-variant distance up to 22 bits, this
    generator → ≤ 1 bit at 300 groups). Returns float samples.
    ``key`` overrides the seed string (the incremental batch fixture
    uses a batch-only namespace so fresh clips never collide with the
    corpus; measured inter distance ≥ 63 bits)."""
    import hashlib

    import numpy as np

    edges = np.linspace(1, 342, AUDIO_FP_BANDS + 1).astype(int)
    rnd = np.frombuffer(
        hashlib.sha256((key or f"media-aud-{ga}").encode()).digest() * 5,
        dtype=np.uint8,
    ).astype(np.float64)
    t = np.arange(n_samples)
    out = np.zeros(n_samples)
    for b in range(AUDIO_FP_BANDS):
        freq = (edges[b] + edges[b + 1]) / 2.0 * rate / 1024.0
        amp = 0.02 + 0.04 * (rnd[b] / 255.0)
        mod_t = 400 + 60.0 * (rnd[17 + b] % 48)
        phase = 2 * np.pi * rnd[34 + b] / 255.0
        psi = 2 * np.pi * rnd[51 + b] / 255.0
        out += (
            amp
            * (1.0 + 0.8 * np.sin(2 * np.pi * t / mod_t + psi))
            * np.sin(2 * np.pi * freq * t / rate + phase)
        )
    return out


def _video_luma(
    gv: int, f: int, width: int = 24, height: int = 16, key: str | None = None
):
    """Deterministic per-(group, frame) luma plane: the shared
    :func:`multimodal.lowfreq_content` DCT-domain recipe, scaled to
    [30, 195] so the +25 brightness regrade never clips — keeping the
    DC-exclusion bit-identity of the per-frame pHash words exact.
    ``key`` overrides the seed string (batch-only namespace for the
    incremental screen's fresh clips)."""
    return lowfreq_content(
        0, width, height, key=key or f"media-vid-{gv}-{f}",
        lo=30.0, span=165.0, gray=True,
    )


def corpus_item(i: int) -> tuple:
    """(media_id, kind, payload, mime, width, height, duration_ms) —
    pure function of the id; any change here must bump
    MEDIA_CORPUS_VERSION and regenerate the goldens
    (tools/gen_media_golden.py)."""
    from covid_data_challenge_spark.operators.jpeg import encode_jpeg_baseline

    m = i % 4
    if m == 0:
        payload = encode_png_rgb(48, 32, img=lowfreq_content(i // 4))
        row = (i, "image", payload, "image/png", 48, 32, -1)
    elif m == 1:
        g = i // 4
        payload = encode_jpeg_baseline(
            48,
            32,
            quality=90 if g % 2 == 0 else 75,
            subsample=(g % 2 == 1),
            img=lowfreq_content(g),
        )
        row = (i, "image", payload, "image/jpeg", 48, 32, -1)
    elif m == 2:
        ga = i // 8
        n_samples = 6000 + (ga % 5) * 800
        vol = 1.0 if i % 8 == 2 else 0.6
        payload = encode_wav_samples(_audio_base(ga, n_samples) * vol)
        row = (i, "audio", payload, "audio/wav", -1, -1, n_samples * 1000 // 8000)
    else:
        import numpy as np

        gv = i // 8
        shift = 0 if i % 8 == 3 else 25
        frames = np.stack([_video_luma(gv, f) for f in range(6)])
        frames = np.clip(frames.astype(np.int32) + shift, 0, 255).astype(np.uint8)
        payload = encode_y4m_luma(frames, 24, 16)
        row = (i, "video", payload, "video/y4m", 24, 16, 240)
    if i % 32 == 17:  # a JPEG slot per 32: truncated stream → quarantine
        payload = payload[: len(payload) // 2]
        row = (row[0], row[1], payload, row[3], row[4], row[5], row[6])
    elif i % 32 == 30:  # a WAV slot per 32: header-only torso → quarantine
        # (a half-length PCM body would still parse as a shorter clip —
        # RIFF is self-describing per chunk — so cut inside the header)
        payload = payload[:16]
        row = (row[0], row[1], payload, row[3], row[4], row[5], row[6])
    return (row[0], row[1], bytearray(row[2]), row[3], row[4], row[5], row[6])


def _corpus_key(sf_dir: str) -> gold_store.Key:
    return gold_store.key(
        "media_corpus",
        sf_dir,
        sources=[f"{sf_dir}/documents.parquet"],
        version=MEDIA_CORPUS_VERSION,
    )


def build_media_corpus(spark: SparkSession, sf_dir: str, n_items: int) -> DataFrame:
    """Distributed corpus build: mapInPandas over ``spark.range`` —
    payload encoding runs on executors, nothing collects."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [corpus_item(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "kind",
                    "payload",
                    "mime",
                    "width",
                    "height",
                    "duration_ms",
                ],
            )

    n_parts = min(32, max(4, n_items // 16))
    return spark.range(0, n_items, 1, n_parts).mapInPandas(batches, MEDIA_SCHEMA)


def media_corpus_path(spark: SparkSession, sf_dir: str) -> str:
    """Path of the sf-scaled corpus gold for ``sf_dir``, built on first
    use (:mod:`~covid_data_challenge_spark.gold_store`: a reader only ever
    sees a complete table). In production this is the ingest landing
    table; the build never fires on the query path."""

    def build(tmp: str) -> None:
        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        build_media_corpus(spark, sf_dir, corpus_size(n_docs)).write.parquet(tmp)

    return gold_store.load_or_build(_corpus_key(sf_dir), build)


def media_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cached sf-scaled corpus for ``sf_dir`` as a plain parquet scan,
    so the decode queries' timed cost is decode, not synthesis."""
    return spark.read.parquet(media_corpus_path(spark, sf_dir))


def media_gold(sf_dir: str, name: str, build_df) -> str:
    """Path of the media gold ``name`` for ``sf_dir``, written from
    ``build_df()`` on first use. Its key holds the corpus key, so a
    corpus rebuild names a new entry."""
    k = gold_store.key(f"media_{name}", sf_dir, corpus=_corpus_key(sf_dir))
    return gold_store.load_or_build(k, lambda tmp: build_df().write.parquet(tmp))
