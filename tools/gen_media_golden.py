"""Generate the golden-parquet oracle twins for the sf-SCALED media
corpus queries (VERDICT r8 next-round #4).

The corpus is a pure function of the media id
(operators/media_corpus.corpus_item), and the driver's oracle gate
runs at sf0.01 — where documents has 500 rows, so the corpus is
exactly corpus_size(500) = 48 items. This tool replays those 48 items
through the SAME pure-Python kernels the Spark queries run
(auto_features, phash63) and commits the expected rows as parquet —
the gen_jpeg_golden.py discipline. The kernels stay pinned
independently by unit/hypothesis pytest against the engine's own
encoders, so the goldens aren't circular: a kernel change fails pytest
first, a plumbing/schema/quarantine change fails the hash gate.

Run from the repo root after changing corpus_item or the kernels:
python tools/gen_media_golden.py  (then bump MEDIA_CORPUS_VERSION if
the corpus layout itself changed, so cached /tmp gold tables rebuild).
"""

from __future__ import annotations

import itertools
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

FIXTURE_DIR = str(REPO / "covid_data_challenge_spark" / "fixtures")

FEATURES_SCHEMA = pa.schema(
    [
        ("media_id", pa.int64()),
        ("kind", pa.string()),
        ("n_bytes", pa.int64()),
        ("decoded", pa.bool_()),
        ("feat_idx", pa.int32()),
        ("feat_value", pa.float32()),
    ]
)

PAIRS_SCHEMA = pa.schema(
    [("id_a", pa.int64()), ("id_b", pa.int64()), ("hamming", pa.int32())]
)

#: the oracle-gate corpus: documents has 500 rows at sf0.01 AND sf0.001
GATE_N_DOCS = 500


def gate_items() -> list[tuple]:
    from covid_data_challenge_spark.operators.media_corpus import (
        corpus_item,
        corpus_size,
    )

    n = corpus_size(GATE_N_DOCS)
    assert n == 48, f"gate corpus size drifted: {n}"
    return [corpus_item(i) for i in range(n)]


def gen_features(items: list[tuple]) -> None:
    from covid_data_challenge_spark.operators.multimodal import auto_features

    cols: dict[str, list] = {k: [] for k in FEATURES_SCHEMA.names}
    for media_id, kind, payload, _mime, _w, _h, _d in items:
        feats = auto_features(bytes(payload))
        if feats is None:
            cols["media_id"].append(media_id)
            cols["kind"].append(kind)
            cols["n_bytes"].append(len(payload))
            cols["decoded"].append(False)
            cols["feat_idx"].append(None)
            cols["feat_value"].append(None)
        else:
            for j, v in enumerate(feats):
                cols["media_id"].append(media_id)
                cols["kind"].append(kind)
                cols["n_bytes"].append(len(payload))
                cols["decoded"].append(True)
                cols["feat_idx"].append(j)
                cols["feat_value"].append(v)
    table = pa.table(cols, schema=FEATURES_SCHEMA)
    path = f"{FIXTURE_DIR}/media_corpus_features_golden.parquet"
    pq.write_table(table, path)
    n_quar = table.num_rows - table.column("decoded").to_pylist().count(True)
    print(f"{path}: {table.num_rows} rows ({n_quar} quarantine rows)")


def gen_phash_pairs(items: list[tuple]) -> None:
    """Brute-force ALL-pairs ground truth at Hamming ≤ 6 over the
    decodable image payloads — banding recall is pigeonhole-exact at
    that threshold, so the engine's banded join must equal this set."""
    from covid_data_challenge_spark.operators.multimodal import phash63

    hashes = {}
    for media_id, kind, payload, *_ in items:
        if kind != "image":
            continue
        h = phash63(bytes(payload))
        if h is not None:
            hashes[media_id] = h
    rows = {"id_a": [], "id_b": [], "hamming": []}
    planted = 0
    for a, b in itertools.combinations(sorted(hashes), 2):
        d = bin(hashes[a] ^ hashes[b]).count("1")
        if d <= 6:
            rows["id_a"].append(a)
            rows["id_b"].append(b)
            rows["hamming"].append(d)
            if b == a + 1 and a % 4 == 0:
                planted += 1
    table = pa.table(rows, schema=PAIRS_SCHEMA)
    path = f"{FIXTURE_DIR}/media_corpus_phash_pairs_golden.parquet"
    pq.write_table(table, path)
    print(
        f"{path}: {table.num_rows} pairs ({planted} planted PNG↔JPEG, "
        f"{table.num_rows - planted} incidental)"
    )


def _fp_pairs(items: list[tuple], kind: str, fingerprint, out_name: str) -> None:
    """Brute-force ground truth for the fingerprint legs: ALL pairs of
    decodable same-kind payloads with EQUAL-length fingerprints and
    total XOR popcount ≤ 5 — exactly the engine verify; banding recall
    is pigeonhole-exact at that budget (≤ 5 corrupted words of ≥ 6
    leaves a word intact), so the sets coincide."""
    fps = {}
    for media_id, k, payload, *_ in items:
        if k != kind:
            continue
        fp = fingerprint(bytes(payload))
        if fp is not None:
            fps[media_id] = fp
    rows = {"id_a": [], "id_b": [], "hamming": []}
    planted = 0
    for a, b in itertools.combinations(sorted(fps), 2):
        fa, fb = fps[a], fps[b]
        if len(fa) != len(fb):
            continue
        d = sum(bin(x ^ y).count("1") for x, y in zip(fa, fb))
        if d <= 5:
            rows["id_a"].append(a)
            rows["id_b"].append(b)
            rows["hamming"].append(d)
            if b == a + 4 and a % 8 in (2, 3):
                planted += 1
    table = pa.table(rows, schema=PAIRS_SCHEMA)
    path = f"{FIXTURE_DIR}/{out_name}.parquet"
    pq.write_table(table, path)
    print(
        f"{path}: {table.num_rows} pairs ({planted} planted, "
        f"{table.num_rows - planted} incidental)"
    )


INCR_SCHEMA = pa.schema(
    [("batch_id", pa.int64()), ("hist_id", pa.int64()), ("hamming", pa.int32())]
)


def gen_incremental_goldens(items: list[tuple]) -> None:
    """Ground truth for the r10 incremental screens: brute-force
    BATCH × HISTORY distances (never history × history — the screens'
    whole point) at the engine thresholds, replaying batch_item and
    corpus_item through the same kernels."""
    from covid_data_challenge_spark.operators.media_incremental import (
        BATCH_AUDIO_N,
        BATCH_IMAGE_N,
        BATCH_VIDEO_N,
        batch_item,
    )
    from covid_data_challenge_spark.operators.multimodal import (
        audio_fingerprint,
        phash63,
        video_fingerprint,
    )

    legs = (
        ("image", BATCH_IMAGE_N, phash63, 6, "media_incremental_phash_golden"),
        ("audio", BATCH_AUDIO_N, audio_fingerprint, 5,
         "media_incremental_audio_fp_golden"),
        ("video", BATCH_VIDEO_N, video_fingerprint, 5,
         "media_incremental_video_fp_golden"),
    )
    for kind, n_batch, kernel, thr, out_name in legs:
        hist = {
            mid: kernel(bytes(payload))
            for mid, k, payload, *_ in items
            if k == kind
        }
        hist = {mid: f for mid, f in hist.items() if f is not None}
        batch = {}
        for j in range(n_batch):
            mid, _k, payload, *_ = batch_item(kind, j)
            f = kernel(bytes(payload))
            if f is not None:
                batch[mid] = f
        rows = {"batch_id": [], "hist_id": [], "hamming": []}
        for b, fb in sorted(batch.items()):
            for h, fh in sorted(hist.items()):
                if kind == "image":
                    d = bin(fb ^ fh).count("1")
                else:
                    if len(fb) != len(fh):
                        continue
                    d = sum(bin(x ^ y).count("1") for x, y in zip(fb, fh))
                if d <= thr:
                    rows["batch_id"].append(b)
                    rows["hist_id"].append(h)
                    rows["hamming"].append(d)
        table = pa.table(rows, schema=INCR_SCHEMA)
        path = f"{FIXTURE_DIR}/{out_name}.parquet"
        pq.write_table(table, path)
        print(f"{path}: {table.num_rows} pairs")


SHIFT_INCR_SCHEMA = pa.schema(
    [
        ("batch_id", pa.int64()),
        ("hist_id", pa.int64()),
        ("offset", pa.int32()),
        ("overlap", pa.int32()),
        ("hamming", pa.int32()),
    ]
)


def gen_shift_incremental_goldens(items: list[tuple]) -> None:
    """Ground truth for the shift-tolerant incremental screens (r10
    audio, r11 video): brute-force BATCH × HISTORY × OFFSETS with
    exactly the operator's accept rule (BER strictly below
    1/bits_per_word, overlap ≥ 4, |offset| ≤ 4) and best-alignment
    comparator, per modality."""
    from covid_data_challenge_spark.operators.media_incremental import (
        BATCH_AUDIO_N,
        BATCH_VIDEO_N,
        batch_shift_item,
        batch_video_shift_item,
    )
    from covid_data_challenge_spark.operators.multimodal import (
        audio_fingerprint,
        video_fingerprint,
    )

    max_shift, min_overlap = 4, 4
    max_band_freq = 64  # the engine's history stop-word prune knob
    legs = (
        ("audio", 16, BATCH_AUDIO_N, batch_shift_item, audio_fingerprint,
         "media_incremental_audio_shift_golden"),
        ("video", 63, BATCH_VIDEO_N, batch_video_shift_item,
         video_fingerprint, "media_incremental_video_shift_golden"),
    )
    for kind, bits, n_batch, batch_fn, kernel, out_name in legs:
        hist = {
            mid: kernel(bytes(p)) for mid, k, p, *_ in items if k == kind
        }
        hist = {m: f for m, f in hist.items() if f is not None}
        # ADVICE r10: the engine prunes history words with document
        # frequency > max_band_freq BEFORE banding; this brute force has
        # no banding, so engine and golden silently diverge the moment a
        # word actually exceeds the knob. Assert the prune is inert at
        # this gate corpus — if it ever fires, replay the prune here.
        df_counts: dict[int, int] = {}
        for f in hist.values():
            for w in set(f):
                df_counts[w] = df_counts.get(w, 0) + 1
        hottest = max(df_counts.values(), default=0)
        assert hottest <= max_band_freq, (
            f"{kind}: history word document frequency {hottest} exceeds the "
            f"engine's max_band_freq={max_band_freq}: the engine would prune "
            "words this golden still matches on — replay the DF prune here"
        )
        batch = {}
        for j in range(n_batch):
            mid, _k, p, *_ = batch_fn(j)
            f = kernel(bytes(p))
            if f is not None:
                batch[mid] = f
        rows = {k: [] for k in SHIFT_INCR_SCHEMA.names}
        for b, fb in sorted(batch.items()):
            for h, fh in sorted(hist.items()):
                best = None
                for off in range(-max_shift, max_shift + 1):
                    sb = max(0, -off)
                    eb = min(len(fb), len(fh) - off)
                    ln = eb - sb
                    if ln < min_overlap:
                        continue
                    ham = sum(
                        bin(fb[t] ^ fh[t + off]).count("1")
                        for t in range(sb, eb)
                    )
                    if ham * (bits + 1) > ln * bits:
                        continue
                    key = (ham, -ln, abs(off), off)
                    if best is None or key < best[0]:
                        best = (key, off, ln, ham)
                if best is not None:
                    rows["batch_id"].append(b)
                    rows["hist_id"].append(h)
                    rows["offset"].append(best[1])
                    rows["overlap"].append(best[2])
                    rows["hamming"].append(best[3])
        table = pa.table(rows, schema=SHIFT_INCR_SCHEMA)
        path = f"{FIXTURE_DIR}/{out_name}.parquet"
        pq.write_table(table, path)
        print(f"{path}: {table.num_rows} pairs")


TILE_PAIRS_SCHEMA = pa.schema(
    [
        ("id_a", pa.int64()),
        ("id_b", pa.int64()),
        ("dx", pa.int32()),
        ("dy", pa.int32()),
        ("overlap", pa.int32()),
        ("hamming", pa.int32()),
    ]
)
TILE_INCR_SCHEMA = pa.schema(
    [
        ("batch_id", pa.int64()),
        ("hist_id", pa.int64()),
        ("dx", pa.int32()),
        ("dy", pa.int32()),
        ("overlap", pa.int32()),
        ("hamming", pa.int32()),
    ]
)


def _tile_match_brute(fa, fb, max_shift=4, max_bits_per_tile=4, min_overlap=9):
    """Replay the 2-D tile matcher for one (a, b): candidate offsets
    are ONLY those proposed by an exact tile-word collision (the
    banding rule — recall is measured, not pigeonhole, so the golden
    must replay it), verified over the aligned overlap rectangle,
    best alignment by the engine's integer comparator. fa/fb are
    (nx, ny, words row-major); convention: b tile (tx, ty) aligns a
    tile (tx+dx, ty+dy)."""
    nxa, nya, wa = fa
    nxb, nyb, wb = fb
    pos_a: dict[int, list[tuple[int, int]]] = {}
    for ty in range(nya):
        for tx in range(nxa):
            pos_a.setdefault(wa[ty * nxa + tx], []).append((tx, ty))
    offsets = set()
    for ty in range(nyb):
        for tx in range(nxb):
            for txa, tya in pos_a.get(wb[ty * nxb + tx], ()):
                dx, dy = txa - tx, tya - ty
                if abs(dx) <= max_shift and abs(dy) <= max_shift:
                    offsets.add((dx, dy))
    best = None
    for dx, dy in sorted(offsets):
        bx0, by0 = max(0, -dx), max(0, -dy)
        ovw = min(nxb, nxa - dx) - bx0
        ovh = min(nyb, nya - dy) - by0
        if ovw < 1 or ovh < 1 or ovw * ovh < min_overlap:
            continue
        ham = 0
        for ti in range(ovh):
            for tj in range(ovw):
                b_w = wb[(by0 + ti) * nxb + bx0 + tj]
                a_w = wa[(by0 + dy + ti) * nxa + bx0 + dx + tj]
                ham += bin(b_w ^ a_w).count("1")
        ov = ovw * ovh
        if ham > max_bits_per_tile * ov:
            continue
        key = (ham, -ov, abs(dx) + abs(dy), dx, dy)
        if best is None or key < best[0]:
            best = (key, dx, dy, ov, ham)
    return best


def gen_tile_phash_goldens(items: list[tuple]) -> None:
    """Ground truth for the r11 tiled-pHash family: the pair-query
    fixture (all unordered pairs) and the incremental screen (batch ×
    history corpus images), both replaying candidate banding + rect
    verify + best-alignment exactly."""
    from covid_data_challenge_spark.operators.tilehash import (
        TILE_BATCH_N,
        TILE_FIXTURE_GROUPS,
        TILE_VARIANTS,
        batch_tile_item,
        tile_fixture_item,
        tile_phash,
    )

    # pair fixture
    fps = {}
    for sid in range(TILE_FIXTURE_GROUPS):
        for v in range(TILE_VARIANTS):
            mid, _k, p, *_ = tile_fixture_item(sid, v)
            f = tile_phash(bytes(p))
            if f is not None:
                fps[mid] = f
    rows = {k: [] for k in TILE_PAIRS_SCHEMA.names}
    for a, b in itertools.combinations(sorted(fps), 2):
        best = _tile_match_brute(fps[a], fps[b])
        if best is not None:
            _, dx, dy, ov, ham = best
            rows["id_a"].append(a)
            rows["id_b"].append(b)
            rows["dx"].append(dx)
            rows["dy"].append(dy)
            rows["overlap"].append(ov)
            rows["hamming"].append(ham)
    table = pa.table(rows, schema=TILE_PAIRS_SCHEMA)
    path = f"{FIXTURE_DIR}/image_tile_phash_pairs_golden.parquet"
    pq.write_table(table, path)
    print(f"{path}: {table.num_rows} pairs")

    # incremental screen: corpus image history × batch
    hist = {}
    for mid, k, p, *_ in items:
        if k != "image":
            continue
        f = tile_phash(bytes(p))
        if f is not None:
            hist[mid] = f
    # the engine's max_band_freq=64 history word prune must be inert
    # here, or engine and golden diverge (the shift-screen guard)
    df_counts: dict[int, int] = {}
    for _nx, _ny, ws in hist.values():
        for w in set(ws):
            df_counts[w] = df_counts.get(w, 0) + 1
    hottest = max(df_counts.values(), default=0)
    assert hottest <= 64, (
        f"tile-word document frequency {hottest} exceeds max_band_freq=64 — "
        "replay the DF prune in this generator"
    )
    batch = {}
    for j in range(TILE_BATCH_N):
        mid, _k, p, *_ = batch_tile_item(j)
        f = tile_phash(bytes(p))
        if f is not None:
            batch[mid] = f
    rows = {k: [] for k in TILE_INCR_SCHEMA.names}
    for b, fb in sorted(batch.items()):
        for h, fh in sorted(hist.items()):
            best = _tile_match_brute(fh, fb)
            if best is not None:
                _, dx, dy, ov, ham = best
                rows["batch_id"].append(b)
                rows["hist_id"].append(h)
                rows["dx"].append(dx)
                rows["dy"].append(dy)
                rows["overlap"].append(ov)
                rows["hamming"].append(ham)
    table = pa.table(rows, schema=TILE_INCR_SCHEMA)
    path = f"{FIXTURE_DIR}/media_incremental_image_tile_golden.parquet"
    pq.write_table(table, path)
    print(f"{path}: {table.num_rows} pairs")


if __name__ == "__main__":
    from covid_data_challenge_spark.operators.multimodal import (
        audio_fingerprint,
        video_fingerprint,
    )

    items = gate_items()
    gen_features(items)
    gen_phash_pairs(items)
    _fp_pairs(items, "audio", audio_fingerprint, "media_corpus_audio_fp_pairs_golden")
    _fp_pairs(items, "video", video_fingerprint, "media_corpus_video_fp_pairs_golden")
    gen_incremental_goldens(items)
    gen_shift_incremental_goldens(items)
    gen_tile_phash_goldens(items)
