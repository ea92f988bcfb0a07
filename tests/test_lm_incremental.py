"""Tests for the r12 tokenizer/LM incremental legs
(operators/lm_incremental.py): exact equivalence of the KN3 delta merge
with a full refit, the unigram warm-start additivity (including the
batch-new-singles floor path the parquet fixtures never exercise),
warm-start-vs-full-refit closeness, and the one-gold-scan plan pins.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture
def gold_root(tmp_path, monkeypatch):
    """The gold store rooted under ``tmp_path``, so a test's golds leave
    nothing behind."""
    from covid_data_challenge_spark import gold_store

    monkeypatch.setattr(gold_store, "ROOT", str(tmp_path / "gold"))
    return tmp_path


def _hist_scan(spark, tmp_path):
    """The history rows as a parquet scan: LM golds key on the files their
    history frame reads, and refuse in-memory frames."""
    path = str(tmp_path / "hist.parquet")
    _mk_docs(spark, _HIST_ROWS).write.parquet(path)
    return spark.read.parquet(path)


#: hand-built corpus with shared words, hist-only words, batch-only
#: words, repeated trigrams crossing the c3 = 1 → 2 bucket boundary on
#: merge, and (for the unigram leg) a batch-only CHARACTER ('q') so the
#: floor-scored new-singles path actually runs
_HIST_ROWS = [
    (1, "the cat sat on the mat"),
    (2, "the cat sat on the hat"),
    (3, "a dog ran over the hill and far away"),
    (4, "the dog sat on a log near the mill"),
    (6, "cats and dogs ran far over the hill"),
    (7, "on the mat sat a very large cat"),
    (8, "near the mill a dog sat still"),
    (9, "the hill and the mill and the mat"),
]
_BATCH_ROWS = [
    (5, "the cat sat on the mat"),  # trigrams shared with history
    (10, "a quick quiet dog sat on the hill"),  # 'q' never in history
    (15, "the mat and the hat ran away"),
]


def test_kn3_incremental_bit_identical_to_full_refit(spark, gold_root):
    """The delta merge is EXACT: incremental scores over the published
    history gold + batch deltas equal the full history∪batch refit
    restricted to batch docs, double-for-double."""
    from covid_data_challenge_spark.operators.lm import kneser_ney3_nll
    from covid_data_challenge_spark.operators.lm_incremental import (
        kn3_incremental_nll,
    )

    hist = _hist_scan(spark, gold_root)
    batch = _mk_docs(spark, _BATCH_ROWS)
    full = _mk_docs(spark, _HIST_ROWS + _BATCH_ROWS)
    sf_key = str(gold_root)

    got = {
        r.doc_id: r
        for r in kn3_incremental_nll(spark, sf_key, hist, batch).collect()
    }
    want = {
        r.doc_id: r
        for r in kneser_ney3_nll(full)
        .filter(F.col("doc_id") % 5 == 0)
        .collect()
    }
    assert set(got) == set(want) == {5, 10, 15}
    for d in want:
        assert got[d].n_trigrams == want[d].n_trigrams
        assert got[d].kn3_nll == want[d].kn3_nll, (
            f"doc {d}: {got[d].kn3_nll!r} != {want[d].kn3_nll!r}"
        )


def test_unigram_incremental_additivity_and_new_single_floor(spark, gold_root):
    """viterbi_count == hist_count + batch_count piece-for-piece, the
    merged counts equal a direct E-step over the MERGED dictionary
    under the same warm vocabulary (the additivity theorem the oracle
    replays at fixture scale), and the batch-new single 'q' enters at
    the floor with hist_count = 0 and positive batch usage."""
    from covid_data_challenge_spark.operators.lm_incremental import (
        unigram_gold_dir,
        unigram_incremental,
    )
    from covid_data_challenge_spark.operators.unigram import (
        _round_usage,
        word_dictionary,
    )

    hist = _hist_scan(spark, gold_root)
    batch = _mk_docs(spark, _BATCH_ROWS)
    full = _mk_docs(spark, _HIST_ROWS + _BATCH_ROWS)
    sf_key = str(gold_root)

    out = unigram_incremental(spark, sf_key, hist, batch)
    rows = {r.piece: r for r in out.collect()}

    # internal consistency: counts add, kept tracks merged usage
    for r in rows.values():
        assert r.viterbi_count == r.hist_count + r.batch_count, r
        assert r.kept == (r.viterbi_count > 0), r

    # the batch-new character is in the output vocabulary, unused by
    # history, used by the batch ('quick'/'quiet' both segment over it)
    assert "q" in rows
    assert rows["q"].hist_count == 0
    assert rows["q"].batch_count > 0
    assert rows["q"].kept

    # additivity vs the non-incremental twin: E-step over the MERGED
    # dictionary under the SAME published warm vocabulary
    gold = unigram_gold_dir(spark, sf_key, hist)
    g_vocab = spark.read.parquet(f"{gold}/vocab")
    vt1 = spark.read.parquet(f"{gold}/meta").collect()[0].vt1
    from covid_data_challenge_spark.functions.pmath import portable_ln

    floor_u = (
        spark.range(1)
        .select(
            F.floor(
                F.lit(1000000.0)
                * (
                    portable_ln(F.lit(1.0))
                    - portable_ln(F.lit(float(vt1)))
                )
            ).cast("long")
        )
        .collect()[0][0]
    )
    known = {r.piece: r.u for r in g_vocab.collect()}
    warm_rows = [
        (p, known.get(p, floor_u)) for p in rows
    ]
    warm_df = spark.createDataFrame(warm_rows, "piece string, u long")
    merged_usage = {
        r.piece: r.vc
        for r in _round_usage(word_dictionary(full), warm_df).collect()
    }
    for p, r in rows.items():
        assert r.viterbi_count == merged_usage.get(p, 0), (
            f"piece {p!r}: merged {r.viterbi_count} != "
            f"direct {merged_usage.get(p, 0)}"
        )


def test_unigram_warm_start_close_to_full_refit(spark, sf_dir):
    """The VERDICT r11 #1 'warm-start ≈ full refit' contract at fixture
    scale: scores from the warm-started round track a from-scratch
    2-round refit on the merged corpus. The vocabularies differ only in
    the seed's top-64 multi-char tail (history-frequency vs
    merged-frequency ranking), so compare shared kept pieces.

    Tolerances are MEASURED, not assumed (sf0.001 fixture): kept-piece
    overlap 40/46 = 0.87; the |Δscore| distribution is bimodal —
    median 1,131 micro-nats (the common case: counts nearly agree),
    with a tail of ~0.7-nat deltas on pieces whose Viterbi path FLIPS
    between a single char and a 2-gram under the two vocabularies
    (e.g. 'ue' vs 'u'+'e': usage roughly halves/doubles — genuine
    seed-sensitivity of hard EM, not drift). Gates snap the measured
    values (median 1131, usage-weighted mean 173,056, max 720,559)
    with ~2× headroom."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.operators.unigram import unigram_em_rounds
    from covid_data_challenge_spark.registry import REGISTRY

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    warm = {
        r.piece: r
        for r in REGISTRY["unigram_lm_incremental"]
        .spark(spark, sf_dir)
        .collect()
        if r.kept
    }
    refit = {
        r.piece: r
        for r in unigram_em_rounds(
            docs.selectExpr("doc_id", "text"), 2
        ).collect()
        if r.kept
    }
    shared = set(warm) & set(refit)
    union = set(warm) | set(refit)
    assert len(shared) / len(union) > 0.75, (
        f"kept-piece overlap {len(shared)}/{len(union)}"
    )
    deltas = sorted(
        abs(warm[p].new_score_units - refit[p].new_score_units)
        for p in shared
    )
    assert deltas[len(deltas) // 2] < 50_000, (
        f"median score delta {deltas[len(deltas) // 2]} micro-nats"
    )
    tot = sum(refit[p].viterbi_count for p in shared)
    wmean = (
        sum(
            abs(warm[p].new_score_units - refit[p].new_score_units)
            * refit[p].viterbi_count
            for p in shared
        )
        / tot
    )
    assert wmean < 400_000, f"usage-weighted mean delta {wmean:.0f}"
    assert deltas[-1] < 1_500_000, f"max score delta {deltas[-1]} micro-nats"


def test_kn3_incremental_plan_gold_scans_and_broadcasts(spark, sf_dir):
    """Plan pin for the serving contract: in the FINAL scoring plan the
    lazily-joined gold tables (ctx3/ctx2/uni) are each scanned exactly
    once and arrive through BroadcastHashJoin probes; the two largest
    golds (tt, cb) do NOT appear at all — their single scans happened
    inside the eager checkpoint builds — and nothing history-sized is
    ever sort-merge-joined."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.registry import REGISTRY

    df = REGISTRY["kneser_ney3_incremental_nll"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # FileScan column signatures identify each gold (the /tmp paths are
    # truncated out of the node's Location string)
    for token, n in (
        ("FileScan parquet [ctx2#", 1),  # ctx3 gold: (ctx2, c_ctx, n1..)
        ("FileScan parquet [w2#", 1),  # ctx2 gold: (w2, cc_ctx, m1..)
        ("FileScan parquet [w3#", 1),  # uni gold: (w3, cu)
        ("FileScan parquet [tri#", 0),  # tt gold: consumed in checkpoint
        ("FileScan parquet [bg23#", 0),  # cb gold: consumed in checkpoint
    ):
        assert plan.count(token) == n, (
            f"gold {token}: {plan.count(token)} scans != {n}"
        )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "history-sized side shuffled to join"


def test_unigram_incremental_plan_single_usage_scan(spark, sf_dir):
    """The serve plan reads the history usage gold exactly once; the
    vocab/meta golds are consumed inside the eager warm-vocab build."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.registry import REGISTRY

    df = REGISTRY["unigram_lm_incremental"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # no piece-keyed parquet survives into the final plan: vocab/meta
    # feed the eager warm-vocab build, and the usage gold's single scan
    # happens inside the eager merged-counts checkpoint (it used to
    # appear TWICE here — once under the vtot scalar, once under the
    # final projection — before that boundary landed)
    n = plan.count("FileScan parquet [piece#")
    assert n == 0, f"piece-keyed gold scans in final plan: {n} != 0"


def test_bpe_incremental_identical_merge_table(spark, gold_root):
    """Word counts add over disjoint corpora, so the incremental BPE
    leg's merge table equals the full refit's row-for-row (ranks,
    pairs, counts — winners and tie-breaks included)."""
    from covid_data_challenge_spark.operators.bpe import bpe_merge_table
    from covid_data_challenge_spark.operators.lm_incremental import (
        bpe_incremental_merge_table,
    )

    hist = _hist_scan(spark, gold_root)
    batch = _mk_docs(spark, _BATCH_ROWS)
    full = _mk_docs(spark, _HIST_ROWS + _BATCH_ROWS)
    sf_key = str(gold_root)

    got = sorted(
        (r.rank, r.pair, r.cnt)
        for r in bpe_incremental_merge_table(
            spark, sf_key, hist, batch, k=3
        ).collect()
    )
    want = sorted(
        (r.rank, r.pair, r.cnt) for r in bpe_merge_table(full, k=3).collect()
    )
    assert got == want and len(want) == 3
