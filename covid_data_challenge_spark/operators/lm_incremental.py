"""Incremental / warm-start legs for the tokenizer-LM family (VERDICT
r11 next-round #1 — the last family that refit from scratch on corpus
growth, while media, text-dedup, ANN, and preference all warm-start
from published golds).

Both operators exploit the same algebraic fact: the family's sufficient
statistics are MERGEABLE BY ADDITION (the ``operators/sketch.py``
pattern) —

- the mod-KN trigram model is a pure function of the trigram TYPE
  table ``(tri, c3)``, and type counts over disjoint corpora add;
- the unigram-LM hard-EM round is a pure function of the word
  dictionary ``(w, n)`` and the piece-usage table ``(piece, vc)``, and
  Viterbi usage under FIXED scores is additive over word instances
  (the DP of a word depends only on the word and the score table, so
  Σ_w n_hist·pieces(w) + Σ_w n_batch·pieces(w) = Σ_w n_merged·pieces(w)).

So a new ingest batch never re-derives history: the history statistics
are published ONCE as parameter golds (:mod:`gold_store` entries keyed on
the ``hist`` frame's input files and canonical plan, so another history
names another entry) and each batch merges its own, batch-sized deltas
into them.

Correctness is the strong form: because count merge is EXACT, the
incremental rescore is bit-identical to a full refit over
history ∪ batch — the registered queries' DuckDB oracles ARE the full
refit (restricted to scoring batch docs), so the driver's hash gate
proves the delta algebra, not just approximates it.

Scale shape (the plan the tests pin): every history gold is scanned
exactly ONCE per screen, joined against BROADCAST batch-derived key
sets (the ``media_incremental`` shape — history never shuffles); all
delta aggregations are batch-types-sized; the final scoring joins are
batch-keyed model rows only.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_data_challenge_spark import gold_store

#: bump whenever a kernel change alters published gold values — it is
#: part of every LM gold key, so entries of the old layout are never read
LM_GOLD_VERSION = 1


def _lm_gold(family: str, sf_dir: str, hist: DataFrame, build) -> str:
    """Path of LM gold ``family`` built from ``hist``; ``hist`` must read
    files (:func:`gold_store.key` refuses in-memory frames)."""
    k = gold_store.key(family, sf_dir, frames=[hist], version=LM_GOLD_VERSION)
    return gold_store.load_or_build(k, build)


def _ind(c):
    """0/1 indicator column for a boolean expression — the building
    block of every bucket-delta below (new bucket minus old bucket)."""
    return F.when(c, F.lit(1)).otherwise(F.lit(0))


def _probe_gold(gold: DataFrame, keys: DataFrame, key: str) -> DataFrame:
    """Rows of ``gold`` matching the (small, batch-derived) ``keys``
    frame — gold side STREAMED once, keys broadcast (inner BHJ). The
    caller then left-joins the broadcast-sized probe result back onto
    the batch frame, because Spark cannot broadcast the preserved side
    of an outer join — this two-step is the standard way to get
    "batch ⟕ gold with gold scanned once, nothing history-sized
    shuffled" (the media_incremental screen shape)."""
    return gold.join(F.broadcast(keys), key)


# ---------------------------------------------------------------------------
# mod-KN trigram: history count gold + exact delta merge


def kn3_gold_dir(spark: SparkSession, sf_dir: str, hist: DataFrame) -> str:
    """Load-or-build the mod-KN HISTORY gold: the trigram type table
    and every derived model table (contexts, continuation tables,
    count-of-counts scalars), published atomically through
    :mod:`gold_store`. The build derives through the SAME
    :func:`operators.lm.kn3_model_from_tt` the full refit uses, so the
    gold holds exactly the counts a refit would compute.

    Published layout (all BIGINT counts):
      tt/    (tri, c3)                       — trigram type counts
      ctx3/  (ctx2, c_ctx, n1, n2, n3p)      — trigram contexts
      cb/    (bg23, cc)                      — bigram continuations
      ctx2/  (w2, cc_ctx, m1, m2, m3p)       — continuation contexts
      uni/   (w3, cu)                        — unigram continuations
      meta/  (t1..t4, b1..b4, u)             — global count-of-counts
    """
    from covid_data_challenge_spark.operators.lm import (
        doc_trigrams,
        kn3_model_from_tt,
    )

    def build(tmp: str) -> None:
        tt = (
            doc_trigrams(hist)
            .groupBy("tri")
            .agg(F.count(F.lit(1)).cast("long").alias("c3"))
            .localCheckpoint(eager=True)
        )
        ctx3, coc3, cb, ctx2, coc2, uni, utot = kn3_model_from_tt(tt)
        tt.write.parquet(f"{tmp}/tt")
        ctx3.withColumnRenamed("__ctx2", "ctx2").write.parquet(f"{tmp}/ctx3")
        cb.withColumnRenamed("__bg23", "bg23").write.parquet(f"{tmp}/cb")
        ctx2.withColumnRenamed("__w2", "w2").write.parquet(f"{tmp}/ctx2")
        uni.withColumnRenamed("__w3", "w3").write.parquet(f"{tmp}/uni")
        coc3.crossJoin(coc2).crossJoin(utot).write.parquet(f"{tmp}/meta")

    return _lm_gold("lm_kn3", sf_dir, hist, build)


def kn3_incremental_nll(
    spark: SparkSession, sf_dir: str, hist: DataFrame, batch: DataFrame
) -> DataFrame:
    """Score a NEW batch under the mod-KN trigram model of
    history ∪ batch WITHOUT re-deriving history: merge the batch's
    count deltas into the published history gold and rescore batch
    docs only. Bit-identical to a full refit restricted to batch docs
    (counts over disjoint doc sets add exactly; trigrams never cross
    doc boundaries), which is exactly what the DuckDB oracle computes.

    Delta algebra per model table (every aggregation batch-types-sized,
    every gold scanned once against broadcast batch keys):

    - ``tt``:   c3 ← c3_h + c3_b for batch types.
    - ``ctx3``: per batch context, c_ctx += Σ c3_b; the n1/n2/n3p
      buckets move by Σ([c3=k] − [c3_h=k]) over batch-touched types.
    - ``coc3``: the global t1..t4 move by the same indicator deltas.
    - ``cb``:   a continuation count changes ONLY when a batch type is
      NEW (c3_h = 0): cc += #new types per suffix bigram.
    - ``ctx2``/``coc2``: cc_ctx += Σ δcc; m/b buckets move by
      ([cc=k] − [cc_h=k]) over suffixes with δcc > 0.
    - ``uni``/``utot``: a new cb ENTRY (cc_h = 0, which forces
      δcc ≥ 1) adds 1 to its w3's continuation count and to the type
      total.

    The merged batch-keyed model rows then feed the SAME join +
    probability expression as the full refit
    (:func:`operators.lm.kn3_join_model` / :func:`kn3_per_type_units`),
    so bit-equality follows from count equality alone."""
    from covid_data_challenge_spark.operators.lm import (
        doc_trigrams,
        kn3_doc_scores,
        kn3_join_model,
        kn3_per_type_units,
    )

    p = kn3_gold_dir(spark, sf_dir, hist)
    g_tt = spark.read.parquet(f"{p}/tt")
    g_ctx3 = spark.read.parquet(f"{p}/ctx3")
    g_cb = spark.read.parquet(f"{p}/cb")
    g_ctx2 = spark.read.parquet(f"{p}/ctx2")
    g_uni = spark.read.parquet(f"{p}/uni")
    g_meta = spark.read.parquet(f"{p}/meta")

    zero = F.lit(0).cast("long")
    tri_b = doc_trigrams(batch).localCheckpoint(eager=True)
    tri_counts_b = tri_b.groupBy("doc_id", "tri").agg(
        F.count(F.lit(1)).alias("__k")
    )
    tt_b = (
        tri_b.groupBy("tri")
        .agg(F.count(F.lit(1)).cast("long").alias("c3_b"))
        .localCheckpoint(eager=True)
    )

    # merged type rows for batch types — gold tt scanned ONCE here
    hits_tt = _probe_gold(g_tt, tt_b.select("tri"), "tri")
    tt_bm = (
        tt_b.join(
            F.broadcast(hits_tt.withColumnRenamed("c3", "__c3h")), "tri", "left"
        )
        .select(
            "tri",
            "c3_b",
            F.coalesce(F.col("__c3h"), zero).alias("c3_h"),
            (F.col("c3_b") + F.coalesce(F.col("__c3h"), zero)).alias("c3"),
        )
        .localCheckpoint(eager=True)
    )

    # ctx3: merged rows for batch contexts
    d3 = tt_bm.groupBy(F.substring_index("tri", " ", 2).alias("__ctx2")).agg(
        F.sum("c3_b").cast("long").alias("__dc"),
        F.sum(_ind(F.col("c3") == 1) - _ind(F.col("c3_h") == 1))
        .cast("long")
        .alias("__dn1"),
        F.sum(_ind(F.col("c3") == 2) - _ind(F.col("c3_h") == 2))
        .cast("long")
        .alias("__dn2"),
        F.sum(_ind(F.col("c3") >= 3) - _ind(F.col("c3_h") >= 3))
        .cast("long")
        .alias("__dn3p"),
    )
    hits3 = _probe_gold(
        g_ctx3.withColumnRenamed("ctx2", "__ctx2"), d3.select("__ctx2"), "__ctx2"
    )
    ctx3_m = d3.join(F.broadcast(hits3), "__ctx2", "left").select(
        "__ctx2",
        (F.coalesce(F.col("c_ctx"), zero) + F.col("__dc")).alias("c_ctx"),
        (F.coalesce(F.col("n1"), zero) + F.col("__dn1")).alias("n1"),
        (F.coalesce(F.col("n2"), zero) + F.col("__dn2")).alias("n2"),
        (F.coalesce(F.col("n3p"), zero) + F.col("__dn3p")).alias("n3p"),
    )

    # coc3 global deltas (1 row)
    dco3 = tt_bm.agg(
        *[
            F.sum(_ind(F.col("c3") == i) - _ind(F.col("c3_h") == i))
            .cast("long")
            .alias(f"__dt{i}")
            for i in (1, 2, 3, 4)
        ]
    )

    # cb: merged continuation rows for batch suffix bigrams
    dcb = tt_bm.groupBy(F.substring_index("tri", " ", -2).alias("__bg23")).agg(
        F.sum(_ind(F.col("c3_h") == 0)).cast("long").alias("__dcc")
    )
    hits_cb = _probe_gold(
        g_cb.withColumnRenamed("bg23", "__bg23"), dcb.select("__bg23"), "__bg23"
    )
    cb_bm = (
        dcb.join(F.broadcast(hits_cb), "__bg23", "left")
        .select(
            "__bg23",
            F.coalesce(F.col("cc"), zero).alias("cc_h"),
            "__dcc",
            (F.coalesce(F.col("cc"), zero) + F.col("__dcc")).alias("cc"),
        )
        .localCheckpoint(eager=True)
    )

    # ctx2: merged rows for batch w2s
    d2 = cb_bm.groupBy(F.substring_index("__bg23", " ", 1).alias("__w2")).agg(
        F.sum("__dcc").cast("long").alias("__dcx"),
        F.sum(_ind(F.col("cc") == 1) - _ind(F.col("cc_h") == 1))
        .cast("long")
        .alias("__dm1"),
        F.sum(_ind(F.col("cc") == 2) - _ind(F.col("cc_h") == 2))
        .cast("long")
        .alias("__dm2"),
        F.sum(_ind(F.col("cc") >= 3) - _ind(F.col("cc_h") >= 3))
        .cast("long")
        .alias("__dm3p"),
    )
    hits2 = _probe_gold(
        g_ctx2.withColumnRenamed("w2", "__w2"), d2.select("__w2"), "__w2"
    )
    ctx2_m = d2.join(F.broadcast(hits2), "__w2", "left").select(
        "__w2",
        (F.coalesce(F.col("cc_ctx"), zero) + F.col("__dcx")).alias("cc_ctx"),
        (F.coalesce(F.col("m1"), zero) + F.col("__dm1")).alias("m1"),
        (F.coalesce(F.col("m2"), zero) + F.col("__dm2")).alias("m2"),
        (F.coalesce(F.col("m3p"), zero) + F.col("__dm3p")).alias("m3p"),
    )

    # coc2 + utot global deltas (1 row): b-bucket moves and new-entry count
    dco2 = cb_bm.agg(
        *[
            F.sum(_ind(F.col("cc") == i) - _ind(F.col("cc_h") == i))
            .cast("long")
            .alias(f"__db{i}")
            for i in (1, 2, 3, 4)
        ],
        F.sum(_ind(F.col("cc_h") == 0)).cast("long").alias("__dut"),
    )

    # uni: merged rows for batch w3s (only NEW cb entries move cu)
    du = cb_bm.groupBy(F.substring_index("__bg23", " ", -1).alias("__w3")).agg(
        F.sum(_ind(F.col("cc_h") == 0)).cast("long").alias("__dcu")
    )
    hitsu = _probe_gold(
        g_uni.withColumnRenamed("w3", "__w3"), du.select("__w3"), "__w3"
    )
    uni_m = du.join(F.broadcast(hitsu), "__w3", "left").select(
        "__w3", (F.coalesce(F.col("cu"), zero) + F.col("__dcu")).alias("cu")
    )

    # merged global scalars: one meta read, one 1-row frame
    scal = (
        g_meta.crossJoin(F.broadcast(dco3))
        .crossJoin(F.broadcast(dco2))
        .select(
            *[
                (F.col(f"t{i}") + F.col(f"__dt{i}")).alias(f"t{i}")
                for i in (1, 2, 3, 4)
            ],
            *[
                (F.col(f"b{i}") + F.col(f"__db{i}")).alias(f"b{i}")
                for i in (1, 2, 3, 4)
            ],
            (F.col("u") + F.col("__dut")).alias("u"),
        )
        .localCheckpoint(eager=True)
    )

    # the merged model frames are all batch-KEYED (bounded by the
    # ingest batch, not by history), so broadcast them explicitly into
    # the scoring joins — without the hint Spark has no stats for the
    # checkpoint-fed aggregates and falls back to four SortMergeJoins
    # (all batch×batch, harmless at fixture scale, but the broadcast is
    # the correct 100-TB plan: the serve leg then shuffles nothing)
    joined = kn3_join_model(
        tt_bm.select("tri", "c3"),
        F.broadcast(ctx3_m),
        F.broadcast(cb_bm.select("__bg23", "cc")),
        F.broadcast(ctx2_m),
        F.broadcast(uni_m),
        scal.select("t1", "t2", "t3", "t4"),
        scal.select("b1", "b2", "b3", "b4"),
        scal.select("u"),
    )
    return kn3_doc_scores(tri_counts_b, F.broadcast(kn3_per_type_units(joined)))


# ---------------------------------------------------------------------------
# unigram-LM: history EM-state gold + one warm-started round


def unigram_gold_dir(spark: SparkSession, sf_dir: str, hist: DataFrame) -> str:
    """Load-or-build the unigram-LM HISTORY gold — the EM state after
    training on history (seed + one E-step + the prune/re-score M-step,
    i.e. the round-2 vocabulary) plus the history usage UNDER those
    scores, which is the additive sufficient statistic the warm-start
    round merges batch usage into:

      vocab/ (piece, u)   — round-2 scores (``_rescored_vocab`` output)
      usage/ (piece, vc)  — history Viterbi usage under those scores
      meta/  (vt1)        — the round-1 usage total, the smoothing
                            denominator for floor-scoring singles the
                            batch introduces that history never saw
    """
    from covid_data_challenge_spark.operators.unigram import (
        _rescored_vocab,
        _round_usage,
        seed_vocab,
        word_dictionary,
    )

    def build(tmp: str) -> None:
        wd = word_dictionary(hist).localCheckpoint(eager=True)
        seed = seed_vocab(wd).select("piece", "u").localCheckpoint(eager=True)
        used1 = _round_usage(wd, seed).localCheckpoint(eager=True)
        vocab_g = _rescored_vocab(seed, used1)
        vc_h = _round_usage(wd, vocab_g)
        vocab_g.write.parquet(f"{tmp}/vocab")
        vc_h.write.parquet(f"{tmp}/usage")
        used1.agg(F.sum("vc").cast("long").alias("vt1")).write.parquet(
            f"{tmp}/meta"
        )

    return _lm_gold("lm_unigram", sf_dir, hist, build)


def unigram_incremental(
    spark: SparkSession, sf_dir: str, hist: DataFrame, batch: DataFrame
) -> DataFrame:
    """One WARM-STARTED hard-EM round over history ∪ batch that touches
    only the batch: segment the BATCH word dictionary under the
    published round-2 scores, add the usage to the published history
    usage (Viterbi usage under fixed scores is additive over word
    instances — the module-docstring argument), and M-step re-score the
    merged counts. Bit-identical to running the E-step over the full
    merged dictionary under the same warm vocabulary — which is what
    the DuckDB oracle does — because no batch word's DP can differ:
    scores are fixed and the vocabulary additions (batch-new single
    chars at the smoothed floor score) never occur inside history
    words.

    Output mirrors the EM family tables: (piece, piece_len, hist_count,
    batch_count, viterbi_count, kept, new_score_units)."""
    from covid_data_challenge_spark.functions.pmath import (
        portable_ln,
        portable_ln_let,
    )
    from covid_data_challenge_spark.operators.unigram import (
        _round_usage,
        _substrings,
        word_dictionary,
    )

    p = unigram_gold_dir(spark, sf_dir, hist)
    g_vocab = spark.read.parquet(f"{p}/vocab")
    g_usage = spark.read.parquet(f"{p}/usage")
    g_meta = spark.read.parquet(f"{p}/meta")

    zero = F.lit(0).cast("long")
    wd_b = word_dictionary(batch).localCheckpoint(eager=True)
    # batch-introduced single chars take the smoothed ln(1/vt1) floor —
    # the same denominator history's round-1 rescore smoothed with
    singles_b = (
        _substrings(wd_b)
        .filter(F.length("piece") == 1)
        .select("piece")
        .distinct()
    )
    new_singles = singles_b.join(
        g_vocab.select("piece"), "piece", "left_anti"
    ).crossJoin(F.broadcast(g_meta)).select(
        "piece",
        F.floor(
            F.lit(1000000.0)
            * (
                portable_ln(F.lit(1.0))
                - portable_ln(F.col("vt1").cast("double"))
            )
        )
        .cast("long")
        .alias("u"),
    )
    warm = (
        g_vocab.select("piece", "u")
        .unionByName(new_singles)
        .localCheckpoint(eager=True)
    )
    used_b = _round_usage(wd_b, warm)

    j = (
        warm.select("piece")
        .join(g_usage.withColumnRenamed("vc", "__vh"), "piece", "left")
        .join(used_b.withColumnRenamed("vc", "__vb"), "piece", "left")
        .select(
            "piece",
            F.coalesce(F.col("__vh"), zero).alias("hist_count"),
            F.coalesce(F.col("__vb"), zero).alias("batch_count"),
            (
                F.coalesce(F.col("__vh"), zero)
                + F.coalesce(F.col("__vb"), zero)
            ).alias("viterbi_count"),
        )
        # vocab-sized; consumed twice (the vtot scalar and the final
        # projection) — the boundary keeps the usage gold at ONE scan
        .localCheckpoint(eager=True)
    )
    vtot = j.agg(F.sum("viterbi_count").cast("long").alias("__vt"))
    return j.join(F.broadcast(vtot)).select(
        "piece",
        F.length("piece").cast("int").alias("piece_len"),
        "hist_count",
        "batch_count",
        "viterbi_count",
        (F.col("viterbi_count") > 0).alias("kept"),
        F.when(
            F.col("viterbi_count") > 0,
            # let-bound: see unigram_em_round's new_score_units note
            F.floor(
                F.lit(1000000.0)
                * (
                    portable_ln_let(F.col("viterbi_count").cast("double"))
                    - portable_ln_let(F.col("__vt").cast("double"))
                )
            ).cast("long"),
        ).alias("new_score_units"),
    )


# ---------------------------------------------------------------------------
# BPE: history word-dictionary gold + additive merge


def bpe_gold_dir(spark: SparkSession, sf_dir: str, hist: DataFrame) -> str:
    """Load-or-build the BPE family's parameter gold: HISTORY's (w, n)
    word-frequency dictionary — the Sennrich trainer's entire input
    (operators/bpe.py's scale argument: the loop runs over this
    Heaps-bounded table, so the corpus scan that builds it is the only
    corpus-sized cost, and it is exactly what this gold amortizes)."""
    from covid_data_challenge_spark.functions.text import tokens as _tokens

    def build(tmp: str) -> None:
        (
            hist.select(F.explode(_tokens(F.col("text"))).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .write.parquet(f"{tmp}/wd")
        )

    return _lm_gold("lm_bpe", sf_dir, hist, build)


def bpe_incremental_merge_table(
    spark: SparkSession,
    sf_dir: str,
    hist: DataFrame,
    batch: DataFrame,
    k: int = 4,
) -> DataFrame:
    """Train the k-merge BPE table over history ∪ batch WITHOUT
    re-scanning history: word counts are additive over disjoint
    corpora, so merging the batch's (batch-vocabulary-sized) word
    counts into the published history dictionary reproduces the full
    corpus dictionary EXACTLY — and therefore every pair count, every
    winner, every tie-break of the merge loop. The oracle is the full
    refit's unrolled loop over all documents, hash-exact.

    Plan shape: the history dictionary gold is scanned twice (the
    count-merge left join and the new-words probe), both times against
    BROADCAST batch-derived frames — never shuffled; the merge loop
    itself is the shared :func:`operators.bpe.bpe_merge_table` over the
    merged dictionary."""
    from covid_data_challenge_spark.functions.text import tokens as _tokens
    from covid_data_challenge_spark.operators.bpe import bpe_merge_table

    p = bpe_gold_dir(spark, sf_dir, hist)
    g_wd = spark.read.parquet(f"{p}/wd")

    zero = F.lit(0).cast("long")
    wd_b = (
        batch.select(F.explode(_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    hits = _probe_gold(g_wd.select("w"), wd_b.select("w"), "w")
    new_words = wd_b.join(F.broadcast(hits), "w", "left_anti")
    merged = (
        g_wd.join(
            F.broadcast(wd_b.withColumnRenamed("n", "__nb")), "w", "left"
        )
        .select(
            "w", (F.col("n") + F.coalesce(F.col("__nb"), zero)).alias("n")
        )
        .unionByName(new_words)
    )
    return bpe_merge_table(None, k=k, word_counts=merged)
