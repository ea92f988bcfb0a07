"""Tests for chunking, mixture sampling, and PII redaction (the
corpus-prep operators added alongside splits/packing)."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from covid_data_challenge_spark.functions.text import (
    pii_match_count,
    redact_pii,
    tokens,
)
from covid_data_challenge_spark.operators.chunking import chunk_tokens
from covid_data_challenge_spark.operators.sampling import mixture_sample

# ---------------------------------------------------------------------------
# chunking
# ---------------------------------------------------------------------------


def _chunk(spark, text: str, chunk: int, stride: int):
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    out = chunk_tokens(
        df.select("doc_id", tokens(F.col("text")).alias("t")),
        F.col("t"),
        ["doc_id"],
        chunk,
        stride,
    )
    return sorted(out.collect(), key=lambda r: r.chunk_id)


def test_chunk_short_doc_is_one_whole_chunk(spark):
    rows = _chunk(spark, "a b c", chunk=64, stride=48)
    assert len(rows) == 1
    assert rows[0].chunk_tokens == 3
    assert rows[0].chunk_text == "a b c"


def test_chunk_overlap_and_tail(spark):
    # 10 tokens, chunk=4, stride=3 → starts 0,3,6,9; tails shrink.
    words = [f"w{i}" for i in range(10)]
    rows = _chunk(spark, " ".join(words), chunk=4, stride=3)
    assert [r.chunk_id for r in rows] == [0, 1, 2, 3]
    assert rows[0].chunk_text == "w0 w1 w2 w3"
    assert rows[1].chunk_text == "w3 w4 w5 w6"  # 1-token overlap
    assert rows[3].chunk_text == "w9"
    assert [r.chunk_tokens for r in rows] == [4, 4, 4, 1]


def test_chunk_reconstruction_covers_every_token(spark):
    # With stride <= chunk, the union of chunk spans covers all tokens.
    words = [f"t{i}" for i in range(57)]
    rows = _chunk(spark, " ".join(words), chunk=8, stride=5)
    seen = set()
    for r in rows:
        seen.update(r.chunk_text.split(" "))
    assert seen == set(words)
    assert len(rows) == math.ceil(57 / 5)


# ---------------------------------------------------------------------------
# mixture sampling
# ---------------------------------------------------------------------------


def _mix_df(spark, n=2000):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("grp"),
    )


def test_mixture_whole_weights_exact(spark):
    out = mixture_sample(_mix_df(spark), "doc_id", "grp", {"g0": 2.0, "g1": 1.0, "g2": 0.0, "g3": 3.0})
    counts = {r.grp: r.cnt for r in out.groupBy("grp").agg(F.count("*").alias("cnt")).collect()}
    assert counts == {"g0": 1000, "g1": 500, "g3": 1500}  # g2 dropped entirely
    idx = {r.grp: r.mx for r in out.groupBy("grp").agg(F.max("copy_idx").alias("mx")).collect()}
    assert idx == {"g0": 1, "g1": 0, "g3": 2}


def test_mixture_fractional_rate_within_tolerance(spark):
    out = mixture_sample(_mix_df(spark), "doc_id", "grp", {"g0": 0.5, "g1": 1.5, "g2": 1.0, "g3": 1.0})
    counts = {r.grp: r.cnt for r in out.groupBy("grp").agg(F.count("*").alias("cnt")).collect()}
    # 500 keys per group; md5 coin ⇒ binomial(500, .5): ±5σ ≈ ±56
    assert abs(counts["g0"] - 250) < 60
    assert abs(counts["g1"] - 750) < 60


def test_mixture_is_deterministic_and_partitioning_invariant(spark):
    df = _mix_df(spark, 500)
    w = {"g0": 1.3, "g1": 0.7, "g2": 2.1, "g3": 0.0}
    a = sorted(map(tuple, mixture_sample(df, "doc_id", "grp", w).collect()))
    b = sorted(map(tuple, mixture_sample(df.repartition(13), "doc_id", "grp", w).collect()))
    assert a == b


def test_mixture_salt_changes_fractional_sample_only(spark):
    df = _mix_df(spark, 500)
    w = {"g0": 0.5, "g1": 1.0, "g2": 1.0, "g3": 1.0}
    a = set(r.doc_id for r in mixture_sample(df, "doc_id", "grp", w, salt="s1").collect())
    b = set(r.doc_id for r in mixture_sample(df, "doc_id", "grp", w, salt="s2").collect())
    assert a != b  # different coin
    g1plus = set(r.doc_id for r in df.filter(F.col("grp") != "g0").collect())
    assert g1plus <= a and g1plus <= b  # whole-weight groups unaffected


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------


def test_redact_pii_goldens(spark):
    df = spark.createDataFrame(
        [
            Row(i=0, t="mail me at jane.doe+spam@mail.example.org today"),
            Row(i=1, t="call +44-207-9460000 or +1-555-0100"),
            Row(i=2, t="no pii here, just words and 42"),
            Row(i=3, t="x@y.io and +1-555-0199 both"),
        ]
    )
    out = {
        r.i: (r.red, r.n)
        for r in df.select(
            "i",
            redact_pii(F.col("t")).alias("red"),
            pii_match_count(F.col("t")).alias("n"),
        ).collect()
    }
    assert out[0] == ("mail me at <EMAIL> today", 1)
    assert out[1] == ("call <PHONE> or <PHONE>", 2)
    assert out[2] == ("no pii here, just words and 42", 0)
    assert out[3] == ("<EMAIL> and <PHONE> both", 2)


# ---------------------------------------------------------------------------
# corpus shuffle (shard-then-sort)
# ---------------------------------------------------------------------------


def test_shuffle_shards_is_a_partitioning_invariant_permutation(spark):
    from covid_data_challenge_spark.operators.sampling import shuffle_shards

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    out = shuffle_shards(df, "doc_id", 8, salt="t")
    rows = out.collect()
    assert len(rows) == 1000  # a permutation: nothing dropped or duplicated
    assert len({r.doc_id for r in rows}) == 1000
    # positions are contiguous 1..n within every shard
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) == set(range(8))
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard
    # roughly balanced shards (md5-uniform): 1000/8 = 125 ± 5σ
    assert all(70 <= len(ps) <= 180 for ps in by_shard.values())
    # identical under a different input partitioning
    again = shuffle_shards(df.repartition(17), "doc_id", 8, salt="t").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_shuffle_salt_changes_permutation(spark):
    from covid_data_challenge_spark.operators.sampling import shuffle_shards

    df = spark.range(200).withColumnRenamed("id", "doc_id")
    a = {(r.doc_id): (r.shard, r.pos) for r in shuffle_shards(df, "doc_id", 4, "a").collect()}
    b = {(r.doc_id): (r.shard, r.pos) for r in shuffle_shards(df, "doc_id", 4, "b").collect()}
    assert a != b


# ---------------------------------------------------------------------------
# trailing z-score
# ---------------------------------------------------------------------------


def test_zscore_matches_pandas_rolling(spark, sf_dir):
    import os

    import pandas as pd

    import covid_data_challenge_spark.queries_ext  # noqa: F401 — populate REGISTRY
    from covid_data_challenge_spark.registry import REGISTRY

    out = REGISTRY["events_anomaly_zscore"].spark(spark, sf_dir)
    got = {r.event_id: r.zscore for r in out.collect() if r.zscore is not None}
    ev = pd.read_parquet(os.path.join(sf_dir, "events.parquet"))
    ev = ev.sort_values(["ts", "event_id"])
    checked = 0
    for _, g in ev.groupby("user_id"):
        vals = g["value"].to_list()
        for i, eid in enumerate(g["event_id"].to_list()):
            prev = vals[max(0, i - 20) : i]
            if len(prev) < 5:
                assert eid not in got
                continue
            s = pd.Series(prev)
            if s.std(ddof=1) <= 0:
                continue
            expect = round((vals[i] - s.mean()) / s.std(ddof=1), 4)
            assert abs(got[eid] - expect) < 1e-9, eid
            checked += 1
    assert checked > 100


def test_cluster_split_never_leaks_neardups_across_splits(spark, sf_dir):
    """The whole point of cluster-keyed splitting: for EVERY near-dup
    pair, both docs carry the same split label."""
    import covid_data_challenge_spark.queries_ext as qe
    from covid_data_challenge_spark.queries import REGISTRY

    split = REGISTRY["split_by_cluster"].spark(spark, sf_dir)
    pairs = qe.jaccard_pairs(
        qe._docs(spark, sf_dir), n=3, threshold=0.2, max_doc_freq=10
    ).select("doc_a", "doc_b")
    a = split.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    b = split.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    leaked = (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert leaked == 0
    # and the split is still roughly 80/10/10 over clusters
    dist = {r["split"]: r["c"] for r in split.groupBy("split").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert set(dist) == {"train", "val", "test"}


def test_bpe_merge_table_greedy_merges_and_sentinel_expansion(spark):
    from covid_data_challenge_spark.operators.bpe import bpe_merge_table

    # 'abc' x3: merge 1 is 'ab' (ties broken lexically: ab < bc), and
    # merge 2 must EXPAND the sentinel — ('ab','c') reads back as 'abc'.
    docs = spark.createDataFrame(
        [(0, "abc abc abc")], "doc_id long, text string"
    )
    table = sorted(
        (r["rank"], r["pair"], r["cnt"]) for r in bpe_merge_table(docs, k=2).collect()
    )
    assert table == [(1, "ab", 3), (2, "abc", 3)]


def test_bpe_merge_table_weighted_by_word_frequency(spark):
    from covid_data_challenge_spark.operators.bpe import bpe_merge_table

    # 'xy' appears in 3 word instances (2 distinct forms), 'cd' in 2:
    # the dictionary weighting must count instances, not distinct words.
    docs = spark.createDataFrame(
        [(0, "xy xy xyz cd cd")], "doc_id long, text string"
    )
    first = {r["rank"]: (r["pair"], r["cnt"]) for r in bpe_merge_table(docs, k=1).collect()}
    assert first[1] == ("xy", 3)


def test_feature_hashing_is_count_preserving_and_deterministic(spark, sf_dir):
    """The hashed vector's component sum must equal the document's token
    count (hashing redistributes counts, never loses them), and two runs
    must agree bit-for-bit (md5 buckets, no rand)."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401 — populate
    from covid_data_challenge_spark.registry import REGISTRY

    out1 = {r["doc_id"]: r["features"] for r in
            REGISTRY["doc_feature_hashing"].spark(spark, sf_dir).collect()}
    out2 = {r["doc_id"]: r["features"] for r in
            REGISTRY["doc_feature_hashing"].spark(spark, sf_dir).collect()}
    assert out1 == out2
    toks = {r["doc_id"]: r["n"] for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .selectExpr("doc_id",
                        "size(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ')) AS n")
            .collect()}
    for d, feat in out1.items():
        assert sum(int(x) for x in feat.split(",")) == toks[d]


def test_bpe_encode_stats_applies_merges_in_rank_order(spark):
    from covid_data_challenge_spark.operators.bpe import bpe_encode_stats

    # 'abc' x3 trains merges [ab, (ab)c]; encoding 'abc' applies both:
    # 3 base symbols -> 1 encoded unit, 2 merges applied per word.
    docs = spark.createDataFrame([(0, "abc abc abc")], "doc_id long, text string")
    row = bpe_encode_stats(docs, k=2).collect()[0]
    assert (
        row.n_words,
        row.units_before,
        row.units_after,
        row.merges_applied,
    ) == (3, 9, 3, 6)
    assert row.compression == 3 / 9


def test_bpe_encode_stats_unmerged_words_pass_through(spark):
    from covid_data_challenge_spark.operators.bpe import bpe_encode_stats

    # Corpus dominated by 'zz' (the only trained merge): a word sharing
    # no pair with the merge table must come out unchanged.
    docs = spark.createDataFrame(
        [(0, "zz zz zz zz"), (1, "qf")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in bpe_encode_stats(docs, k=1).collect()}
    assert rows[1].units_before == rows[1].units_after == 2
    assert rows[1].merges_applied == 0
    assert rows[0].units_after == 4  # each 'zz' collapses to one unit


def test_fim_and_t5_transforms_reconstruct_original_text(spark, sf_dir):
    """Both objective transforms must be lossless re-orderings: FIM's
    prefix+middle+suffix and T5's input-with-sentinels merged with its
    target spans must each rebuild the exact normalized document."""
    import re

    from pyspark.sql import functions as F

    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.functions.text import normalize_text
    from covid_data_challenge_spark.registry import REGISTRY

    norm = {
        r.doc_id: r.t
        for r in covid_data_challenge_spark.queries_ext._docs(spark, sf_dir)
        .select("doc_id", normalize_text(F.col("text")).alias("t"))
        .collect()
    }

    fim = REGISTRY["fim_transform"].spark(spark, sf_dir).collect()
    assert fim
    for r in fim:
        m = re.match(r"<PRE> (.*) <SUF> (.*) <MID> (.*)$", r.psm_text, re.S)
        assert m, r.psm_text
        pre, suf, mid = m.groups()
        rebuilt = " ".join(x for x in (pre, mid, suf) if x)
        assert rebuilt == norm[r.doc_id], r.doc_id
        assert r.prefix_len + r.middle_len <= r.n_tokens

    t5 = REGISTRY["t5_span_corruption"].spark(spark, sf_dir).collect()
    assert t5
    for r in t5:
        spans = {}
        parts = re.split(r"(<X_\d+>)", r.target_text)
        # parts: ['', '<X_0>', ' span ', '<X_1>', ...]
        for tag, body in zip(parts[1::2], parts[2::2] + [""]):
            spans[tag] = body.strip()
        rebuilt = r.input_text
        for tag, body in spans.items():
            rebuilt = rebuilt.replace(tag, body)
        assert " ".join(rebuilt.split()) == norm[r.doc_id], r.doc_id
        assert r.masked_tokens == sum(len(s.split()) for s in spans.values())


def test_wordpiece_merge_table_likelihood_ranking_diverges_from_bpe(spark):
    """WordPiece (r7) vs a pure-Python replica, on a fixture built so
    the likelihood winner DIFFERS from the frequency winner: 'xy'
    appears 5x but x and y are everywhere (score 5/(9*8)=0.069...);
    'qz' appears 3x and q/z appear ONLY there (score 3/(3*3)=0.333) —
    BPE merges 'xy' first, WordPiece must merge 'qz' first."""
    from collections import Counter

    from covid_data_challenge_spark.operators.bpe import (
        bpe_merge_table,
        wordpiece_merge_table,
    )

    text = "xy xy xy xy xy qz qz qz xa yb xc yd"
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")

    # pure-Python replica of one WordPiece step
    wd = Counter(text.split())
    pair_cnt: Counter = Counter()
    sym_cnt: Counter = Counter()
    for w, n in wd.items():
        for i in range(len(w) - 1):
            pair_cnt[w[i : i + 2]] += n
        for ch in w:
            sym_cnt[ch] += n
    scored = {
        p: c / (sym_cnt[p[0]] * sym_cnt[p[1]]) for p, c in pair_cnt.items()
    }
    best = max(scored.items(), key=lambda kv: (kv[1], [-ord(ch) for ch in kv[0]]))

    wp = {r["rank"]: r for r in wordpiece_merge_table(docs, k=2).collect()}
    bp = {r["rank"]: r for r in bpe_merge_table(docs, k=1).collect()}
    assert bp[1]["pair"] == "xy"  # frequency winner
    assert wp[1]["pair"] == "qz" == best[0]  # likelihood winner
    assert wp[1]["cnt"] == 3
    import math

    assert wp[1]["score_units"] == math.floor(1e12 * scored["qz"])
    # second merge runs over the sentinel-rewritten dictionary and the
    # expansion reads back as a real string (no control bytes)
    assert "\x01" not in wp[2]["pair"]


def test_classifier_ece_consistent_with_reliability_table(spark, sf_dir):
    """classifier_ece (r7) must be exactly the Guo et al. reduction of
    classifier_calibration's reliability table: same bins, ECE equals
    the integer-quantized weighted |conf − acc| sum, MCE the max, and
    0 <= ECE <= MCE <= 1."""
    import math

    import covid_data_challenge_spark.queries_ext  # noqa: F401
    from covid_data_challenge_spark.registry import REGISTRY

    table = REGISTRY["classifier_calibration"].spark(spark, sf_dir).collect()
    out = REGISTRY["classifier_ece"].spark(spark, sf_dir).collect()
    assert len(out) == 1
    r = out[0]
    n = sum(b.n_docs for b in table)
    assert r.n_docs == n
    assert r.n_bins_nonempty == len(table)
    want_units = sum(
        math.floor(1e9 * ((b.n_docs / n) * abs(b.mean_predicted - b.frac_positive)))
        for b in table
    )
    assert r.ece == want_units / 1e9
    want_mce = round(max(abs(b.mean_predicted - b.frac_positive) for b in table), 9)
    assert r.mce == want_mce
    assert 0.0 <= r.ece <= r.mce <= 1.0


def test_wordpiece_encode_stats_consistency(spark):
    """wordpiece_encode_stats (r7): every merge application shrinks
    unit counts by exactly merges_applied; compression = after/before;
    the likelihood-trained tokenizer compresses the rare-symbol-pair
    corpus where BPE's frequency winner differs (the divergence
    fixture)."""
    from covid_data_challenge_spark.operators.bpe import (
        bpe_encode_stats,
        wordpiece_encode_stats,
    )

    text = "xy xy xy xy xy qz qz qz xa yb xc yd"
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    wp = wordpiece_encode_stats(docs, k=1).collect()[0]
    bp = bpe_encode_stats(docs, k=1).collect()[0]
    assert wp.units_before == bp.units_before == 24  # 12 words x 2 chars
    # k=1: WP merges 'qz' (3 occurrences), BPE merges 'xy' (5)
    assert wp.merges_applied == 3 and bp.merges_applied == 5
    assert wp.units_after == 21 and bp.units_after == 19
    assert abs(wp.compression - 21 / 24) < 1e-12
    assert wp.n_words == 12


def test_corpus_prep_recipe_v5_neardup_prune_and_cluster_split(
    spark, monkeypatch, tmp_path
):
    """v5 (r7): on a corpus with planted near-duplicate pairs among the
    raw docs, the recipe must (a) keep only the lowest-id survivor per
    near-dup cluster (v4's exact dedup would keep both), (b) assign the
    split on the CLUSTER key, and (c) never emit two docs from one
    cluster. The corpus is a documents table in its own sf directory,
    because the recipe's LR feature gold is keyed on that file."""
    import covid_data_challenge_spark.queries_curation  # noqa: F401 — registers it
    from covid_data_challenge_spark import gold_store
    from covid_data_challenge_spark.registry import REGISTRY

    base = ("quantum physics lab experiment with detailed measurement "
            "notes and long careful sentences about the apparatus")
    rows = []
    for i in range(10):  # curated positives (training targets)
        rows.append((i, f"quantum physics lab notes {i}", "en", "src0", 100))
    for i in range(20):  # raw docs: 10 near-dup PAIRS (1-word tweak)
        rows.append((100 + 2 * i, base + f" variant {i}", "en", "raw", 200))
        rows.append((101 + 2 * i, base + f" variant {i} extra", "en", "raw", 200))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    monkeypatch.setattr(gold_store, "ROOT", str(tmp_path / "gold"))
    out = REGISTRY["corpus_prep_recipe_v5"].spark(spark, str(tmp_path)).collect()
    assert out, "the md5 coin kept nothing — fixture needs retuning"
    clusters = [r.cluster_id for r in out]
    assert len(clusters) == len(set(clusters))  # one survivor per cluster
    # every kept doc is its cluster's minimum (canonical survivor)
    for r in out:
        assert r.doc_id == r.cluster_id or r.doc_id >= r.cluster_id
    # planted pairs: if both ends passed the gate, only the even id stays
    ids = {r.doc_id for r in out}
    for i in range(20):
        a, b = 100 + 2 * i, 101 + 2 * i
        assert not (a in ids and b in ids), (a, b)
    assert {r.split for r in out} <= {"train", "val", "test"}


def test_justext_context_promotion_and_classes(spark, monkeypatch):
    """jusText-lite (r9): hand-crafted docs pin each classification
    branch — a stopword-rich prose segment is good, a digit-heavy one
    is bad, and a SHORT trailing segment is promoted good only when a
    neighbor is good (the context pass that keeps headers next to
    prose and drops orphaned chrome)."""
    import covid_data_challenge_spark.queries_ext  # noqa: F401
    import covid_data_challenge_spark.queries_shared as qs
    from covid_data_challenge_spark.registry import REGISTRY

    prose = "the cat sat and the dog ran of to in is that"        # 12 toks, 8 stops
    junk = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    digits = "1 2 3 4 5 cat the and of dog to in"                  # 12 toks, 5 digits
    tail = "tiny header bit"                                       # 3 toks → short
    docs = spark.createDataFrame(
        [
            (1, prose + " " + tail, "en", "s0", 1),   # short after good → good
            (2, junk + " " + tail, "en", "s0", 1),    # short after bad → bad
            (3, digits, "en", "s1", 1),               # digit-heavy → bad
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(qs, "_docs", lambda spark, sf: docs)
    rows = {
        (r.doc_id, r.seg_idx): r
        for r in REGISTRY["justext_segment_classes"].spark(spark, "unused").collect()
    }
    assert rows[(1, 0)].cls_pre == "good" and rows[(1, 0)].cls == "good"
    assert rows[(1, 1)].cls_pre == "short" and rows[(1, 1)].cls == "good"  # promoted
    assert rows[(2, 0)].cls_pre == "bad"
    assert rows[(2, 1)].cls_pre == "short" and rows[(2, 1)].cls == "bad"   # orphaned
    assert rows[(3, 0)].cls_pre == "bad"  # digit density 5/12 > 0.3

    ret = {
        r.source: r
        for r in REGISTRY["justext_retention_by_source"].spark(spark, "unused").collect()
    }
    assert ret["s0"].n_docs == 2 and ret["s0"].n_segments == 4
    assert ret["s0"].kept_segments == 2  # doc 1's both segments
    assert abs(ret["s0"].kept_token_fraction - round(15 / 30, 6)) < 1e-9
    assert ret["s1"].kept_segments == 0 and ret["s1"].kept_token_fraction == 0.0
