"""BPE tokenizer training as a DataFrame plan: K chained merges.

Generalizes the single-step queries (``bpe_first_merge_candidates``,
``bpe_second_merge_candidates`` in queries_ext.py) into the actual
training loop that produces a MERGE TABLE — the ranked list of winning
symbol pairs that IS a BPE tokenizer's model artifact.

Scale design — the part that matters at 100 TB:

- The corpus is scanned ONCE, into a ``(word, n)`` count table. Real BPE
  trainers (Sennrich et al. 2016, arXiv:1508.07909, §3) train on the
  word-frequency dictionary, not on raw occurrences: the distinct-word
  table is vocabulary-sized (Heaps' law — sublinear in corpus size), so
  every subsequent merge iteration runs over a table thousands of times
  smaller than the corpus, with pair counts weighted by ``sum(n)``.
  Counting over the dictionary is EXACT — identical totals to counting
  raw occurrences.
- Each merge iteration is: pair-explode → kilobyte-sized aggregate →
  1-row TakeOrderedAndProject winner → broadcast the winner back into a
  greedy leftmost ``replace`` over the dictionary. No driver round-trip
  anywhere: the whole K-merge loop is one lazy plan, and the winner
  selection exchanges are tiny. The word-count aggregation exchange is
  reused across iterations (AQE ReusedExchange) rather than re-scanning
  the corpus.
- Merged symbols travel as reserved control bytes (\\x01, \\x02, ...)
  so a merged pair stays a single character for the next iteration's
  ``substr`` pair windows; sentinels are expanded back to readable
  strings only in the final merge-table projection (a chain of 1-row
  broadcast joins).

The same construction is emitted as an unrolled DuckDB CTE by
:func:`bpe_merge_oracle_sql`, so the full training loop — winner
tie-breaks included — is hash-checked end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from covid_data_challenge_spark.functions.text import tokens


def _sym_pairs(wdf: DataFrame, wcol: str) -> DataFrame:
    """Adjacent symbol pairs of each dictionary word, weighted by the
    word's corpus count ``n``: (pair, cnt) aggregate."""
    w = F.col(wcol)
    pair = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(w) - 1, F.lit(0))),
            # sequence(1, 0) descends for 1-char words — the guard drops
            # the spurious i=0 slot (substring treats pos 0 as 1)
            lambda i: F.when(
                (i >= F.lit(1)) & (i < F.length(w)), F.substring(w, i, 2)
            ),
        )
    ).alias("pair")
    return (
        wdf.select(pair, "n")
        .filter(F.col("pair").isNotNull())
        .groupBy("pair")
        .agg(F.sum("n").cast("long").alias("cnt"))
    )


def _win(pairs: DataFrame) -> DataFrame:
    """Top-1 pair by weighted count (raw-symbol tie-break — sentinels
    are single chars < 0x80, so byte order matches DuckDB exactly)."""
    return pairs.orderBy(F.col("cnt").desc(), "pair").limit(1)


def bpe_merge_table(
    docs: DataFrame | None,
    k: int = 4,
    text_col: str = "text",
    word_counts: DataFrame | None = None,
) -> DataFrame:
    """Train ``k`` BPE merges; return the merge table
    ``(rank, pair, cnt)`` with sentinel symbols expanded to the merged
    strings (rank-1 merges may appear inside later pairs).
    ``word_counts`` accepts a precomputed (w, n) dictionary — the r12
    incremental leg trains on history-gold ∪ batch-delta counts without
    re-scanning the corpus (word counts are additive over disjoint
    corpora, so the loop's input — and therefore every winner — is
    bit-identical to a full refit)."""
    if word_counts is not None:
        wc = word_counts
    else:
        wc = (
            docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
    # Each iteration's dictionary is consumed TWICE (winner selection +
    # next rewrite), and winner k's subtree embeds every earlier
    # iteration — fully lazy, the plan re-derives the chain once per
    # consumer (measured 61 corpus scans at k=4). Persisting the
    # vocab-sized dictionaries linearizes the loop to exactly one
    # corpus scan, same contract as operators/graph.py:pagerank.
    cached: list[DataFrame] = []
    try:
        wins: list[DataFrame] = []
        cur = wc.persist()
        cached.append(cur)
        for step in range(1, k + 1):
            # 1-row winner, eagerly checkpointed: consumed by the next
            # rewrite AND the final merge-table chain (lazy, each
            # consumer re-ran the step's pair aggregate — r7 fix, same
            # as bpe_encode_stats/wordpiece)
            win = (
                _win(_sym_pairs(cur, "w"))
                .select(
                    F.col("pair").alias(f"wp{step}"),
                    F.col("cnt").alias(f"cnt{step}"),
                )
                .localCheckpoint(eager=True)
            )
            wins.append(win)
            if step < k:
                sep = chr(step)
                cur = (
                    cur.join(F.broadcast(win))
                    .select(
                        F.replace(
                            F.col("w"), F.col(f"wp{step}"), F.lit(sep)
                        ).alias("w"),
                        "n",
                    )
                    .persist()
                )
                cached.append(cur)

        # 1-row frame holding every winner: chain of 1-row broadcast joins.
        allw = wins[0]
        for win in wins[1:]:
            allw = allw.join(F.broadcast(win))

        def expand(step: int) -> Column:
            """Replace sentinels (descending — later sentinels may expand
            to strings containing earlier ones) with their merged
            strings."""
            col: Column = F.col(f"wp{step}")
            for j in range(step - 1, 0, -1):
                col = F.replace(col, F.lit(chr(j)), expand(j))
            return col

        rows = [
            allw.select(
                F.lit(step).cast("int").alias("rank"),
                expand(step).alias("pair"),
                F.col(f"cnt{step}").alias("cnt"),
            )
            for step in range(1, k + 1)
        ]
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        # Materialize the k-row table before releasing the cached
        # dictionaries so callers get a lineage-truncated result and
        # bench loops don't accumulate cached blocks.
        return out.localCheckpoint(eager=True)
    finally:
        for c in cached:
            c.unpersist()


def bpe_encode_stats(
    docs: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ENCODE with the trained tokenizer: train ``k`` merges on the
    corpus (same loop as :func:`bpe_merge_table`), then apply them to
    every document's words in rank order — the serving half of BPE.

    Application is the same greedy leftmost ``replace`` chain used
    during training (winners stay in sentinel form, so rank-j pairs may
    consume rank-i<j sentinels — exactly how a real BPE encoder applies
    merges in priority order). Per doc this returns the unit counts
    before/after — base symbols vs encoded tokens — which is THE
    tokenizer-cost number a data pipeline budgets by.

    Scale: winners are 1-row frames, eagerly localCheckpoint'ed so the
    doc-side encode plan embeds k literal-sized broadcasts instead of
    re-deriving the training chain per consumer; the cached vocab-sized
    dictionaries are released before encoding starts. The encode itself
    is map-side only — one corpus scan, one groupBy(doc_id)."""
    wc = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    cached: list[DataFrame] = []
    wins: list[DataFrame] = []
    try:
        cur = wc.persist()
        cached.append(cur)
        for step in range(1, k + 1):
            win = (
                _win(_sym_pairs(cur, "w"))
                .select(F.col("pair").alias(f"wp{step}"))
                .localCheckpoint(eager=True)
            )
            wins.append(win)
            if step < k:
                cur = (
                    cur.join(F.broadcast(win))
                    .select(
                        F.replace(
                            F.col("w"), F.col(f"wp{step}"), F.lit(chr(step))
                        ).alias("w"),
                        "n",
                    )
                    .persist()
                )
                cached.append(cur)
    finally:
        for c in cached:
            c.unpersist()

    enc = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("w"),
    ).select("doc_id", F.length("w").alias("len0"), "w")
    for step, win in enumerate(wins, 1):
        enc = enc.join(F.broadcast(win)).select(
            "doc_id",
            "len0",
            F.replace(F.col("w"), F.col(f"wp{step}"), F.lit(chr(step))).alias("w"),
        )
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("len0").alias("units_before"),
        F.sum(F.length("w")).alias("units_after"),
        (F.sum("len0") - F.sum(F.length("w"))).alias("merges_applied"),
        (
            F.sum(F.length("w")).cast("double") / F.sum("len0").cast("double")
        ).alias("compression"),
    )


def bpe_winner_ctes(norm_expr: str, k: int) -> list[str]:
    """The shared training-loop CTE chain (word counts → per-rank pair
    aggregates → 1-row winners ``w1..wk`` in sentinel form → rewritten
    dictionaries). Used by both the merge-table and encode oracles."""
    ctes = [
        f"wc AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS n FROM ("
        f"SELECT unnest(string_split({norm_expr}, ' ')) AS w FROM documents"
        f") GROUP BY w)",
        "idx AS (SELECT CAST(unnest(range(1, 1000)) AS INT) AS i)",
    ]
    prev = "wc"
    for step in range(1, k + 1):
        ctes.append(
            f"p{step} AS (SELECT substr(w, i, 2) AS pair, "
            f"CAST(sum(n) AS BIGINT) AS cnt "
            f"FROM {prev} JOIN idx ON i <= len(w) - 1 GROUP BY 1)"
        )
        ctes.append(
            f"w{step} AS MATERIALIZED (SELECT pair, cnt FROM p{step} "
            f"ORDER BY cnt DESC, pair LIMIT 1)"
        )
        if step < k:
            ctes.append(
                f"m{step} AS MATERIALIZED (SELECT replace(w, (SELECT pair FROM w{step}), "
                f"chr({step})) AS w, n FROM {prev})"
            )
            prev = f"m{step}"
    return ctes


def bpe_encode_oracle_sql(norm_expr: str, k: int = 4) -> str:
    """DuckDB twin of :func:`bpe_encode_stats` for fixed ``k``."""
    ctes = bpe_winner_ctes(norm_expr, k)
    chain = "w"
    for step in range(1, k + 1):
        chain = f"replace({chain}, (SELECT pair FROM w{step}), chr({step}))"
    ctes.append(
        f"doc_toks AS (SELECT doc_id, "
        f"unnest(string_split({norm_expr}, ' ')) AS w FROM documents)"
    )
    ctes.append(
        f"enc AS (SELECT doc_id, len(w) AS len0, {chain} AS we FROM doc_toks)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT doc_id,
       count(*) AS n_words,
       sum(len0) AS units_before,
       sum(len(we)) AS units_after,
       sum(len0) - sum(len(we)) AS merges_applied,
       CAST(sum(len(we)) AS DOUBLE) / CAST(sum(len0) AS DOUBLE) AS compression
FROM enc GROUP BY doc_id
"""
    )


def bpe_merge_oracle_sql(norm_expr: str, k: int = 4) -> str:
    """DuckDB twin of :func:`bpe_merge_table`, unrolled for fixed ``k``.
    ``norm_expr`` is the SQL expression for the normalized text."""
    ctes = bpe_winner_ctes(norm_expr, k)

    def expand(step: int) -> str:
        expr = f"(SELECT pair FROM w{step})"
        for j in range(step - 1, 0, -1):
            expr = f"replace({expr}, chr({j}), {expand(j)})"
        return expr

    selects = [
        f"SELECT CAST({step} AS INT) AS rank, {expand(step)} AS pair, "
        f"(SELECT cnt FROM w{step}) AS cnt"
        for step in range(1, k + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


# ---------------------------------------------------------------------------
# WordPiece trainer (r7) — the THIRD tokenizer family: BPE merges the
# most FREQUENT pair, WordPiece (Schuster & Nakajima 2012; the BERT
# tokenizer's trainer) merges the pair maximizing the likelihood score
# count(ab) / (count(a)·count(b)) — a frequent pair of rare symbols
# beats a frequent pair of ubiquitous ones. Same dictionary-bounded
# loop, same sentinel rewriting; only the winner ranking differs.
# ---------------------------------------------------------------------------


def _sym_counts(wdf: DataFrame, wcol: str) -> DataFrame:
    """Per-symbol (single current char, sentinels included) corpus unit
    counts over the dictionary: (sym, c)."""
    w = F.col(wcol)
    sym = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.length(w)), lambda i: F.substring(w, i, 1)
        )
    ).alias("sym")
    return wdf.select(sym, "n").groupBy("sym").agg(
        F.sum("n").cast("long").alias("c")
    )


def _wp_win(wdf: DataFrame, wcol: str) -> DataFrame:
    """Top-1 pair by WordPiece likelihood score (cnt_ab/(c_a·c_b) as one
    correctly-rounded double — identical in DuckDB), pair tie-break."""
    pairs = _sym_pairs(wdf, wcol)
    syms = _sym_counts(wdf, wcol)
    sa = syms.select(F.col("sym").alias("__a"), F.col("c").alias("ca"))
    sb = syms.select(F.col("sym").alias("__b"), F.col("c").alias("cb"))
    scored = (
        pairs.join(F.broadcast(sa), F.substring("pair", 1, 1) == F.col("__a"))
        .join(F.broadcast(sb), F.substring("pair", 2, 1) == F.col("__b"))
        .select(
            "pair",
            "cnt",
            (
                F.col("cnt").cast("double")
                / (F.col("ca").cast("double") * F.col("cb").cast("double"))
            ).alias("score"),
        )
    )
    return scored.orderBy(F.col("score").desc(), "pair").limit(1)


def wordpiece_merge_table(
    docs: DataFrame, k: int = 4, text_col: str = "text"
) -> DataFrame:
    """Train ``k`` WordPiece merges → (rank, pair, cnt, score_units)
    with sentinels expanded (score quantized to integer 1e-12 units —
    one IEEE double ratio, floor'd, so the ranking AND the reported
    score replay bit-exactly in DuckDB).

    Scale shape is :func:`bpe_merge_table`'s: one corpus scan into the
    Heaps-bounded (word, n) dictionary, then per merge a pair aggregate
    + a symbol aggregate (both vocab-sized, the symbol table is
    alphabet-sized and broadcast), a 1-row winner, and a broadcast
    sentinel rewrite. Note the real-trainer simplification: training
    runs over whole words (no ## continuation markers — those are a
    vocab SERIALIZATION detail; the likelihood-ranked merge loop is the
    trainer's substance)."""
    wc = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    cached: list[DataFrame] = []
    try:
        wins: list[DataFrame] = []
        cur = wc.persist()
        cached.append(cur)
        for step in range(1, k + 1):
            # 1-row winner, eagerly checkpointed (the bpe_encode_stats
            # discipline): it feeds the next rewrite AND the final
            # merge-table chain — lazy, each consumer would re-run the
            # step's pair+symbol aggregates
            win = (
                _wp_win(cur, "w")
                .select(
                    F.col("pair").alias(f"wp{step}"),
                    F.col("cnt").alias(f"cnt{step}"),
                    F.floor(F.lit(1e12) * F.col("score"))
                    .cast("long")
                    .alias(f"su{step}"),
                )
                .localCheckpoint(eager=True)
            )
            wins.append(win)
            if step < k:
                cur = (
                    cur.join(F.broadcast(win))
                    .select(
                        F.replace(
                            F.col("w"), F.col(f"wp{step}"), F.lit(chr(step))
                        ).alias("w"),
                        "n",
                    )
                    .persist()
                )
                cached.append(cur)

        allw = wins[0]
        for win in wins[1:]:
            allw = allw.join(F.broadcast(win))

        def expand(step: int) -> Column:
            col: Column = F.col(f"wp{step}")
            for j in range(step - 1, 0, -1):
                col = F.replace(col, F.lit(chr(j)), expand(j))
            return col

        rows = [
            allw.select(
                F.lit(step).cast("int").alias("rank"),
                expand(step).alias("pair"),
                F.col(f"cnt{step}").alias("cnt"),
                F.col(f"su{step}").alias("score_units"),
            )
            for step in range(1, k + 1)
        ]
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        return out.localCheckpoint(eager=True)
    finally:
        for c in cached:
            c.unpersist()


def wordpiece_merge_oracle_sql(norm_expr: str, k: int = 4) -> str:
    """DuckDB twin of :func:`wordpiece_merge_table`, unrolled for fixed
    ``k`` — the bpe_winner_ctes chain with the likelihood-scored winner."""
    ctes = wordpiece_winner_ctes(norm_expr, k)

    def expand(step: int) -> str:
        expr = f"(SELECT pair FROM w{step})"
        for j in range(step - 1, 0, -1):
            expr = f"replace({expr}, chr({j}), {expand(j)})"
        return expr

    selects = [
        f"SELECT CAST({step} AS INT) AS rank, {expand(step)} AS pair, "
        f"(SELECT cnt FROM w{step}) AS cnt, "
        f"(SELECT CAST(floor(1e12 * score) AS BIGINT) FROM w{step}) AS score_units"
        for step in range(1, k + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def wordpiece_encode_stats(
    docs: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ENCODE with the trained WordPiece merges — the serve half
    (mirrors :func:`bpe_encode_stats`, with the likelihood-ranked
    winners): train k merges, then apply them to every document's words
    in rank order (greedy leftmost replace chain, winners in sentinel
    form so later merges can consume earlier ones). Per doc: unit
    counts before/after + compression — the tokenizer-cost number under
    THIS tokenizer, read beside bpe_encode_stats' to see where
    likelihood-ranked merges pay off."""
    wc = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    cached: list[DataFrame] = []
    wins: list[DataFrame] = []
    try:
        cur = wc.persist()
        cached.append(cur)
        for step in range(1, k + 1):
            win = (
                _wp_win(cur, "w")
                .select(F.col("pair").alias(f"wp{step}"))
                .localCheckpoint(eager=True)
            )
            wins.append(win)
            if step < k:
                cur = (
                    cur.join(F.broadcast(win))
                    .select(
                        F.replace(
                            F.col("w"), F.col(f"wp{step}"), F.lit(chr(step))
                        ).alias("w"),
                        "n",
                    )
                    .persist()
                )
                cached.append(cur)
    finally:
        for c in cached:
            c.unpersist()

    enc = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("w"),
    ).select("doc_id", F.length("w").alias("len0"), "w")
    for step, win in enumerate(wins, 1):
        enc = enc.join(F.broadcast(win)).select(
            "doc_id",
            "len0",
            F.replace(F.col("w"), F.col(f"wp{step}"), F.lit(chr(step))).alias("w"),
        )
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("len0").alias("units_before"),
        F.sum(F.length("w")).alias("units_after"),
        (F.sum("len0") - F.sum(F.length("w"))).alias("merges_applied"),
        (
            F.sum(F.length("w")).cast("double") / F.sum("len0").cast("double")
        ).alias("compression"),
    )


def wordpiece_winner_ctes(norm_expr: str, k: int) -> list[str]:
    """The WordPiece training-loop CTE chain (likelihood-ranked winners
    ``w1..wk`` in sentinel form) — the wordpiece_merge_oracle_sql chain
    factored out so the encode oracle can reuse it."""
    ctes = [
        f"wc AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS n FROM ("
        f"SELECT unnest(string_split({norm_expr}, ' ')) AS w FROM documents"
        f") GROUP BY w)",
        "idx AS (SELECT CAST(unnest(range(1, 1000)) AS INT) AS i)",
    ]
    prev = "wc"
    for step in range(1, k + 1):
        ctes.append(
            f"p{step} AS (SELECT substr(w, i, 2) AS pair, "
            f"CAST(sum(n) AS BIGINT) AS cnt "
            f"FROM {prev} JOIN idx ON i <= len(w) - 1 GROUP BY 1)"
        )
        ctes.append(
            f"s{step} AS MATERIALIZED (SELECT substr(w, i, 1) AS sym, "
            f"CAST(sum(n) AS BIGINT) AS c "
            f"FROM {prev} JOIN idx ON i <= len(w) GROUP BY 1)"
        )
        ctes.append(
            f"sc{step} AS (SELECT p.pair, p.cnt, "
            f"CAST(p.cnt AS DOUBLE) / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))"
            f" AS score "
            f"FROM p{step} p "
            f"JOIN s{step} a ON substr(p.pair, 1, 1) = a.sym "
            f"JOIN s{step} b ON substr(p.pair, 2, 1) = b.sym)"
        )
        ctes.append(
            f"w{step} AS MATERIALIZED (SELECT pair, cnt, score FROM sc{step} "
            f"ORDER BY score DESC, pair LIMIT 1)"
        )
        if step < k:
            ctes.append(
                f"m{step} AS MATERIALIZED (SELECT replace(w, (SELECT pair FROM w{step}), "
                f"chr({step})) AS w, n FROM {prev})"
            )
            prev = f"m{step}"
    return ctes


def wordpiece_encode_oracle_sql(norm_expr: str, k: int = 4) -> str:
    """DuckDB twin of :func:`wordpiece_encode_stats` for fixed ``k``."""
    ctes = wordpiece_winner_ctes(norm_expr, k)
    chain = "w"
    for step in range(1, k + 1):
        chain = f"replace({chain}, (SELECT pair FROM w{step}), chr({step}))"
    ctes.append(
        f"doc_toks AS (SELECT doc_id, "
        f"unnest(string_split({norm_expr}, ' ')) AS w FROM documents)"
    )
    ctes.append(
        f"enc AS (SELECT doc_id, len(w) AS len0, {chain} AS we FROM doc_toks)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT doc_id,
       count(*) AS n_words,
       sum(len0) AS units_before,
       sum(len(we)) AS units_after,
       sum(len0) - sum(len(we)) AS merges_applied,
       CAST(sum(len(we)) AS DOUBLE) / CAST(sum(len0) AS DOUBLE) AS compression
FROM enc GROUP BY doc_id
"""
    )
