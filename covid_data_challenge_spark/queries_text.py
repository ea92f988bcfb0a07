"""Text analysis: tokenization stats, language ID, quality
and repetition scoring, entropy, TF-IDF/PMI/BM25, PII, feature hashing.

Registered via registry.register; queries_ext imports every themed
module and restores the frozen driver-contract registry order
(registry_order.CANONICAL_ORDER) afterwards — in-module order is
thematic, not contractual.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from covid_data_challenge_spark.functions.text import PII_EMAIL_RE, PII_PHONE_RE, bpe_pretoken_count, fingerprint, lang_hits, let, normalize_text, pii_match_count, quality_score, redact_pii, token_count, tokens
from covid_data_challenge_spark.operators.dedup import word_shingle_expr
from covid_data_challenge_spark.registry import register
from covid_data_challenge_spark.queries_shared import (  # noqa: F401
    _LANG_SQL_HITS,
    _NORM,
    _QUALITY_SQL,
    _docs,
    _docs_raw,
)


@register(
    "doc_fingerprint",
    oracle=f"SELECT doc_id, md5({_NORM}) AS fp FROM documents",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", fingerprint(F.col("text")).alias("fp"))


@register(
    "token_stats",
    oracle=f"""
SELECT doc_id,
       CAST(len(string_split({_NORM}, ' ')) AS INT) AS n_tokens,
       CAST(len({_NORM}) AS INT) AS n_chars_norm
FROM documents
""",
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length(normalize_text(F.col("text"))).alias("n_chars_norm"),
    )


@register(
    "token_stats_bpe",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]')) AS INT)
           AS n_bpe_tokens,
       CAST(len(string_split({_NORM}, ' ')) AS INT) AS n_ws_tokens
FROM documents
""",
)
def q_token_stats_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-token counts (the LLM-cost proxy) next to whitespace
    counts; the same ASCII-safe pattern runs under Java regex and RE2."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        bpe_pretoken_count(F.col("text")).alias("n_bpe_tokens"),
        token_count(F.col("text")).alias("n_ws_tokens"),
    )


@register(
    "lang_id",
    oracle=f"""
WITH h AS (
    SELECT doc_id, lang,
           len(regexp_extract_all(lower(text), '{_LANG_SQL_HITS["en"]}')) AS h_en,
           len(regexp_extract_all(lower(text), '{_LANG_SQL_HITS["de"]}')) AS h_de,
           len(regexp_extract_all(lower(text), '{_LANG_SQL_HITS["fr"]}')) AS h_fr,
           len(regexp_extract_all(lower(text), '{_LANG_SQL_HITS["es"]}')) AS h_es
    FROM documents
)
SELECT doc_id, lang,
       CAST(h_en AS INT) AS hits_en, CAST(h_de AS INT) AS hits_de,
       CAST(h_fr AS INT) AS hits_fr, CAST(h_es AS INT) AS hits_es,
       CASE WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
            WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
            WHEN h_fr >= h_es THEN 'fr'
            ELSE 'es' END AS predicted_lang
FROM h
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language heuristic; argmax with fixed tie order."""
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    h = {lang: lang_hits(t, lang) for lang in ("en", "de", "fr", "es")}
    predicted = (
        F.when((h["en"] >= h["de"]) & (h["en"] >= h["fr"]) & (h["en"] >= h["es"]), "en")
        .when((h["de"] >= h["fr"]) & (h["de"] >= h["es"]), "de")
        .when(h["fr"] >= h["es"], "fr")
        .otherwise("es")
    )
    return docs.select(
        "doc_id",
        "lang",
        h["en"].alias("hits_en"),
        h["de"].alias("hits_de"),
        h["fr"].alias("hits_fr"),
        h["es"].alias("hits_es"),
        predicted.alias("predicted_lang"),
    )


@register(
    "quality_score",
    oracle=f"SELECT doc_id, n_tokens, quality FROM ({_QUALITY_SQL})",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
    )


@register(
    "quality_percentile_filter",
    oracle=f"""
SELECT doc_id, lang, quality, round(pct, 6) AS quality_pct
FROM (
  SELECT doc_id, lang, quality,
         percent_rank() OVER (PARTITION BY lang ORDER BY quality) AS pct
  FROM ({_QUALITY_SQL})
)
WHERE pct >= 0.5
""",
)
def q_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation filter: keep docs at or above the median quality within
    their language. ``percent_rank`` is rank-based, so ties resolve
    identically in any engine — the filter is deterministic without a
    tie-break column. One shuffle (window partition on lang); at 100 TB
    swap the window for a two-pass approx-quantile threshold join
    (compute per-lang cutoffs once, broadcast, filter map-side)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang", quality_score(F.col("text")).alias("quality")
    )
    pct = F.percent_rank().over(Window.partitionBy("lang").orderBy("quality"))
    return (
        docs.withColumn("pct", pct)
        .filter(F.col("pct") >= 0.5)  # filter pre-round, exactly like the oracle
        .select("doc_id", "lang", "quality", F.round("pct", 6).alias("quality_pct"))
    )


@register(
    "repetition_score",
    oracle=f"""
WITH docs AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
tot AS (SELECT doc_id, greatest(len(w) - 4, 0) AS n_total FROM docs),
sh AS (
    SELECT DISTINCT doc_id,
           w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS s
    FROM docs JOIN (SELECT CAST(unnest(range(1, 100000)) AS INT) AS i) idx
        ON i <= len(w) - 4
),
d AS (SELECT doc_id, count(*) AS n_distinct FROM sh GROUP BY doc_id)
SELECT t.doc_id,
       CAST(t.n_total AS INT) AS n_grams,
       round(CASE WHEN t.n_total > 0
                  THEN 1.0 - coalesce(d.n_distinct, 0) / t.n_total
                  ELSE 0.0 END, 4) AS repetition
FROM tot t LEFT JOIN d USING (doc_id)
""",
)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated 5-gram share per document (boilerplate/spam signal)."""
    from covid_data_challenge_spark.functions.text import repetition_ratio

    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.greatest(token_count(F.col("text")) - F.lit(4), F.lit(0)).alias("n_grams"),
        repetition_ratio(F.col("text"), n=5).alias("repetition"),
    )


@register(
    "vocab_topk",
    oracle=f"""
SELECT token,
       CAST(count(*) AS BIGINT) AS freq,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token FROM documents)
GROUP BY token
ORDER BY freq DESC, token
LIMIT 50
""",
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term-frequency top-k — the tokenizer-vocabulary building
    step of a training pipeline. explode → two-level agg; stopword skew
    is absorbed by map-side partial aggregation, and the ordered take is
    a TakeOrderedAndProject (no full sort shuffle). Tie-break on token
    makes the top-k set deterministic for the oracle compare."""
    from covid_data_challenge_spark.functions.text import tokens as _tokens

    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(
            F.count("*").alias("freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("freq").desc(), "token")
        .limit(50)
    )


@register(
    "pii_redaction",
    oracle=f"""
WITH pii AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}'))
          + len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS INT) AS n_pii,
       regexp_replace(regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{PII_PHONE_RE}', '<PHONE>', 'g') AS redacted
FROM pii
""",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub emails/phones to typed placeholders with an audit count.
    Pure regexp_replace chain (JVM codegen, no UDF) over engine-portable
    RE2-safe patterns (functions/text.py:redact_pii)."""
    docs = _docs_raw(spark, sf_dir)  # plan-pinned exchange-free
    with_pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    return with_pii.select(
        "doc_id",
        pii_match_count(F.col("t")).alias("n_pii"),
        redact_pii(F.col("t")).alias("redacted"),
    )


@register(
    "quality_ntile",
    oracle=f"""
SELECT doc_id, lang, quality,
       CAST(ntile(10) OVER (PARTITION BY lang ORDER BY quality, doc_id) AS INT) AS decile
FROM ({_QUALITY_SQL})
""",
)
def q_quality_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality deciles for stratified curation. doc_id
    tie-break makes ntile's row assignment a total order, so any engine
    agrees bucket-for-bucket. One window shuffle on lang."""
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    return docs.select(
        "doc_id",
        "lang",
        quality_score(F.col("text")).alias("quality"),
    ).withColumn("decile", F.ntile(10).over(w))


@register(
    "tfidf_top_terms",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
  FROM scored
)
WHERE rn <= 3
""",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by tf·idf. The document
    frequency table is vocabulary-sized — smaller than the corpus but
    unbounded (it grows with the corpus per Heaps' law), so it carries
    NO broadcast hint: AQE broadcasts it while it fits the threshold and
    falls back to a term-keyed shuffle join when it doesn't. Only the
    1-row corpus count is hint-broadcast. One window per doc for the
    top-k."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_tbl, "term")
        .join(F.broadcast(n))
        .withColumn(
            "tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6)
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf")
    )


@register(
    "inverted_index",
    oracle=f"""
WITH td AS (
  SELECT DISTINCT term, doc_id
  FROM (
    SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term
    FROM documents
  )
  WHERE term <> ''
)
SELECT term,
       count(*) AS df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
FROM td
GROUP BY term
""",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build an inverted index (term → sorted posting list) for corpus
    search: explode tokens map-side, dedupe (term, doc_id), aggregate
    per term. One shuffle on the term key; posting lists are built with
    ``collect_set`` + ``sort_array`` so the result is order-independent
    and engine-portable. At 100 TB, postings for stop-word-grade terms
    are the skew risk — the scale path shards hot terms by doc-id range
    (salted term key) and stores postings as arrays in partitioned
    parquet rather than a single row per term."""
    docs = _docs(spark, sf_dir)
    td = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    postings = F.array_join(
        F.transform(
            F.sort_array(F.collect_set("doc_id")), lambda x: x.cast("string")
        ),
        ",",
    )
    return td.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), postings.alias("postings")
    )


@register(
    "term_cooccurrence_pmi",
    oracle=f"""
WITH td AS (
  SELECT DISTINCT doc_id, term
  FROM (
    SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term
    FROM documents
  )
  WHERE term <> ''
),
df AS (SELECT term, count(*) AS c FROM td GROUP BY term),
n AS (SELECT count(*) AS nd FROM documents),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_docs_both
  FROM td a JOIN td b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2
)
SELECT p.term_a, p.term_b, p.n_docs_both,
       round(ln(CAST(p.n_docs_both AS DOUBLE) * n.nd / (da.c * db.c)), 4) AS pmi
FROM pairs p
JOIN df da ON da.term = p.term_a
JOIN df db ON db.term = p.term_b
CROSS JOIN n
WHERE p.n_docs_both >= 2
""",
)
def q_term_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over within-document term pairs —
    the collocation / topic-affinity signal. The (doc, term) set is
    deduped first; pairs come from a doc-keyed self-join (per-doc
    quadratic, bounded by per-doc distinct terms). The document-
    frequency sides are vocabulary-sized — unbounded — so they carry no
    broadcast hint (AQE decides; the joins key on term either way). At
    100 TB the standard guards apply: cap per-doc distinct terms and
    drop stop-word-grade terms (df cap) BEFORE the pair join — both are
    map-side filters here."""
    docs = _docs(spark, sf_dir)
    td = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    df_tbl = td.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    n = docs.agg(F.count(F.lit(1)).alias("nd"))
    a, b = td.alias("a"), td.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .agg(F.count(F.lit(1)).alias("n_docs_both"))
        .filter(F.col("n_docs_both") >= 2)
    )
    da = df_tbl.select(F.col("term").alias("term_a"), F.col("c").alias("c_a"))
    db = df_tbl.select(F.col("term").alias("term_b"), F.col("c").alias("c_b"))
    pmi = F.log(
        F.col("n_docs_both").cast("double") * F.col("nd") / (F.col("c_a") * F.col("c_b"))
    )
    return (
        pairs.join(da, "term_a")
        .join(db, "term_b")
        .join(F.broadcast(n))
        .select("term_a", "term_b", "n_docs_both", F.round(pmi, 4).alias("pmi"))
    )


@register(
    "bigram_topk",
    oracle=f"""
WITH toks AS (SELECT string_split({_NORM}, ' ') AS t FROM documents),
big AS (
  SELECT t[i] || ' ' || t[i + 1] AS bigram
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
)
SELECT bigram, count(*) AS n
FROM big GROUP BY bigram
ORDER BY n DESC, bigram LIMIT 50
""",
)
def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts (the n-gram language-model statistic, n=2):
    adjacent token pairs come from zipping the token array with its own
    tail — a pure map-side array op, no self-join, no shuffle until the
    bigram aggregation. Top-k is fully tie-broken (count desc, bigram)
    so the result set is deterministic. At 100 TB the long tail is the
    cost: count-min / frequency caps or a min-support HAVING filter
    bound the aggregation state before the final TakeOrdered."""
    docs = _docs(spark, sf_dir)
    t = tokens(F.col("text"))
    n = F.size(t)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(t, 1, n - 1),
            F.slice(t, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(50)
    )


@register(
    "char_entropy",
    oracle=f"""
WITH cs AS (SELECT doc_id, string_split({_NORM}, '') AS cs FROM documents)
SELECT doc_id,
       round(-list_reduce(
           list_transform(
             list_transform(list_sort(list_distinct(cs)),
               d -> CAST(len(list_filter(cs, c -> c = d)) AS DOUBLE) / len(cs)),
             p -> p * ln(p)),
           (a, b) -> a + b) + 0.0, 6) AS char_entropy
FROM cs
""",
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character entropy (functions/text.py char_entropy):
    the perplexity-proxy quality signal as pure row-local Column
    algebra — no shuffle, no UDF, whole-stage codegen. The -Σ p·ln p
    fold runs over sorted distinct chars, so float summation order is
    engine-identical and the oracle hash-matches at 6 digits."""
    docs = _docs(spark, sf_dir)
    from covid_data_challenge_spark.functions.text import char_entropy

    return docs.select("doc_id", char_entropy(F.col("text")).alias("char_entropy"))


@register(
    "oov_rate",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term FROM documents),
vocab AS (
  SELECT term FROM (
    SELECT term, count(*) AS c FROM tok GROUP BY 1 ORDER BY c DESC, term LIMIT 20
  )
),
per AS (
  SELECT t.doc_id,
         CAST(count(*) AS INT) AS n_tokens,
         CAST(count(*) FILTER (t.term NOT IN (SELECT term FROM vocab)) AS INT) AS n_oov
  FROM tok t GROUP BY 1
)
SELECT doc_id, n_tokens, n_oov,
       round(n_oov * 1.0 / n_tokens, 6) AS oov_rate
FROM per
""",
)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus top-20
    vocabulary — the tokenizer-coverage check a training pipeline runs
    before committing to a vocab. The vocab is a top-k aggregate
    (deterministic count-then-term order) broadcast into a LEFT ANTI
    membership probe on the exploded tokens; per-doc totals and OOV
    counts fold in one aggregation over the same explode, so the doc
    corpus shuffles once on doc_id whatever the vocab size."""
    docs = _docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "term")
        .limit(20)
        .select("term")
    )
    flagged = tok.join(
        F.broadcast(vocab.withColumn("__in_vocab", F.lit(1))), "term", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
            .cast("int")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") * 1.0 / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


@register(
    "charset_profile",
    oracle="""
WITH per AS (
    SELECT source,
           length(text) AS n,
           length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS n_alpha,
           length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
           length(text) - length(regexp_replace(text, '[ ]', '', 'g')) AS n_space,
           length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) AS n_nonascii
    FROM documents
)
SELECT source,
       CAST(sum(n) AS BIGINT) AS n_chars,
       round(sum(n_alpha) / sum(n), 4) AS alpha_ratio,
       round(sum(n_digit) / sum(n), 4) AS digit_ratio,
       round(sum(n_space) / sum(n), 4) AS space_ratio,
       round(sum(n_nonascii) / sum(n), 4) AS nonascii_ratio
FROM per GROUP BY source
""",
)
def q_charset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-class profile (alpha/digit/space/non-ASCII
    ratios) — the charset sanity check run before choosing encoders and
    filters for a crawl snapshot. Pure column algebra via
    length-after-strip deltas (no explode, no UDF): one map-side pass
    plus a tiny per-source aggregation."""
    docs = _docs(spark, sf_dir)
    n = F.length("text")
    strip = lambda pat: n - F.length(F.regexp_replace(F.col("text"), pat, ""))
    per = docs.select(
        "source",
        n.alias("n"),
        strip("[a-zA-Z]").alias("n_alpha"),
        strip("[0-9]").alias("n_digit"),
        strip("[ ]").alias("n_space"),
        F.length(F.regexp_replace(F.col("text"), "[\\x00-\\x7F]", "")).alias("n_nonascii"),
    )
    return per.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_chars"),
        F.round(F.sum("n_alpha") / F.sum("n"), 4).alias("alpha_ratio"),
        F.round(F.sum("n_digit") / F.sum("n"), 4).alias("digit_ratio"),
        F.round(F.sum("n_space") / F.sum("n"), 4).alias("space_ratio"),
        F.round(F.sum("n_nonascii") / F.sum("n"), 4).alias("nonascii_ratio"),
    )


@register(
    "lang_mismatch_report",
    oracle=f"""
WITH h AS (
    SELECT doc_id, lang, source,
           len(regexp_extract_all(lower(text), '{_LANG_SQL_HITS["en"]}')) AS h_en,
           len(regexp_extract_all(lower(text), '{_LANG_SQL_HITS["de"]}')) AS h_de,
           len(regexp_extract_all(lower(text), '{_LANG_SQL_HITS["fr"]}')) AS h_fr,
           len(regexp_extract_all(lower(text), '{_LANG_SQL_HITS["es"]}')) AS h_es
    FROM documents
),
pred AS (
    SELECT source, lang,
           CASE WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
                WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
                WHEN h_fr >= h_es THEN 'fr'
                ELSE 'es' END AS predicted_lang
    FROM h
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (predicted_lang <> lang) AS BIGINT) AS n_mismatch,
       round(count(*) FILTER (predicted_lang <> lang) / count(*), 4) AS mismatch_rate
FROM pred GROUP BY source
""",
)
def q_lang_mismatch_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-vs-content language QA: per source, how often the
    stopword-heuristic detector disagrees with the declared ``lang``
    column — the standard crawl-quality screen (mislabeled languages
    poison both filtering and mixture weights). Composes the lang_id
    detector map-side; one tiny per-source aggregation."""
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    h = {lang: lang_hits(t, lang) for lang in ("en", "de", "fr", "es")}
    predicted = (
        F.when((h["en"] >= h["de"]) & (h["en"] >= h["fr"]) & (h["en"] >= h["es"]), "en")
        .when((h["de"] >= h["fr"]) & (h["de"] >= h["es"]), "de")
        .when(h["fr"] >= h["es"], "fr")
        .otherwise("es")
    )
    mism = (predicted != F.col("lang")).cast("int")
    return (
        docs.select("source", mism.alias("__m"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__m").cast("long").alias("n_mismatch"),
            F.round(F.sum("__m") / F.count(F.lit(1)), 4).alias("mismatch_rate"),
        )
    )


@register(
    "token_gini_by_source",
    oracle=f"""
WITH per AS (
    SELECT source, doc_id,
           CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS x
    FROM documents
),
ranked AS (
    SELECT source, x,
           row_number() OVER (PARTITION BY source ORDER BY x, doc_id) AS i
    FROM per
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(x) AS BIGINT) AS n_tokens,
       round((2.0 * sum(i * x) - (count(*) + 1) * sum(x))
             / (count(*) * sum(x)), 6) AS gini
FROM ranked GROUP BY source
""",
)
def q_token_gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus balance metric: the Gini coefficient of per-document token
    counts within each source (0 = every doc the same length, →1 = a few
    giant docs hold all the tokens) — the length-concentration check run
    before choosing chunking/packing parameters for a source. The rank
    formula ``(2·Σ(i·xᵢ) − (n+1)·Σx) / (n·Σx)`` stays in exact integer
    arithmetic until the final division (bit-exact across engines); the
    per-source window parallelizes across sources and the totals are one
    map-side-combined aggregation."""
    docs = _docs(spark, sf_dir)
    per = docs.select(
        "source", "doc_id", token_count(F.col("text")).cast("long").alias("x")
    )
    w = Window.partitionBy("source").orderBy("x", "doc_id")
    ranked = per.withColumn("i", F.row_number().over(w))
    n, s = F.count(F.lit(1)), F.sum("x")
    return ranked.groupBy("source").agg(
        n.cast("long").alias("n_docs"),
        s.cast("long").alias("n_tokens"),
        F.round(
            (2.0 * F.sum(F.col("i") * F.col("x")) - (n + 1) * s) / (n * s), 6
        ).alias("gini"),
    )


_BM25_TERMS = ("spark", "vector", "stream")


_BM25_K1, _BM25_B = 1.2, 0.75


@register(
    "bm25_topk",
    oracle=f"""
WITH docs AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
dl AS (SELECT doc_id, len(w) AS dl FROM docs),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM (SELECT doc_id, unnest(w) AS term FROM docs)
    WHERE term IN ('spark', 'vector', 'stream')
    GROUP BY 1, 2
),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
    SELECT tf.doc_id,
           sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * ({_BM25_K1} + 1)
               / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
           ) AS s
    FROM tf
    JOIN dfq USING (term)
    JOIN dl USING (doc_id)
    CROSS JOIN stats
    GROUP BY 1
)
SELECT doc_id, round(s, 6) AS bm25
FROM scored ORDER BY round(s, 6) DESC, doc_id LIMIT 10
""",
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by BM25 (Okapi, k1=1.2 b=0.75) for a fixed
    3-term query — the retrieval scorer a RAG/data-curation stack runs
    over the inverted index. Plan: tokenize once (doc length rides the
    explode map-side, so the corpus-sized dl table is never joined),
    filter to the query terms BEFORE the tf aggregation (the shuffle
    carries only matching postings — at 100 TB that is |postings(q)|,
    not the corpus), then broadcast the |q|-row df table and the 1-row
    corpus stats; TakeOrderedAndProject caps the result at k. The idf
    uses the +1 'BM25+'-style floor so scores stay positive even when
    df > N/2."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", tokens(F.col("text")).alias("w")
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size("w")).alias("avgdl"),
    )
    posts = docs.select(
        "doc_id", F.size("w").alias("dl"), F.explode("w").alias("term")
    ).filter(F.col("term").isin(*_BM25_TERMS))
    tf = posts.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    k1, b = _BM25_K1, _BM25_B
    idf = F.log(
        F.lit(1)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    w_td = (
        F.col("tf")
        * F.lit(k1 + 1)
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(dfq), "term")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * w_td), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


@register(
    "ngram_novelty_by_source",
    oracle=f"""
WITH docs AS (SELECT source, string_split({_NORM}, ' ') AS w FROM documents),
sh AS (
    SELECT DISTINCT source,
           w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS s
    FROM docs JOIN (SELECT CAST(unnest(range(1, 100000)) AS INT) AS i) idx
        ON i <= len(w) - 2
),
tagged AS (SELECT source, count(*) OVER (PARTITION BY s) AS n_src FROM sh)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exclusive,
       round(sum(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) / count(*), 6)
           AS novelty_ratio
FROM tagged GROUP BY source
""",
)
def q_ngram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus NOVELTY: the share of a source's distinct word
    3-grams that appear in no other source — the standard signal for
    'is this new crawl/source adding anything' before paying to ingest
    it at full weight. Plan: ONE corpus scan — (source, gram) distinct,
    a count window over the gram key (partition sizes are bounded by
    |sources| after the distinct, so the window cannot skew the way a
    raw-occurrence gram window would), then one map-side-combinable
    per-source aggregation. No joins at all."""
    docs = _docs(spark, sf_dir)
    sh = docs.select(
        "source",
        F.explode(word_shingle_expr(F.col("text"), 3)).alias("s"),
    ).distinct()
    n_src = F.count(F.lit(1)).over(Window.partitionBy("s"))
    excl = F.sum(F.when(F.col("n_src") == 1, 1).otherwise(0))
    return (
        sh.withColumn("n_src", n_src)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            excl.alias("n_exclusive"),
        )
        .select(
            "source",
            "n_shingles",
            "n_exclusive",
            F.round(F.col("n_exclusive") / F.col("n_shingles"), 6).alias(
                "novelty_ratio"
            ),
        )
    )


_FH_DIMS = 16


_FH_SALT = "fh-v1"


@register(
    "doc_feature_hashing",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term FROM documents
),
bucketed AS (
    SELECT doc_id,
           CAST(
             (CAST(('0x' || substr(md5(term || '{_FH_SALT}'), 1, 8)) AS BIGINT)
              % {_FH_DIMS} + {_FH_DIMS}) % {_FH_DIMS} AS INT) AS bucket,
           count(*) AS cnt
    FROM toks GROUP BY 1, 2
),
dense AS (
    SELECT b.doc_id, d.bucket, coalesce(cnt, 0) AS cnt
    FROM (SELECT DISTINCT doc_id FROM bucketed) b
    CROSS JOIN (SELECT CAST(unnest(range(0, {_FH_DIMS})) AS INT) AS bucket) d
    LEFT JOIN bucketed USING (doc_id, bucket)
)
SELECT doc_id,
       string_agg(CAST(cnt AS VARCHAR), ',' ORDER BY bucket) AS features
FROM dense GROUP BY doc_id
""",
)
def q_doc_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): tokens hash into a
    FIXED number of buckets, giving every document a dense count vector
    with no vocabulary table, no fitting, no second pass — the
    featurization that bridges the text tier into the vector tier (the
    output array feeds the cosine/LSH/IVF operators directly). Plan:
    one scan, one (doc, bucket) aggregation, then the dense vector is
    rebuilt row-locally (sequence + map lookup — no per-dimension
    explode join). md5-derived buckets make the vectors bit-identical
    across engines, so the whole featurization is hash-checked."""
    docs = _docs(spark, sf_dir)
    bucket = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("term"), F.lit(_FH_SALT))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % _FH_DIMS
            + _FH_DIMS
        )
        % _FH_DIMS
    ).cast("int")
    counts = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.map_from_arrays(
            F.collect_list("bucket"), F.collect_list("cnt")
        ).alias("m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(_FH_DIMS - 1)),
        lambda b: F.coalesce(
            F.element_at(F.col("m"), b.cast("int")), F.lit(0)
        ).cast("long"),
    )
    # serialized as a comma-joined string (registry convention for
    # array outputs — the compare harness hashes scalars); the array
    # form for the ANN operators is the same `dense` expression unjoined
    return per_doc.select(
        "doc_id",
        F.array_join(
            F.transform(dense, lambda x: x.cast("string")), ","
        ).alias("features"),
    )


# ---------------------------------------------------------------------------
# Round 4: Gopher-rule quality battery (Rae et al. 2021, arXiv:2112.11446
# Table A1; the same heuristics FineWeb/RefinedWeb apply before any
# model-based filtering)
# ---------------------------------------------------------------------------

_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_STOPS_SQL = ", ".join(f"'{s}'" for s in _GOPHER_STOPS)


@register(
    "gopher_quality_flags",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
),
sig AS (
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           CAST(len(list_filter(w, t -> regexp_matches(t, '[a-z]')))
             AS BIGINT) AS n_alpha_words,
           CAST(len(list_filter(w, t -> t IN ({_GOPHER_STOPS_SQL})))
             AS BIGINT) AS n_stop_hits,
           CAST(len(list_intersect(w, [{_GOPHER_STOPS_SQL}]))
             AS BIGINT) AS n_stop_distinct,
           CAST(len(list_filter(w, t -> regexp_matches(t, '^[#*>|=~_-]+$')))
             AS BIGINT) AS n_symbol_words,
           CAST(list_aggregate(list_transform(w, t -> len(t)), 'sum')
             AS BIGINT) AS n_chars_in_words
    FROM toks
)
SELECT doc_id, n_words,
       CAST(n_chars_in_words AS DOUBLE) / CAST(n_words AS DOUBLE)
         AS mean_word_len,
       CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE)
         AS alpha_frac,
       CAST(n_symbol_words AS DOUBLE) / CAST(n_words AS DOUBLE)
         AS symbol_frac,
       n_stop_distinct,
       (n_words >= 5 AND n_words <= 100000) AS ok_length,
       (CAST(n_chars_in_words AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
        AND CAST(n_chars_in_words AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0)
         AS ok_word_len,
       (CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.8)
         AS ok_alpha,
       (CAST(n_symbol_words AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.1)
         AS ok_symbols,
       (n_stop_distinct >= 2) AS ok_stopwords,
       ((n_words >= 5 AND n_words <= 100000)
        AND CAST(n_chars_in_words AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
        AND CAST(n_chars_in_words AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0
        AND CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.8
        AND CAST(n_symbol_words AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.1
        AND n_stop_distinct >= 2) AS keep
FROM sig WHERE n_words > 0
""",
)
def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule battery (Rae et al. 2021, Table A1), the
    heuristic pre-filter every modern curation pipeline (MassiveText,
    RefinedWeb, FineWeb) runs before any model-based scoring: word
    count bounds, mean-word-length window [3, 10], alphabetic-word
    fraction ≥ 0.8, symbol-word fraction ≤ 0.1, and the ≥2-distinct-
    stopword requirement — per-document signals, individual rule
    verdicts, and the conjunctive keep bit.

    Every signal is a higher-order-function fold over ONE tokenization
    (no explode, no shuffle at all — the whole battery is map-side on
    the scan, the ideal 100 TB shape: a filter this cheap runs inline
    with ingestion). Ratios are single IEEE divisions of exact integer
    counts, so the table hash-matches DuckDB without quantization.
    Word-count lower bound is 5 here (the paper's 50 would empty the
    synthetic corpus); the constant is the policy knob, not the
    operator."""
    docs = _docs_raw(spark, sf_dir)  # plan-pinned exchange-free
    w = tokens(F.col("text"))

    def _sig(toks):
        n_words = F.size(toks).cast("long")
        n_alpha = F.size(
            F.filter(toks, lambda t: t.rlike("[a-z]"))
        ).cast("long")
        n_stop_distinct = F.array_size(
            F.array_intersect(toks, F.array(*[F.lit(s) for s in _GOPHER_STOPS]))
        ).cast("long")
        n_symbol = F.size(
            F.filter(toks, lambda t: t.rlike("^[#*>|=~_-]+$"))
        ).cast("long")
        n_chars = F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return n_words, n_alpha, n_stop_distinct, n_symbol, n_chars

    n_words, n_alpha, n_stop_distinct, n_symbol, n_chars = _sig(w)
    base = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_alpha.alias("n_alpha_words"),
        n_stop_distinct.alias("n_stop_distinct"),
        n_symbol.alias("n_symbol_words"),
        n_chars.alias("n_chars_in_words"),
    ).filter(F.col("n_words") > 0)
    mean_wl = F.col("n_chars_in_words").cast("double") / F.col("n_words").cast(
        "double"
    )
    alpha_frac = F.col("n_alpha_words").cast("double") / F.col("n_words").cast(
        "double"
    )
    symbol_frac = F.col("n_symbol_words").cast("double") / F.col("n_words").cast(
        "double"
    )
    ok_length = (F.col("n_words") >= 5) & (F.col("n_words") <= 100000)
    ok_word_len = (mean_wl >= 3.0) & (mean_wl <= 10.0)
    ok_alpha = alpha_frac >= 0.8
    ok_symbols = symbol_frac <= 0.1
    ok_stops = F.col("n_stop_distinct") >= 2
    return base.select(
        "doc_id",
        "n_words",
        mean_wl.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        symbol_frac.alias("symbol_frac"),
        "n_stop_distinct",
        ok_length.alias("ok_length"),
        ok_word_len.alias("ok_word_len"),
        ok_alpha.alias("ok_alpha"),
        ok_symbols.alias("ok_symbols"),
        ok_stops.alias("ok_stopwords"),
        (ok_length & ok_word_len & ok_alpha & ok_symbols & ok_stops).alias(
            "keep"
        ),
    )


# ---------------------------------------------------------------------------
# Round 4: per-source dataset card — the one-page corpus summary
# ---------------------------------------------------------------------------


@register(
    "source_dataset_card",
    oracle=f"""
WITH t AS (
    SELECT doc_id, source, lang, text, md5({_NORM}) AS f,
           len(string_split({_NORM}, ' ')) AS n_tok,
           len(regexp_extract_all(lower(text), '{_LANG_SQL_HITS["en"]}')) AS h_en,
           (len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g')))
               / greatest(len(text), 1) AS punct
    FROM documents
),
q AS (
    SELECT doc_id, source, lang, f, n_tok,
           CAST(round(10000.0 * round((least(n_tok / 100.0, 1.0)
               + least(h_en / greatest(n_tok, 1) * 5.0, 1.0)
               + (1.0 - least(punct * 10.0, 1.0))) / 3.0, 4)) AS BIGINT)
             AS q_units
    FROM t
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(sum(n_tok) AS BIGINT) / CAST(count(*) AS DOUBLE) AS mean_tokens,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(count(DISTINCT f) AS BIGINT) AS n_unique_texts,
       CAST(count(*) - count(DISTINCT f) AS BIGINT) AS n_exact_dups,
       (CAST(count(*) AS DOUBLE) - CAST(count(DISTINCT f) AS DOUBLE))
         / CAST(count(*) AS DOUBLE) AS exact_dup_rate,
       CAST(sum(q_units) AS BIGINT)
         / (CAST(count(*) AS DOUBLE) * 10000.0) AS mean_quality
FROM q GROUP BY source
""",
)
def q_source_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-page dataset card, per source: volume (docs, tokens,
    mean length), language spread, exact-duplicate load, and mean
    heuristic quality — the summary table a data curator reads before
    deciding mixture weights, and the per-shard stats a dataset release
    publishes. One grouped aggregation over one scan; the quality mean
    is hash-exact because each doc's (already 4-dp-rounded) score is
    quantized to integer 1e-4 units before the order-free sum — the
    same discipline as every mean in the log-space tier."""
    docs = _docs(spark, sf_dir)
    from covid_data_challenge_spark.functions.text import (
        fingerprint,
        quality_score,
        token_count,
    )

    base = docs.select(
        "source",
        "lang",
        fingerprint(F.col("text")).alias("f"),
        token_count(F.col("text")).cast("long").alias("n_tok"),
        F.round(F.lit(10000.0) * quality_score(F.col("text")))
        .cast("long")
        .alias("q_units"),
    )
    return base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        (F.sum("n_tok").cast("long") / F.count(F.lit(1)).cast("double")).alias(
            "mean_tokens"
        ),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("f").cast("long").alias("n_unique_texts"),
        (F.count(F.lit(1)) - F.countDistinct("f")).cast("long").alias(
            "n_exact_dups"
        ),
        (
            (
                F.count(F.lit(1)).cast("double")
                - F.countDistinct("f").cast("double")
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("exact_dup_rate"),
        (
            F.sum("q_units").cast("long")
            / (F.count(F.lit(1)).cast("double") * F.lit(10000.0))
        ).alias("mean_quality"),
    )


#: Gopher repetition thresholds (Rae et al. 2021, Table A1): max
#: character fraction in the single most frequent n-gram (n=2..4) and in
#: duplicated n-grams (n=5..10).
_GRF_TOP = {2: 0.20, 3: 0.18, 4: 0.16}
_GRF_DUP = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def _grf_gram_sql(n: int) -> str:
    join = " || ' ' || ".join(f"w[i + {j}]" for j in range(n))
    return (
        f"SELECT doc_id, {n} AS n, {join} AS gram\n"
        f"    FROM docs JOIN idx ON i <= len(w) - {n - 1}"
    )


def _grf_oracle() -> str:
    grams = "\n    UNION ALL\n    ".join(
        _grf_gram_sql(n) for n in sorted({**_GRF_TOP, **_GRF_DUP})
    )
    top_cols = ",\n       ".join(
        f"coalesce(max(CASE WHEN n = {n} THEN top_chars END), 0)"
        f" / CAST(n_chars AS DOUBLE) AS top_frac_{n}"
        for n in _GRF_TOP
    )
    dup_cols = ",\n       ".join(
        f"coalesce(max(CASE WHEN n = {n} THEN dup_chars END), 0)"
        f" / CAST(coalesce(max(CASE WHEN n = {n} THEN all_chars END), 1)"
        f" AS DOUBLE) AS dup_frac_{n}"
        for n in _GRF_DUP
    )
    ok_top = [
        f"(coalesce(max(CASE WHEN n = {n} THEN top_chars END), 0)"
        f" / CAST(n_chars AS DOUBLE) <= {t}) AS ok_top_{n}"
        for n, t in _GRF_TOP.items()
    ]
    ok_dup = [
        f"(coalesce(max(CASE WHEN n = {n} THEN dup_chars END), 0)"
        f" / CAST(coalesce(max(CASE WHEN n = {n} THEN all_chars END), 1)"
        f" AS DOUBLE) <= {t}) AS ok_dup_{n}"
        for n, t in _GRF_DUP.items()
    ]
    keep = " AND ".join(
        [
            f"coalesce(max(CASE WHEN n = {n} THEN top_chars END), 0)"
            f" / CAST(n_chars AS DOUBLE) <= {t}"
            for n, t in _GRF_TOP.items()
        ]
        + [
            f"coalesce(max(CASE WHEN n = {n} THEN dup_chars END), 0)"
            f" / CAST(coalesce(max(CASE WHEN n = {n} THEN all_chars END), 1)"
            f" AS DOUBLE) <= {t}"
            for n, t in _GRF_DUP.items()
        ]
    )
    ok_cols = ",\n       ".join(ok_top + ok_dup)
    return f"""
WITH docs AS (
    SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
    WHERE len(string_split({_NORM}, ' ')) >= 2
),
chars AS (
    SELECT doc_id,
           CAST(list_aggregate(list_transform(w, t -> len(t)), 'sum')
             AS BIGINT) AS n_chars
    FROM docs
),
idx AS (SELECT CAST(unnest(range(1, 100000)) AS INT) AS i),
grams AS (
    {grams}
),
hashed AS (
    -- r11 constant cut (VERDICT r10 #6): the aggregation keys on the
    -- fixed-width md5 of the gram, with the char length carried as its
    -- own exact integer — gram strings die in this projection instead
    -- of riding the shuffle and the top-1 pick. md5 is the engines'
    -- shared hash (the md5-coin discipline), so the count key and the
    -- tie-break stay bit-identical across engines. (A 60-bit integer
    -- cut of the md5 was measured SLOWER on the 32-thread box — the
    -- per-row hex parse outweighs the narrower shuffle key.)
    SELECT doc_id, n, md5(gram) AS k,
           CAST(len(gram) - (n - 1) AS BIGINT) AS charlen
    FROM grams
),
counts AS (
    SELECT doc_id, n, k, CAST(count(*) AS BIGINT) AS c,
           CAST(max(charlen) AS BIGINT) AS charlen
    FROM hashed GROUP BY 1, 2, 3
),
joined AS (
    -- r11: the top-1 gram is an ordered-first aggregate beside the
    -- sums — ONE hash aggregation per (doc, n) instead of a
    -- row_number window (a full partition sort) plus a tops join.
    -- (c DESC, k) is a total order within the group (k is unique), so
    -- ordered first is deterministic in both engines.
    SELECT doc_id, n,
           CAST(sum(c * charlen) AS BIGINT) AS all_chars,
           CAST(coalesce(sum(CASE WHEN c >= 2 THEN c * charlen END), 0)
             AS BIGINT) AS dup_chars,
           CAST(first(c * charlen ORDER BY c DESC, k) AS BIGINT) AS top_chars
    FROM counts GROUP BY 1, 2
)
SELECT c.doc_id, c.n_chars,
       {top_cols},
       {dup_cols},
       {ok_cols},
       ({keep}) AS keep
FROM chars c LEFT JOIN joined j ON c.doc_id = j.doc_id
GROUP BY c.doc_id, c.n_chars
"""


@register("gopher_repetition_flags", oracle=_grf_oracle())
def q_gopher_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher REPETITION battery (Rae et al. 2021, Table A1 —
    the other half of gopher_quality_flags): per document, the
    character fraction covered by the single most frequent n-gram for
    n∈{2,3,4} (against the doc's non-space characters) and the
    occurrence-weighted character fraction of n-grams occurring ≥2
    times for n∈{5..10} (against all n-gram occurrence characters),
    each with the paper's threshold verdict and the conjunctive keep
    bit. Excessively repetitive documents — boilerplate, scraped spam,
    keyword-stuffed pages — fail these long before a model-based
    filter sees them.

    Scale shape: ONE tokenization, one flattened explode emitting all
    nine n-gram streams tagged by n (one corpus scan — not nine), one
    map-side-combinable count on (doc_id, n, gram), a top-1 window
    bounded per (doc, n), and a pivot back to one row per document.
    Every ratio is one IEEE division of exact integer character
    counts, so the whole battery hash-matches DuckDB. Docs need ≥2
    tokens (no bigram exists below that; the same guard the oracle
    applies).

    Tie-break semantics (changed in r11, ADVICE r11): when two grams
    share the top count for a (doc, n), the winner is the smaller
    **md5 key** (``(c DESC, k)``), not the lexicographically smaller
    gram as pre-r11. Engine and oracle stay in lockstep (both order by
    the md5), but if tied grams have different char lengths,
    ``top_chars`` can differ from the pre-r11 output — a cross-round
    delta on this value under ties is this documented semantics
    change, not a regression."""
    docs = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    ns = sorted({**_GRF_TOP, **_GRF_DUP})

    def _streams(w):
        def one(n):
            return F.when(
                F.size(w) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(w) - F.lit(n - 1)),
                    lambda i: F.struct(
                        F.lit(n).alias("n"),
                        F.concat_ws(" ", F.slice(w, i, n)).alias("gram"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<n:int,gram:string>>"))

        return F.flatten(F.array(*[one(n) for n in ns]))

    n_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    base = (
        docs.filter(F.size(toks) >= 2)
        .select(
            "doc_id",
            n_chars.alias("n_chars"),
            F.explode(let(toks, _streams)).alias("g"),
        )
        # r11 constant cut (VERDICT r10 #6): reduce each gram to its
        # fixed-width md5 key + exact char length IN THIS PROJECTION —
        # the variable-length gram strings (up to ~10 tokens each, nine
        # streams deep) die before the aggregation, so the map-side
        # combine, the shuffle, and the top-1 pick all carry 32-char
        # keys and integers instead. md5 is the engines' shared hash
        # (the md5-coin discipline), so the count key and tie-break
        # stay bit-exact. (A 60-bit integer cut of the md5 was measured
        # SLOWER — the per-row hex parse outweighs the narrower key.)
        .select(
            "doc_id",
            "n_chars",
            F.col("g.n").alias("n"),
            F.md5(F.col("g.gram")).alias("k"),
            (F.length("g.gram") - (F.col("g.n") - 1)).cast("long").alias(
                "charlen"
            ),
        )
    )
    counts = base.groupBy("doc_id", "n_chars", "n", "k").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.max("charlen").cast("long").alias("charlen"),
    )
    counts = counts.withColumn(
        "gchars", (F.col("c") * F.col("charlen")).cast("long")
    )
    # r11: top-1 as a min_by over the (−c, k) comparator — a map-side-
    # combinable hash aggregate beside the sums, replacing the old
    # row_number window (a full per-(doc, n) sort) plus a tops join.
    # k is unique within the group, so the comparator is a total order
    # and the pick matches the oracle's ordered-first bit for bit.
    top = F.min_by(
        F.col("gchars"), F.struct((-F.col("c")).alias("__nc"), F.col("k"))
    )
    joined = counts.groupBy("doc_id", "n_chars", "n").agg(
        F.sum("gchars").cast("long").alias("all_chars"),
        F.coalesce(
            F.sum(F.when(F.col("c") >= 2, F.col("gchars"))), F.lit(0)
        ).cast("long").alias("dup_chars"),
        top.cast("long").alias("top_chars"),
    )
    agg_cols = []
    for n in _GRF_TOP:
        agg_cols.append(
            F.coalesce(
                F.max(F.when(F.col("n") == n, F.col("top_chars"))), F.lit(0)
            ).alias(f"__top_{n}")
        )
    for n in _GRF_DUP:
        agg_cols.append(
            F.coalesce(
                F.max(F.when(F.col("n") == n, F.col("dup_chars"))), F.lit(0)
            ).alias(f"__dup_{n}")
        )
        agg_cols.append(
            F.coalesce(
                F.max(F.when(F.col("n") == n, F.col("all_chars"))), F.lit(1)
            ).alias(f"__all_{n}")
        )
    pivoted = joined.groupBy("doc_id", "n_chars").agg(*agg_cols)
    sel = [F.col("doc_id"), F.col("n_chars")]
    keep = F.lit(True)
    for n, t in _GRF_TOP.items():
        frac = F.col(f"__top_{n}").cast("double") / F.col("n_chars").cast("double")
        sel.append(frac.alias(f"top_frac_{n}"))
    for n, t in _GRF_DUP.items():
        frac = F.col(f"__dup_{n}").cast("double") / F.col(f"__all_{n}").cast("double")
        sel.append(frac.alias(f"dup_frac_{n}"))
    for n, t in _GRF_TOP.items():
        frac = F.col(f"__top_{n}").cast("double") / F.col("n_chars").cast("double")
        sel.append((frac <= F.lit(t)).alias(f"ok_top_{n}"))
        keep = keep & (frac <= F.lit(t))
    for n, t in _GRF_DUP.items():
        frac = F.col(f"__dup_{n}").cast("double") / F.col(f"__all_{n}").cast("double")
        sel.append((frac <= F.lit(t)).alias(f"ok_dup_{n}"))
        keep = keep & (frac <= F.lit(t))
    sel.append(keep.alias("keep"))
    return pivoted.select(*sel)


# ---------------------------------------------------------------------------
# WIMBD-style corpus analytics: power-law fits, diversity, fertility,
# robust outliers (Elazar et al. 2023 "What's In My Big Data?" audits
# the same statistics over corpus-scale data)
# ---------------------------------------------------------------------------


def _zipf_ols_sql() -> str:
    from covid_data_challenge_spark.functions.pmath import portable_ln_sql_stages

    stage, final = portable_ln_sql_stages({"lx": "rank", "ly": "cnt"})
    return f"""
WITH toks AS (SELECT unnest(string_split({_NORM}, ' ')) AS term FROM documents),
tf AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
ranked AS (
    SELECT cnt, CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rank
    FROM tf
),
staged AS (SELECT cnt, {stage} FROM ranked),
lns AS (SELECT cnt, {final} FROM staged),
u AS (
    SELECT cnt,
           CAST(floor(1000000.0 * lx) AS BIGINT) AS xu,
           CAST(floor(1000000.0 * ly) AS BIGINT) AS yu,
           CAST(floor(1000000.0 * (lx * ly)) AS BIGINT) AS xyu,
           CAST(floor(1000000.0 * (lx * lx)) AS BIGINT) AS xxu,
           CAST(floor(1000000.0 * (ly * ly)) AS BIGINT) AS yyu
    FROM lns
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(cnt) AS BIGINT) AS total_tokens,
           CAST(sum(xu) AS BIGINT) AS sx, CAST(sum(yu) AS BIGINT) AS sy,
           CAST(sum(xyu) AS BIGINT) AS sxy, CAST(sum(xxu) AS BIGINT) AS sxx,
           CAST(sum(yyu) AS BIGINT) AS syy
    FROM u
),
d AS (
    SELECT vocab_size, total_tokens,
           (CAST(vocab_size AS DOUBLE) * CAST(sxy AS DOUBLE) * 1000000.0
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS num,
           (CAST(vocab_size AS DOUBLE) * CAST(sxx AS DOUBLE) * 1000000.0
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS den,
           (CAST(vocab_size AS DOUBLE) * CAST(syy AS DOUBLE) * 1000000.0
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS deny
    FROM s
)
SELECT vocab_size, total_tokens,
       CASE WHEN den <> 0.0 THEN num / den END AS zipf_slope,
       CASE WHEN den * deny <> 0.0 THEN (num * num) / (den * deny) END AS r2
FROM d
"""


@register("zipf_law_fit", oracle=_zipf_ols_sql())
def q_zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit of the corpus token-frequency spectrum: OLS of
    ln(freq) on ln(rank) over the full vocabulary (rank by frequency
    desc, term asc), reporting the fitted exponent and r² — the WIMBD
    corpus-health check (a natural corpus sits near slope −1; synthetic
    or template-heavy data departs sharply, so the slope is a cheap
    generation-artifact detector).

    Scale shape: term counts are a vocab-bound map-side-combinable agg;
    ranks come from operators/prefix.py:range_sharded_cumsum (NO
    single-partition window even though natural vocabularies run to
    hundreds of millions of terms); both logs run through portable-ln
    and every OLS moment is quantized to integer micro-units before the
    order-free sums, so slope and r² are bit-identical to the DuckDB
    replay. Final arithmetic is one fixed IEEE expression tree over the
    seven integer sums. Output is ONE row."""
    from covid_data_challenge_spark.functions.pmath import portable_ln
    from covid_data_challenge_spark.operators.prefix import range_sharded_cumsum

    docs = _docs(spark, sf_dir)
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    ranked = range_sharded_cumsum(
        tf.withColumn("__one", F.lit(1).cast("long")).withColumn(
            "__neg_cnt", -F.col("cnt")
        ),
        ["__neg_cnt", "term"],
        {"__one": "rank"},
    )
    lns = ranked.select(
        "cnt",
        portable_ln(F.col("rank")).alias("lx"),
        portable_ln(F.col("cnt")).alias("ly"),
    )
    u = lns.select(
        "cnt",
        F.floor(F.lit(1000000.0) * F.col("lx")).cast("long").alias("xu"),
        F.floor(F.lit(1000000.0) * F.col("ly")).cast("long").alias("yu"),
        F.floor(F.lit(1000000.0) * (F.col("lx") * F.col("ly"))).cast("long").alias("xyu"),
        F.floor(F.lit(1000000.0) * (F.col("lx") * F.col("lx"))).cast("long").alias("xxu"),
        F.floor(F.lit(1000000.0) * (F.col("ly") * F.col("ly"))).cast("long").alias("yyu"),
    )
    s = u.agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum("cnt").cast("long").alias("total_tokens"),
        F.sum("xu").cast("long").alias("sx"),
        F.sum("yu").cast("long").alias("sy"),
        F.sum("xyu").cast("long").alias("sxy"),
        F.sum("xxu").cast("long").alias("sxx"),
        F.sum("yyu").cast("long").alias("syy"),
    )
    n_d = F.col("vocab_size").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    d = s.select(
        "vocab_size",
        "total_tokens",
        (n_d * F.col("sxy").cast("double") * F.lit(1000000.0) - sx_d * sy_d).alias("num"),
        (n_d * F.col("sxx").cast("double") * F.lit(1000000.0) - sx_d * sx_d).alias("den"),
        (n_d * F.col("syy").cast("double") * F.lit(1000000.0) - sy_d * sy_d).alias("deny"),
    )
    return d.select(
        "vocab_size",
        "total_tokens",
        F.when(F.col("den") != 0.0, F.col("num") / F.col("den")).alias("zipf_slope"),
        F.when(
            F.col("den") * F.col("deny") != 0.0,
            (F.col("num") * F.col("num")) / (F.col("den") * F.col("deny")),
        ).alias("r2"),
    )


def _heaps_ols_sql() -> str:
    from covid_data_challenge_spark.functions.pmath import portable_ln_sql_stages

    stage, final = portable_ln_sql_stages({"lx": "n_tok", "ly": "n_types"})
    return f"""
WITH toks AS (SELECT source, unnest(string_split({_NORM}, ' ')) AS term FROM documents),
st AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_tok,
           CAST(count(DISTINCT term) AS BIGINT) AS n_types
    FROM toks GROUP BY 1
),
staged AS (SELECT {stage} FROM st),
lns AS (SELECT {final} FROM staged),
u AS (
    SELECT CAST(floor(1000000.0 * lx) AS BIGINT) AS xu,
           CAST(floor(1000000.0 * ly) AS BIGINT) AS yu,
           CAST(floor(1000000.0 * (lx * ly)) AS BIGINT) AS xyu,
           CAST(floor(1000000.0 * (lx * lx)) AS BIGINT) AS xxu,
           CAST(floor(1000000.0 * (ly * ly)) AS BIGINT) AS yyu
    FROM lns
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS n_sources,
           CAST(sum(xu) AS BIGINT) AS sx, CAST(sum(yu) AS BIGINT) AS sy,
           CAST(sum(xyu) AS BIGINT) AS sxy, CAST(sum(xxu) AS BIGINT) AS sxx,
           CAST(sum(yyu) AS BIGINT) AS syy
    FROM u
),
d AS (
    SELECT n_sources, sx, sy,
           (CAST(n_sources AS DOUBLE) * CAST(sxy AS DOUBLE) * 1000000.0
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS num,
           (CAST(n_sources AS DOUBLE) * CAST(sxx AS DOUBLE) * 1000000.0
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS den,
           (CAST(n_sources AS DOUBLE) * CAST(syy AS DOUBLE) * 1000000.0
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS deny
    FROM s
),
b AS (
    SELECT n_sources, sx, sy, num, den, deny,
           CASE WHEN den <> 0.0 THEN num / den END AS heaps_beta
    FROM d
)
SELECT n_sources, heaps_beta,
       CASE WHEN heaps_beta IS NOT NULL THEN
           (CAST(sy AS DOUBLE) - heaps_beta * CAST(sx AS DOUBLE))
           / (CAST(n_sources AS DOUBLE) * 1000000.0)
       END AS heaps_ln_k,
       CASE WHEN den * deny <> 0.0 THEN (num * num) / (den * deny) END AS r2
FROM b
"""


@register("heaps_law_fit", oracle=_heaps_ols_sql())
def q_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: each source contributes one
    (total tokens N_s, distinct types V_s) point; OLS of ln V on ln N
    across sources recovers the Heaps exponent β and ln K (V ≈ K·N^β).
    A corpus whose sources follow the expected β ≈ 0.4–0.6 band is
    lexically healthy; template/generated sources collapse toward β≈0
    (fixed vocab regardless of size). Same bit-exact OLS discipline as
    zipf_law_fit: portable-ln coordinates, integer micro-unit moments,
    one fixed IEEE tree over the sums. Plan: one token agg keyed
    (source, term) → per-source counts (|sources| rows) → scalar fit."""
    from covid_data_challenge_spark.functions.pmath import portable_ln

    docs = _docs(spark, sf_dir)
    toks = docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
    st = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok"),
        F.countDistinct("term").cast("long").alias("n_types"),
    )
    lns = st.select(
        portable_ln(F.col("n_tok")).alias("lx"),
        portable_ln(F.col("n_types")).alias("ly"),
    )
    u = lns.select(
        F.floor(F.lit(1000000.0) * F.col("lx")).cast("long").alias("xu"),
        F.floor(F.lit(1000000.0) * F.col("ly")).cast("long").alias("yu"),
        F.floor(F.lit(1000000.0) * (F.col("lx") * F.col("ly"))).cast("long").alias("xyu"),
        F.floor(F.lit(1000000.0) * (F.col("lx") * F.col("lx"))).cast("long").alias("xxu"),
        F.floor(F.lit(1000000.0) * (F.col("ly") * F.col("ly"))).cast("long").alias("yyu"),
    )
    s = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum("xu").cast("long").alias("sx"),
        F.sum("yu").cast("long").alias("sy"),
        F.sum("xyu").cast("long").alias("sxy"),
        F.sum("xxu").cast("long").alias("sxx"),
        F.sum("yyu").cast("long").alias("syy"),
    )
    n_d = F.col("n_sources").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    d = s.select(
        "n_sources",
        "sx",
        "sy",
        (n_d * F.col("sxy").cast("double") * F.lit(1000000.0) - sx_d * sy_d).alias("num"),
        (n_d * F.col("sxx").cast("double") * F.lit(1000000.0) - sx_d * sx_d).alias("den"),
        (n_d * F.col("syy").cast("double") * F.lit(1000000.0) - sy_d * sy_d).alias("deny"),
    )
    b = d.select(
        "n_sources",
        "sx",
        "sy",
        "num",
        "den",
        "deny",
        F.when(F.col("den") != 0.0, F.col("num") / F.col("den")).alias("heaps_beta"),
    )
    return b.select(
        "n_sources",
        "heaps_beta",
        F.when(
            F.col("heaps_beta").isNotNull(),
            (F.col("sy").cast("double") - F.col("heaps_beta") * F.col("sx").cast("double"))
            / (F.col("n_sources").cast("double") * F.lit(1000000.0)),
        ).alias("heaps_ln_k"),
        F.when(
            F.col("den") * F.col("deny") != 0.0,
            (F.col("num") * F.col("num")) / (F.col("den") * F.col("deny")),
        ).alias("r2"),
    )


@register(
    "ngram_diversity_report",
    oracle=f"""
WITH docs AS (SELECT source, string_split({_NORM}, ' ') AS w FROM documents),
grams AS (
    SELECT source, n,
           CASE n WHEN 1 THEN w[i]
                  WHEN 2 THEN w[i] || ' ' || w[i + 1]
                  ELSE w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] END AS gram
    FROM docs
    JOIN (SELECT CAST(unnest(range(1, 100000)) AS INT) AS i) idx ON TRUE
    JOIN (SELECT CAST(unnest([1, 2, 3]) AS INT) AS n) ns ON TRUE
    WHERE i <= len(w) - n + 1
)
SELECT source, n,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct,
       count(DISTINCT gram) / count(*) AS distinct_ratio
FROM grams GROUP BY 1, 2
""",
)
def q_ngram_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n lexical diversity per source (Li et al. 2016's
    distinct-1/2/3): the fraction of n-gram OCCURRENCES that are unique
    within the source, for n ∈ {1,2,3}. Low distinct-n marks template
    farms and self-repeating generators that per-document repetition
    rules (the Gopher battery) cannot see, because the repetition lives
    ACROSS documents. Scale shape: one tokenization, one tagged explode
    emitting all three n streams (one corpus scan, the
    gopher_repetition discipline), one (source, n, gram) shuffle for
    the distinct count — all map-side-combinable; output is
    |sources|·3 rows; the ratio is one IEEE division of exact counts."""
    docs = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))

    def _streams(w):
        def one(n):
            return F.when(
                F.size(w) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(w) - F.lit(n - 1)),
                    lambda i: F.struct(
                        F.lit(n).alias("n"),
                        F.concat_ws(" ", F.slice(w, i, n)).alias("gram"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<n:int,gram:string>>"))

        return F.flatten(F.array(*[one(n) for n in (1, 2, 3)]))

    base = docs.select("source", F.explode(let(toks, _streams)).alias("g")).select(
        "source", F.col("g.n").alias("n"), F.col("g.gram").alias("gram")
    )
    return base.groupBy("source", "n").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.countDistinct("gram").cast("long").alias("n_distinct"),
        (
            F.countDistinct("gram").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("distinct_ratio"),
    )


@register(
    "tokenizer_fertility",
    oracle=f"""
WITH per AS (
    SELECT source,
           CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]')) AS BIGINT)
               AS n_bpe,
           CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS n_ws,
           CAST(len({_NORM}) AS BIGINT) AS n_chars
    FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
       CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
       CAST(sum(n_chars) AS BIGINT) AS norm_chars,
       CAST(sum(n_bpe) AS DOUBLE) / CAST(sum(n_ws) AS DOUBLE) AS fertility,
       CAST(sum(n_chars) AS DOUBLE) / CAST(sum(n_bpe) AS DOUBLE) AS chars_per_token
FROM per GROUP BY source
""",
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source: BPE-style pre-tokens per
    whitespace word (how many subword units the tokenizer spends per
    word) and normalized chars per pre-token (compression). Fertility
    is the standard cross-source tokenizer-cost audit — a source whose
    fertility is an outlier inflates training cost per effective word
    and usually signals encoding damage or off-distribution text.
    Fully map-side per-doc counts + one per-source agg; ratios are IEEE
    divisions of exact integer sums (hash-exact)."""
    docs = _docs(spark, sf_dir)
    per = docs.select(
        "source",
        bpe_pretoken_count(F.col("text")).cast("long").alias("n_bpe"),
        token_count(F.col("text")).cast("long").alias("n_ws"),
        F.length(normalize_text(F.col("text"))).cast("long").alias("n_chars"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_ws").cast("long").alias("ws_tokens"),
        F.sum("n_bpe").cast("long").alias("bpe_tokens"),
        F.sum("n_chars").cast("long").alias("norm_chars"),
        (F.sum("n_bpe").cast("double") / F.sum("n_ws").cast("double")).alias(
            "fertility"
        ),
        (F.sum("n_chars").cast("double") / F.sum("n_bpe").cast("double")).alias(
            "chars_per_token"
        ),
    )


@register(
    "length_outliers_mad",
    oracle=f"""
WITH lens AS (
    SELECT source, doc_id,
           CAST(len(string_split({_NORM}, ' ')) AS INT) AS n_tokens
    FROM documents
),
med AS (SELECT source, median(n_tokens) AS med FROM lens GROUP BY 1),
dev AS (
    SELECT l.source, abs(CAST(n_tokens AS DOUBLE) - med) AS dev, med
    FROM lens l JOIN med USING (source)
),
mad AS (SELECT source, median(dev) AS mad FROM dev GROUP BY 1)
SELECT d.source,
       round(max(d.med), 2) AS median_tokens,
       round(max(m.mad), 2) AS mad_tokens,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(CASE WHEN d.dev > 3.0 * m.mad THEN 1 END), 0) AS BIGINT)
           AS n_outliers
FROM dev d JOIN mad m USING (source)
GROUP BY d.source
""",
)
def q_length_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length-outlier screen: exact median token count
    and MAD (median absolute deviation), flagging docs beyond 3 MADs —
    the robust alternative to mean/stddev cuts, which a single
    concatenation-glitch mega-document drags arbitrarily. Plan: one
    map-side length pass, two exact per-source medians (|sources|-row
    aggregates), medians re-joined by broadcast — the corpus streams
    twice and shuffles only on the source key; the deviation/threshold
    comparison is exact IEEE (.5-grain medians of integer lengths)."""
    docs = _docs(spark, sf_dir)
    lens = docs.select(
        "source", "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    med = lens.groupBy("source").agg(F.median("n_tokens").alias("med"))
    dev = lens.join(F.broadcast(med), "source").select(
        "source",
        F.abs(F.col("n_tokens").cast("double") - F.col("med")).alias("dev"),
        "med",
    )
    mad = dev.groupBy("source").agg(F.median("dev").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "source")
        .groupBy("source")
        .agg(
            F.round(F.max("med"), 2).alias("median_tokens"),
            F.round(F.max("mad"), 2).alias("mad_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(
                F.sum(F.when(F.col("dev") > F.lit(3.0) * F.col("mad"), 1)), F.lit(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


#: Poisson(1) CDF thresholds for the inverse-CDF weight ladder (k = the
#: count of thresholds strictly below u; P(w > 8) < 1.2e-6 is truncated).
_BOOT_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
    0.999998874797402,
)
_BOOT_B = 64
_BOOT_SALT = "boot-v1"


def _bootstrap_oracle() -> str:
    u = (
        "((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-'"
        f" || CAST(b AS VARCHAR) || '{_BOOT_SALT}'), 1, 8)) AS BIGINT) + 1)"
        " / 4294967296.0)"
    )
    w = " + ".join(f"CASE WHEN {u} > {t!r} THEN 1 ELSE 0 END" for t in _BOOT_CDF)
    return f"""
WITH lens AS (
    SELECT doc_id, CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS x
    FROM documents
),
rep AS (
    SELECT doc_id, x, b, CAST({w} AS BIGINT) AS w
    FROM lens JOIN (SELECT CAST(unnest(range(0, {_BOOT_B})) AS INT) AS b) bs ON TRUE
),
means AS (
    SELECT b, CAST(sum(w * x) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS m
    FROM rep GROUP BY b HAVING sum(w) > 0
),
sorted AS (SELECT list(m ORDER BY m) AS ms, CAST(count(*) AS BIGINT) AS n_rep FROM means),
base AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_tokens
    FROM lens
)
SELECT n_docs, mean_tokens, n_rep,
       ms[2] AS ci_lo, ms[{_BOOT_B - 1}] AS ci_hi
FROM base CROSS JOIN sorted
"""


@register("bootstrap_mean_ci", oracle=_bootstrap_oracle())
def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the corpus mean token
    count (Chamandy et al. 2012, "Estimating uncertainty for massive
    data streams" — Google's one-pass bootstrap): classical resampling
    needs n draws per replica from a global corpus (un-distributable);
    the Poisson trick gives each (doc, replica) an independent
    Poisson(1) weight, so all 64 replicas stream in ONE map-side pass.
    Weights come from a salted-md5 uniform through the inverse-CDF
    ladder (truncated at 8, P < 1.2e-6), so the whole interval is
    deterministic and hash-replayable. The CI is the empirical
    2.5/97.5-percentile band of the replica means (order statistics 2
    and 63 of B=64).

    Scale shape: one 64× map-side replica explode → one 64-group
    combinable aggregate → a 64-row sort inside a single array — no
    corpus shuffle at all (the corpus-side agg is map-side partials
    into 64 groups); replica means are IEEE divisions of exact integer
    sums."""
    docs = _docs(spark, sf_dir)
    lens = docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("x")
    )
    rep = lens.select(
        "doc_id",
        "x",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit("-"),
                        F.col("b").cast("string"),
                        F.lit(_BOOT_SALT),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + F.lit(1)
    ) / F.lit(4294967296.0)
    w = None
    for t in _BOOT_CDF:
        term = F.when(u > F.lit(t), 1).otherwise(0)
        w = term if w is None else w + term
    rep = rep.select("b", "x", w.cast("long").alias("w"))
    means = (
        rep.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("x")).cast("long").alias("swx"),
            F.sum("w").cast("long").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            (F.col("swx").cast("double") / F.col("sw").cast("double")).alias("m")
        )
    )
    sorted_ms = means.agg(
        F.array_sort(F.collect_list("m")).alias("ms"),
        F.count(F.lit(1)).cast("long").alias("n_rep"),
    )
    base = lens.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("x").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "mean_tokens"
        ),
    )
    return base.join(F.broadcast(sorted_ms)).select(
        "n_docs",
        "mean_tokens",
        "n_rep",
        F.element_at("ms", 2).alias("ci_lo"),
        F.element_at("ms", _BOOT_B - 1).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Round 6: per-source distinctive terms via Dirichlet-smoothed log-odds
# z-scores (Monroe, Colaresi & Quinn 2008, "Fightin' Words") — the
# corpus-analytics standard for "what vocabulary makes this source
# different", more robust than raw TF-IDF contrasts because the prior
# shrinks rare-term log-odds and the variance term de-noises them.
# ---------------------------------------------------------------------------

_FW_A = 0.01  # uniform Dirichlet pseudo-count per term
_FW_K = 5

from covid_data_challenge_spark.functions.pmath import portable_ln_sql_stages  # noqa: E402

_FW_STAGE, _FW_FINAL = portable_ln_sql_stages(
    {
        "l_r1": (
            "((CAST(y_sw AS DOUBLE) + 0.01)"
            " / (CAST(n_s AS DOUBLE) + (0.01 * CAST(v AS DOUBLE))"
            " - CAST(y_sw AS DOUBLE) - 0.01))"
        ),
        "l_r2": (
            "((CAST(y_w AS DOUBLE) - CAST(y_sw AS DOUBLE) + 0.01)"
            " / (CAST(n AS DOUBLE) - CAST(n_s AS DOUBLE)"
            " + (0.01 * CAST(v AS DOUBLE))"
            " - (CAST(y_w AS DOUBLE) - CAST(y_sw AS DOUBLE)) - 0.01))"
        ),
    }
)


@register(
    "fighting_words",
    oracle=f"""
WITH inst AS (
    SELECT source, unnest(string_split({_NORM}, ' ')) AS w FROM documents
),
sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS y_sw FROM inst GROUP BY 1, 2),
st AS (SELECT source, CAST(sum(y_sw) AS BIGINT) AS n_s FROM sw GROUP BY 1),
gw AS (SELECT w, CAST(sum(y_sw) AS BIGINT) AS y_w FROM sw GROUP BY 1),
tot AS (
    SELECT CAST(sum(y_w) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v FROM gw
),
per AS (
    SELECT sw.source, sw.w, sw.y_sw, st.n_s, gw.y_w, tot.n, tot.v
    FROM sw JOIN st USING (source) JOIN gw USING (w) CROSS JOIN tot
),
staged AS (SELECT source, w, y_sw, y_w, {_FW_STAGE} FROM per),
lns AS (SELECT source, w, y_sw, y_w, {_FW_FINAL} FROM staged),
z AS (
    SELECT source, w, y_sw,
           (l_r1 - l_r2)
             / sqrt((1.0 / (CAST(y_sw AS DOUBLE) + 0.01))
                    + (1.0 / (CAST(y_w AS DOUBLE) - CAST(y_sw AS DOUBLE) + 0.01)))
             AS zv
    FROM lns
)
SELECT source, w AS term, y_sw AS n_in_source,
       round(zv, 4) AS log_odds_z, CAST(rank AS INT) AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY zv DESC, w
    ) AS rank FROM z
) WHERE rank <= {_FW_K}
""",
)
def q_fighting_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_FW_K} most-distinctive terms per source by Dirichlet-
    smoothed log-odds z-score (Monroe et al. 2008): δ = log-odds of the
    term inside the source vs the rest of the corpus, both smoothed by
    a uniform prior α = 0.01, standardized by the estimated variance
    1/(y+α) + 1/(y'+α). The corpus-composition diagnostic beside the
    KL/contamination tier — what vocabulary a source over-represents,
    with rare-term noise shrunk instead of dominating (the raw-TF-IDF
    failure).

    Bit-exactness: counts are integers; both log-odds ratios run
    portable-ln; sqrt and divisions are correctly-rounded IEEE ops on
    identical doubles, so z — and therefore the per-source ranking — is
    engine-identical. Scale: one (source, term) aggregation (vocab ×
    sources rows), broadcast marginals, WindowGroupLimit top-{_FW_K}
    per source."""
    from covid_data_challenge_spark.functions.pmath import portable_ln

    docs = _docs(spark, sf_dir)
    inst = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("w")
    )
    sw = inst.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("y_sw")
    )
    st = sw.groupBy("source").agg(F.sum("y_sw").cast("long").alias("n_s"))
    gw = sw.groupBy("w").agg(F.sum("y_sw").cast("long").alias("y_w"))
    tot = gw.agg(
        F.sum("y_w").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    per = (
        sw.join(F.broadcast(st), "source")
        .join(gw, "w")
        .join(F.broadcast(tot))
    )
    a = F.lit(_FW_A)
    y_sw = F.col("y_sw").cast("double")
    n_s = F.col("n_s").cast("double")
    y_w = F.col("y_w").cast("double")
    n = F.col("n").cast("double")
    v = F.col("v").cast("double")
    r1 = (y_sw + a) / (n_s + (F.lit(_FW_A) * v) - y_sw - a)
    r2 = (y_w - y_sw + a) / (
        n - n_s + (F.lit(_FW_A) * v) - (y_w - y_sw) - a
    )
    zv = (portable_ln(r1) - portable_ln(r2)) / F.sqrt(
        (F.lit(1.0) / (y_sw + a)) + (F.lit(1.0) / (y_w - y_sw + a))
    )
    w_rank = Window.partitionBy("source").orderBy(F.col("__z").desc(), F.col("w"))
    return (
        per.select("source", "w", "y_sw", zv.alias("__z"))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _FW_K)
        .select(
            "source",
            F.col("w").alias("term"),
            F.col("y_sw").alias("n_in_source"),
            F.round("__z", 4).alias("log_odds_z"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# Round 6: hybrid retrieval — BM25 fused with a Dirichlet-smoothed
# query-likelihood ranker by Reciprocal Rank Fusion (Cormack et al.
# 2009), the standard way production search blends rankers without
# score calibration. Two genuinely different retrieval families (tf
# saturation vs LM smoothing) over one shared posting frame.
# ---------------------------------------------------------------------------

_RRF_K = 60.0
_QL_MU = 100.0

_QL_STAGE, _QL_FINAL = portable_ln_sql_stages(
    {
        "l_ql": (
            "((CAST(tf AS DOUBLE) + (100.0 * (CAST(cf AS DOUBLE) / CAST(ctot AS DOUBLE))))"
            " / (CAST(dl AS DOUBLE) + 100.0))"
        )
    }
)


@register(
    "hybrid_rrf_retrieval",
    oracle=f"""
WITH docs AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
dl AS (SELECT doc_id, len(w) AS dl FROM docs),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
inst AS (SELECT doc_id, unnest(w) AS term FROM docs),
ctot AS (SELECT CAST(count(*) AS BIGINT) AS ctot FROM inst),
cf AS (
    SELECT term, CAST(count(*) AS BIGINT) AS cf FROM inst
    WHERE term IN ('spark', 'vector', 'stream') GROUP BY 1
),
tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM inst
    WHERE term IN ('spark', 'vector', 'stream') GROUP BY 1, 2
),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
cand AS (SELECT DISTINCT doc_id FROM tf),
bm AS (
    SELECT tf.doc_id,
           round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * ({_BM25_K1} + 1)
               / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
           ), 6) AS s_bm25
    FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY 1
),
qgrid AS (
    SELECT c.doc_id, q.term, coalesce(t.tf, 0) AS tf, dl.dl, cf.cf, ctot.ctot
    FROM cand c
    CROSS JOIN (SELECT unnest(['spark', 'vector', 'stream']) AS term) q
    LEFT JOIN tf t ON c.doc_id = t.doc_id AND q.term = t.term
    JOIN dl ON c.doc_id = dl.doc_id
    JOIN cf ON q.term = cf.term
    CROSS JOIN ctot
),
qstaged AS (SELECT doc_id, {_QL_STAGE} FROM qgrid),
qlns AS (SELECT doc_id, {_QL_FINAL} FROM qstaged),
ql AS (
    SELECT doc_id,
           CAST(sum(CAST(floor(1000000.0 * l_ql) AS BIGINT)) AS BIGINT) AS s_ql_units
    FROM qlns GROUP BY 1
),
ranked AS (
    SELECT b.doc_id,
           row_number() OVER (ORDER BY b.s_bm25 DESC, b.doc_id DESC) AS rank_bm25,
           row_number() OVER (ORDER BY q.s_ql_units DESC, b.doc_id DESC) AS rank_ql
    FROM bm b JOIN ql q USING (doc_id)
)
SELECT doc_id,
       CAST(rank_bm25 AS BIGINT) AS rank_bm25,
       CAST(rank_ql AS BIGINT) AS rank_ql,
       round((1.0 / ({_RRF_K} + CAST(rank_bm25 AS DOUBLE)))
             + (1.0 / ({_RRF_K} + CAST(rank_ql AS DOUBLE))), 6) AS rrf_score
FROM ranked
ORDER BY (1.0 / ({_RRF_K} + CAST(rank_bm25 AS DOUBLE)))
         + (1.0 / ({_RRF_K} + CAST(rank_ql AS DOUBLE))) DESC, doc_id
LIMIT 10
""",
)
def q_hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 hybrid retrieval for the fixed 3-term query: BM25 (tf
    saturation) and Dirichlet-smoothed query likelihood (LM smoothing,
    μ=100 — tf=0 terms still contribute their corpus-prior mass) ranked
    independently over the SAME candidate set, fused by Reciprocal Rank
    Fusion 1/(60+r) (Cormack 2009) — rank fusion needs no score
    calibration, which is exactly why production search uses it to
    blend heterogeneous rankers.

    Determinism: BM25 ranks on the 6-dp-rounded score (the bm25_topk
    convention); QL ranks on integer micro-nat units (portable-ln per
    (doc, term), floor-quantized BEFORE the per-doc sum); both rank
    keys are therefore engine-identical, ties break on doc_id, and the
    RRF score is a fixed-association double of two small integers.
    Scale: one tokenize+explode feeds postings, corpus stats, and
    collection frequencies; candidates = docs matching ≥1 query term
    (|postings(q)|, not corpus); GLOBAL ranks run through
    range_sharded_cumsum — no single-partition window (the AUC/zipf
    discipline); final top-10 is TakeOrderedAndProject."""
    from covid_data_challenge_spark.functions.pmath import portable_ln
    from covid_data_challenge_spark.operators.prefix import range_sharded_cumsum

    docs = _docs(spark, sf_dir).select("doc_id", tokens(F.col("text")).alias("w"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(F.size("w")).alias("avgdl")
    )
    inst = docs.select("doc_id", F.size("w").alias("dl"), F.explode("w").alias("term"))
    ctot = inst.agg(F.count(F.lit(1)).cast("long").alias("ctot"))
    qinst = inst.filter(F.col("term").isin(*_BM25_TERMS))
    cf = qinst.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("cf"))
    tf = qinst.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf"), F.max("dl").alias("dl")
    )
    # the posting frame feeds BM25, the QL grid, and the candidate set
    tf = tf.localCheckpoint(eager=True)
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))

    k1, b = _BM25_K1, _BM25_B
    idf = F.log(
        F.lit(1)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    w_td = (
        F.col("tf")
        * F.lit(k1 + 1)
        / (F.col("tf") + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")))
    )
    bm = (
        tf.join(F.broadcast(dfq), "term")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * w_td), 6).alias("s_bm25"))
    )
    cand = tf.select("doc_id", "dl").dropDuplicates(["doc_id"])
    terms = spark.createDataFrame([(t,) for t in _BM25_TERMS], "term string")
    qgrid = (
        cand.join(F.broadcast(terms))
        .join(tf.select("doc_id", "term", "tf"), ["doc_id", "term"], "left")
        .join(F.broadcast(cf), "term")
        .join(F.broadcast(ctot))
        .select(
            "doc_id",
            F.coalesce(F.col("tf"), F.lit(0)).alias("tf"),
            "dl",
            "cf",
            "ctot",
        )
    )
    l_ql = portable_ln(
        (
            F.col("tf").cast("double")
            + (F.lit(_QL_MU) * (F.col("cf").cast("double") / F.col("ctot").cast("double")))
        )
        / (F.col("dl").cast("double") + F.lit(_QL_MU))
    )
    ql = (
        qgrid.select(
            "doc_id",
            F.floor(F.lit(1000000.0) * l_ql).cast("long").alias("__u"),
        )
        .groupBy("doc_id")
        .agg(F.sum("__u").cast("long").alias("s_ql_units"))
    )
    scored = bm.join(ql, "doc_id").localCheckpoint(eager=True)
    r1 = range_sharded_cumsum(
        scored.withColumn("__one", F.lit(1)),
        ["s_bm25", "doc_id"],
        {"__one": "rank_bm25"},
        descending=True,
    ).drop("__one")
    r2 = range_sharded_cumsum(
        r1.withColumn("__one", F.lit(1)),
        ["s_ql_units", "doc_id"],
        {"__one": "rank_ql"},
        descending=True,
    ).drop("__one")
    rrf = (F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_bm25").cast("double"))) + (
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_ql").cast("double"))
    )
    return (
        r2.select(
            "doc_id",
            F.col("rank_bm25").cast("long").alias("rank_bm25"),
            F.col("rank_ql").cast("long").alias("rank_ql"),
            F.round(rrf, 6).alias("rrf_score"),
            rrf.alias("__rrf"),
        )
        .orderBy(F.col("__rrf").desc(), "doc_id")
        .limit(10)
        .drop("__rrf")
    )


# ---------------------------------------------------------------------------
# Round 6: unigram-LM tokenizer hard-EM round (SentencePiece's model
# family, Kudo 2018) — the probabilistic sibling of the BPE merge loop.
# The oracle runs the per-word Viterbi DP as a recursive CTE: the
# DP is INTEGER (micro-nat scores, cells encode best·8 + piece_len), so
# there is no float argmax tie to diverge on.
# ---------------------------------------------------------------------------


def _unigram_viterbi_ctes(px: str, src: str, max_piece: int) -> str:
    """Viterbi segmentation of every word in the score pivot ``src``
    (w, n, lw, sc) as two recursive CTEs: ``{px}cells`` runs the
    forward DP one word position per step (cell i = best total·8 +
    final piece length, an exact BIGINT), ``{px}pieces`` walks the
    cells back from the word's end, one piece per step. Neither grows
    with the word length."""

    def pj(b: str) -> str:  # piece length from a combined cell
        return f"((({b} % 8) + 8) % 8)"

    def pt(b: str) -> str:  # score total from a combined cell (exact)
        return f"CAST((({b} - {pj(b)}) / 8) AS BIGINT)"

    score = f"sc[(i + 1 - j) * {max_piece} + j]"
    return f"""{px}cells AS MATERIALIZED (
    WITH RECURSIVE dp(w, n, lw, sc, i, cells) AS (
        SELECT w, n, lw, sc, 0, CAST([] AS BIGINT[]) FROM {src}
        UNION ALL
        SELECT w, n, lw, sc, i + 1, list_append(cells, list_max(list_transform(
            range(1, least({max_piece}, i + 1) + 1),
            j -> CASE WHEN {score} IS NOT NULL
                      THEN ((CASE WHEN i + 1 - j = 0 THEN CAST(0 AS BIGINT)
                                  ELSE {pt("cells[i + 1 - j]")} END) + {score}) * 8 + j
                      ELSE CAST({-(2**50)} AS BIGINT) END)))
        FROM dp WHERE i < lw
    )
    SELECT w, n, lw, cells FROM dp WHERE i = lw
),
{px}pieces AS (
    WITH RECURSIVE bt(w, n, cells, pos, piece) AS (
        SELECT w, n, cells, CAST(lw AS INT), CAST(NULL AS VARCHAR) FROM {px}cells
        UNION ALL
        SELECT w, n, cells, CAST(pos - {pj("cells[pos]")} AS INT),
               substr(w, CAST(pos - {pj("cells[pos]")} + 1 AS INT),
                      CAST({pj("cells[pos]")} AS INT))
        FROM bt WHERE pos > 0
    )
    SELECT w, n, piece FROM bt WHERE piece IS NOT NULL
)"""


def _unigram_oracle_sql(
    max_word: int = 12, max_piece: int = 4, top: int = 64, tail: str = "em"
) -> str:
    """DuckDB twin of the unigram-LM round. ``tail="em"`` emits the
    EM-round piece table; ``tail="encode"`` reuses the SAME chain
    (vocab → DP → Viterbi pieces) and aggregates per-document encode
    stats instead. ``tail="incr"`` is the r12 warm-start twin: train
    round-2 scores on HISTORY docs (doc_id % 5 ≠ 0), then run ONE
    E-step over the MERGED dictionary under those scores (plus
    floor-scored batch-new singles) and M-step re-score — value-equal
    to the engine's incremental path, which segments only the batch
    dictionary and ADDS the published history usage (Viterbi usage
    under fixed scores is additive over word instances)."""
    from covid_data_challenge_spark.functions.pmath import portable_ln_sql_stages

    v_stage, v_final = portable_ln_sql_stages(
        {"l_f": "CAST(f AS DOUBLE)", "l_t": "CAST(ftot AS DOUBLE)"}
    )
    n_stage, n_final = portable_ln_sql_stages(
        {
            "l_vc": "CAST(greatest(vc, 1) AS DOUBLE)",
            "l_vt": "CAST(vtot AS DOUBLE)",
        }
    )

    # the score pivot: sc[(start - 1) * max_piece + len] is the piece's
    # micro-nat score, NULL where the piece is not in the vocabulary
    score_pivot = "[" + ", ".join(
        f"MAX(CASE WHEN start = {s} AND len = {j} THEN u END)"
        for s in range(1, max_word + 1)
        for j in range(1, max_piece + 1)
    ) + "] AS sc"

    src = (
        "(SELECT * FROM documents WHERE doc_id % 5 <> 0)"
        if tail == "incr"
        else "documents"
    )
    chain = f"""inst AS (
    SELECT unnest(string_split({_NORM}, ' ')) AS w FROM {src}
),
wd AS (
    SELECT w, CAST(count(*) AS BIGINT) AS n FROM inst
    WHERE len(w) BETWEEN 1 AND {max_word} GROUP BY w
),
subs AS MATERIALIZED (
    SELECT w, n, CAST(a.s AS INT) AS start, CAST(b.j AS INT) AS len,
           substr(w, CAST(a.s AS INT), CAST(b.j AS INT)) AS piece
    FROM wd,
    LATERAL (SELECT unnest(range(1, len(w) + 1)) AS s) a,
    LATERAL (SELECT unnest(range(1, least({max_piece}, len(w) - a.s + 1) + 1)) AS j) b
),
pf AS MATERIALIZED (SELECT piece, CAST(sum(n) AS BIGINT) AS f FROM subs GROUP BY 1),
vocab0 AS (
    SELECT piece, f FROM pf WHERE len(piece) = 1
    UNION ALL
    SELECT piece, f FROM (
        SELECT piece, f FROM pf WHERE len(piece) >= 2
        ORDER BY f DESC, piece LIMIT {top}
    )
),
ftot AS (SELECT CAST(sum(f) AS BIGINT) AS ftot FROM vocab0),
vst AS (SELECT piece, f, {v_stage} FROM vocab0 CROSS JOIN ftot),
vln AS (SELECT piece, f, {v_final} FROM vst),
vocab AS MATERIALIZED (
    SELECT piece, f, CAST(floor(1000000.0 * (l_f - l_t)) AS BIGINT) AS u FROM vln
),
seg AS (
    SELECT s.w, s.n, s.start, s.len, v.u
    FROM subs s JOIN vocab v USING (piece)
),
ss AS MATERIALIZED (
    SELECT w, n, len(w) AS lw,
           {score_pivot}
    FROM seg GROUP BY w, n, len(w)
),
{_unigram_viterbi_ctes("", "ss", max_piece)}"""
    if tail == "encode":
        return f"""
WITH {chain},
wpc AS (SELECT w, CAST(count(*) AS BIGINT) AS k FROM pieces GROUP BY w),
docw AS (
    SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS w FROM documents
    ) WHERE len(w) BETWEEN 1 AND {max_word}
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(k) AS BIGINT) AS n_pieces,
       round(CAST(sum(k) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
           AS pieces_per_word
FROM docw d JOIN wpc USING (w)
GROUP BY d.doc_id
"""
    em_ctes = f"""used AS MATERIALIZED (SELECT piece, CAST(sum(n) AS BIGINT) AS vc FROM pieces GROUP BY 1),
j2 AS MATERIALIZED (
    SELECT v.piece, v.f, CAST(coalesce(u2.vc, 0) AS BIGINT) AS vc
    FROM vocab v LEFT JOIN used u2 USING (piece)
),
vtot AS MATERIALIZED (SELECT CAST(sum(vc) AS BIGINT) AS vtot FROM j2),
nst AS (SELECT piece, f, vc, {n_stage} FROM j2 CROSS JOIN vtot),
nln AS MATERIALIZED (SELECT piece, f, vc, {n_final} FROM nst)"""
    if tail == "incr":
        # history round-2 vocab (v2 exactly as the em2 round), history
        # usage under it (used2), then ONE merged-dictionary E-step
        # under v2 ∪ floor-scored batch-new singles, M-step re-score
        f_stage, f_final = portable_ln_sql_stages(
            {"l_one": "CAST(1 AS DOUBLE)", "l_v1": "CAST(vtot AS DOUBLE)"}
        )
        w_stage, w_final = portable_ln_sql_stages(
            {
                "l_wv": "CAST(greatest(vc, 1) AS DOUBLE)",
                "l_wt": "CAST(vt AS DOUBLE)",
            }
        )
        return f"""
WITH {chain},
{em_ctes},
v2 AS MATERIALIZED (
    SELECT piece, vc AS round1_count,
           CAST(floor(1000000.0 * (l_vc - l_vt)) AS BIGINT) AS u
    FROM nln WHERE vc > 0 OR len(piece) = 1
),
seg2 AS (
    SELECT s.w, s.n, s.start, s.len, v.u
    FROM subs s JOIN v2 v USING (piece)
),
ss2 AS MATERIALIZED (
    SELECT w, n, len(w) AS lw,
           {score_pivot}
    FROM seg2 GROUP BY w, n, len(w)
),
{_unigram_viterbi_ctes("r2", "ss2", max_piece)},
used2 AS MATERIALIZED (SELECT piece, CAST(sum(n) AS BIGINT) AS vc2 FROM r2pieces GROUP BY 1),
minst AS (SELECT unnest(string_split({_NORM}, ' ')) AS w FROM documents),
mwd AS (
    SELECT w, CAST(count(*) AS BIGINT) AS n FROM minst
    WHERE len(w) BETWEEN 1 AND {max_word} GROUP BY w
),
msubs AS MATERIALIZED (
    SELECT w, n, CAST(a.s AS INT) AS start, CAST(b.j AS INT) AS len,
           substr(w, CAST(a.s AS INT), CAST(b.j AS INT)) AS piece
    FROM mwd,
    LATERAL (SELECT unnest(range(1, len(w) + 1)) AS s) a,
    LATERAL (SELECT unnest(range(1, least({max_piece}, len(w) - a.s + 1) + 1)) AS j) b
),
nsing AS (
    SELECT DISTINCT piece FROM msubs
    WHERE len(piece) = 1 AND piece NOT IN (SELECT piece FROM v2)
),
fst AS (SELECT piece, {f_stage} FROM nsing CROSS JOIN vtot),
fln AS (SELECT piece, {f_final} FROM fst),
nsv AS (
    SELECT piece, CAST(floor(1000000.0 * (l_one - l_v1)) AS BIGINT) AS u
    FROM fln
),
warm AS MATERIALIZED (SELECT piece, u FROM v2 UNION ALL SELECT piece, u FROM nsv),
mseg AS (
    SELECT s.w, s.n, s.start, s.len, v.u
    FROM msubs s JOIN warm v USING (piece)
),
mss AS MATERIALIZED (
    SELECT w, n, len(w) AS lw,
           {score_pivot}
    FROM mseg GROUP BY w, n, len(w)
),
{_unigram_viterbi_ctes("m", "mss", max_piece)},
mused AS (SELECT piece, CAST(sum(n) AS BIGINT) AS vcm FROM mpieces GROUP BY 1),
jm AS MATERIALIZED (
    SELECT w.piece,
           CAST(coalesce(h.vc2, 0) AS BIGINT) AS hist_count,
           CAST(coalesce(m.vcm, 0) AS BIGINT) AS vc
    FROM warm w
    LEFT JOIN used2 h USING (piece)
    LEFT JOIN mused m USING (piece)
),
vtm AS (SELECT CAST(sum(vc) AS BIGINT) AS vt FROM jm),
wst AS (SELECT piece, hist_count, vc, {w_stage} FROM jm CROSS JOIN vtm),
wln AS (SELECT piece, hist_count, vc, {w_final} FROM wst)
SELECT piece,
       CAST(len(piece) AS INT) AS piece_len,
       hist_count,
       CAST(vc - hist_count AS BIGINT) AS batch_count,
       vc AS viterbi_count,
       vc > 0 AS kept,
       CASE WHEN vc > 0
            THEN CAST(floor(1000000.0 * (l_wv - l_wt)) AS BIGINT)
       END AS new_score_units
FROM wln
"""
    if tail == "em":
        return f"""
WITH {chain},
{em_ctes}
SELECT piece,
       CAST(len(piece) AS INT) AS piece_len,
       f AS seed_freq,
       vc AS viterbi_count,
       vc > 0 AS kept,
       CASE WHEN vc > 0
            THEN CAST(floor(1000000.0 * (l_vc - l_vt)) AS BIGINT)
       END AS new_score_units
FROM nln
"""
    # tail == "em{k}" / "encode{k}", k >= 2: k−1 prune-and-refit cycles.
    # Each round r:
    # prune (keep vc>0 ∪ all singles), re-score from round r−1 usage
    # (zero-usage singles take the smoothed ln(1/total) floor — the
    # greatest(vc,1) already staged in the previous nln), re-run the DP.
    # Round 1's CTEs keep their historical unprefixed names (nln carries
    # vc / l_vc / l_vt), so r=2 reads them specially; r >= 3 is uniform.
    encode_mode = tail.startswith("encode")
    prefix = (
        "converged"
        if tail.startswith("converged")
        else ("encode" if encode_mode else "em")
    )
    k = int(tail.removeprefix(prefix) or "2")
    round_ctes: list[str] = []
    for r in range(2, k + 1):
        src_ln = "nln" if r == 2 else f"n{r - 1}ln"
        src_vc = "vc" if r == 2 else f"vc{r - 1}"
        src_lv = "l_vc" if r == 2 else f"l_v{r - 1}"
        src_lt = "l_vt" if r == 2 else f"l_t{r - 1}"
        st, fin = portable_ln_sql_stages(
            {
                f"l_v{r}": f"CAST(greatest(vc{r}, 1) AS DOUBLE)",
                f"l_t{r}": f"CAST(vt{r} AS DOUBLE)",
            }
        )
        round_ctes.append(
            f"""v{r} AS MATERIALIZED (
    SELECT piece, {src_vc} AS round{r - 1}_count,
           CAST(floor(1000000.0 * ({src_lv} - {src_lt})) AS BIGINT) AS u
    FROM {src_ln} WHERE {src_vc} > 0 OR len(piece) = 1
),
seg{r} AS (
    SELECT s.w, s.n, s.start, s.len, v.u
    FROM subs s JOIN v{r} v USING (piece)
),
ss{r} AS MATERIALIZED (
    SELECT w, n, len(w) AS lw,
           {score_pivot}
    FROM seg{r} GROUP BY w, n, len(w)
),
{_unigram_viterbi_ctes(f"r{r}", f"ss{r}", max_piece)},
used{r} AS MATERIALIZED (SELECT piece, CAST(sum(n) AS BIGINT) AS vc{r} FROM r{r}pieces GROUP BY 1),
j{r + 1} AS MATERIALIZED (
    SELECT v.piece, v.round{r - 1}_count, CAST(coalesce(u{r + 1}.vc{r}, 0) AS BIGINT) AS vc{r}
    FROM v{r} v LEFT JOIN used{r} u{r + 1} USING (piece)
),
vtot{r} AS MATERIALIZED (SELECT CAST(sum(vc{r}) AS BIGINT) AS vt{r} FROM j{r + 1}),
n{r}st AS (SELECT piece, round{r - 1}_count, vc{r}, {st} FROM j{r + 1} CROSS JOIN vtot{r}),
n{r}ln AS MATERIALIZED (SELECT piece, round{r - 1}_count, vc{r}, {fin} FROM n{r}st)"""
        )
    rounds_sql = ",\n".join(round_ctes)
    if tail.startswith("converged"):
        # Replays the convergence RULE, not a realized count: per-round
        # corpus log-likelihood L_r = Σ vc_r·u_r (exact BIGINT), stop at
        # the first r with L_r − L_{r−1} ≤ 0 (else k_max) — so the
        # oracle is scale-independent: the pytest gate at sf0.001
        # (fixpoint 3) and the driver gate at sf0.01 (fixpoint 4) both
        # hash-match the same SQL. Costs k_max DP rounds.
        l_ctes = [
            "lik1 AS MATERIALIZED (SELECT CAST(sum(u2.vc * v.u) AS BIGINT) AS l "
            "FROM used u2 JOIN vocab v USING (piece))"
        ]
        for r in range(2, k + 1):
            l_ctes.append(
                f"lik{r} AS MATERIALIZED (SELECT CAST(sum(ur.vc{r} * v.u) AS BIGINT) AS l "
                f"FROM used{r} ur JOIN v{r} v USING (piece))"
            )
        cases = " ".join(
            f"WHEN (SELECT l FROM lik{r}) - (SELECT l FROM lik{r - 1}) <= 0 THEN {r}"
            for r in range(2, k + 1)
        )
        ks = f"ks AS MATERIALIZED (SELECT CASE {cases} ELSE {k} END AS kstar)"
        branches = "\nUNION ALL\n".join(
            f"""SELECT piece, CAST(len(piece) AS INT) AS piece_len,
       round{r - 1}_count AS prev_round_count,
       vc{r} AS viterbi_count, vc{r} > 0 AS kept,
       CASE WHEN vc{r} > 0
            THEN CAST(floor(1000000.0 * (l_v{r} - l_t{r})) AS BIGINT)
       END AS new_score_units,
       CAST({r} AS INT) AS rounds_run,
       CAST((SELECT l FROM lik{r}) - (SELECT l FROM lik{r - 1}) AS BIGINT)
           AS ll_delta_units
FROM n{r}ln WHERE (SELECT kstar FROM ks) = {r}"""
            for r in range(2, k + 1)
        )
        return f"""
WITH {chain},
{em_ctes},
{rounds_sql},
{",".join(l_ctes)},
{ks}
{branches}
"""
    if encode_mode:
        # serve under the round-k model: encode tail over the round-k
        # Viterbi pieces (the trailing used{k}/n{k}ln CTEs of the last
        # generated round are simply never referenced)
        return f"""
WITH {chain},
{em_ctes},
{rounds_sql},
wpc AS (SELECT w, CAST(count(*) AS BIGINT) AS k FROM r{k}pieces GROUP BY w),
docw AS (
    SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS w FROM documents
    ) WHERE len(w) BETWEEN 1 AND {max_word}
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(k) AS BIGINT) AS n_pieces,
       round(CAST(sum(k) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
           AS pieces_per_word
FROM docw d JOIN wpc USING (w)
GROUP BY d.doc_id
"""
    return f"""
WITH {chain},
{em_ctes},
{rounds_sql}
SELECT piece,
       CAST(len(piece) AS INT) AS piece_len,
       round{k - 1}_count,
       vc{k} AS viterbi_count,
       vc{k} > 0 AS kept,
       CASE WHEN vc{k} > 0
            THEN CAST(floor(1000000.0 * (l_v{k} - l_t{k})) AS BIGINT)
       END AS new_score_units
FROM n{k}ln
"""


@register("unigram_lm_em", oracle=_unigram_oracle_sql())
def q_unigram_lm_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hard-EM (Viterbi) round of unigram-LM tokenizer training
    (SentencePiece's model family, Kudo 2018) over the corpus word
    dictionary: substring-seeded vocabulary (all single chars + top-64
    multi-char pieces ≤4 chars, ln-frequency scores), per-word Viterbi
    segmentation, and M-step usage counts with re-estimated scores —
    zero-usage pieces are the prune set the next round drops. The
    probabilistic sibling of `bpe_merge_table`: BPE grows a vocabulary
    bottom-up by merges, unigram-LM shrinks a rich seed top-down by EM.

    The whole round is oracle-checked INCLUDING the DP: piece scores
    are integer micro-nats, each Viterbi cell is one BIGINT
    (best_total·8 + final_piece_len, longer piece wins score ties), so
    both engines run identical integer argmaxes — DuckDB runs the DP
    as a recursive CTE, one word position per step. Scale: one
    corpus scan into the Heaps-law-bounded word dictionary; the E-step
    is a per-row column fold (no shuffle); M-step is one piece-keyed
    aggregation (operators/unigram.py)."""
    from covid_data_challenge_spark.operators.unigram import unigram_em_round

    return unigram_em_round(_docs(spark, sf_dir))


@register("unigram_encode_stats", oracle=_unigram_oracle_sql(tail="encode"))
def q_unigram_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unigram tokenizer's SERVE half (train→encode, the
    bpe_encode_stats symmetry): Viterbi-segment the word dictionary
    under the trained seed vocab ONCE, broadcast the vocab-sized
    word→piece-count table into one pass over corpus word instances,
    and report per-document token-expansion stats (words, pieces,
    pieces/word — the fertility number for THIS tokenizer). Oracle
    reuses the exact EM-round CTE chain through the Viterbi pieces and
    aggregates the per-doc tail instead (operators/unigram.py:
    unigram_encode_stats)."""
    from covid_data_challenge_spark.operators.unigram import unigram_encode_stats

    return unigram_encode_stats(_docs(spark, sf_dir))


@register("unigram_lm_em2", oracle=_unigram_oracle_sql(tail="em2"))
def q_unigram_lm_em2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained unigram-LM hard-EM rounds — the proof the training
    loop composes: round 1 exactly as `unigram_lm_em`, then PRUNE
    zero-usage pieces (keeping all single chars, SentencePiece's
    coverage guarantee), RE-SCORE from round-1 usage, and re-run the
    Viterbi DP under the round-2 scores. Pieces the re-scored model
    abandons (or adopts — a piece can gain usage once its competitors
    are pruned) show up in the round-2 counts.

    The oracle chains BOTH DP rounds (prefixed recursive-CTE blocks,
    rounds MATERIALIZED) — the same integer micro-nat cells, so two full EM
    rounds stay hash-exact end to end (operators/unigram.py:
    unigram_em_round2)."""
    from covid_data_challenge_spark.operators.unigram import unigram_em_round2

    return unigram_em_round2(_docs(spark, sf_dir))


@register("unigram_encode_stats_em2", oracle=_unigram_oracle_sql(tail="encode2"))
def q_unigram_encode_stats_em2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unigram tokenizer's serve half under the ROUND-2 model —
    what shipping a SentencePiece model after a prune/re-fit cycle
    actually serves (the pruned, usage-re-scored vocabulary, not the
    seed). Same one-dictionary-segmentation + broadcast word→pieces
    design as `unigram_encode_stats`; read the two side by side to see
    what the prune cycle does to fertility. Oracle: the em2 CTE chain
    through the round-2 Viterbi pieces + the encode tail
    (operators/unigram.py:unigram_encode_stats_rounds)."""
    from covid_data_challenge_spark.operators.unigram import (
        unigram_encode_stats_rounds,
    )

    return unigram_encode_stats_rounds(_docs(spark, sf_dir), 2)


@register("unigram_lm_em3", oracle=_unigram_oracle_sql(tail="em3"))
def q_unigram_lm_em3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE chained unigram-LM hard-EM rounds via the k-round trainer
    loop (`unigram_em_rounds(docs, 3)` — Kudo 2018 §3.2's real
    SentencePiece shape, not a fixed two-step): seed → Viterbi →
    prune/re-score → Viterbi → prune/re-score → Viterbi. Each round's
    re-scored vocabulary is eagerly checkpointed, which is both the
    loop's O(1)-lineage guarantee AND what keeps every Viterbi DP
    compiling as its own whole-stage-codegen stage (janino's 64 KB
    method limit — the r6 `unigram_lm_em2` fallback lesson).

    The oracle chains all three DP rounds (prefixed recursive-CTE
    blocks, rounds MATERIALIZED) over the same integer micro-nat cells, so three full EM
    rounds stay hash-exact end to end (operators/unigram.py:
    unigram_em_rounds)."""
    from covid_data_challenge_spark.operators.unigram import unigram_em_rounds

    return unigram_em_rounds(_docs(spark, sf_dir), 3)


@register(
    "unigram_lm_em_converged",
    oracle=_unigram_oracle_sql(tail="converged5"),
)
def q_unigram_lm_em_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERGENCE-stopped unigram-LM EM (r8 — VERDICT r7 next-round #5,
    the real SentencePiece trainer termination): prune/re-score rounds
    run until the corpus Viterbi log-likelihood (the exact integer
    micro-nat sum Σ vc·u — one BIGINT collected per round, the k-center
    API-boundary-scalar discipline) stops improving by more than tol=0,
    bounded by k_max=5. The oracle replays the convergence RULE itself,
    not a realized count: it runs all k_max DP rounds, computes each
    round's likelihood as the same BIGINT sum, picks the stop round
    with the same first-nonimproving-delta rule, and emits that round's
    EM table plus `rounds_run`/`ll_delta_units` — so it is
    scale-independent (the pytest gate's sf0.001 corpus goes stationary
    at THREE rounds, the driver gate's sf0.01 at FOUR; both hash-match
    this one SQL) and an engine stopping early/late/nonzero hash-fails
    at any scale (operators/unigram.py:unigram_em_converged; k_max=5
    bounds the oracle's rounds, the operator takes any k_max)."""
    from covid_data_challenge_spark.operators.unigram import unigram_em_converged

    return unigram_em_converged(_docs(spark, sf_dir), tol=0, k_max=5)


@register("unigram_lm_incremental", oracle=_unigram_oracle_sql(tail="incr"))
def q_unigram_lm_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SentencePiece trainer's batch-vs-history leg (VERDICT r11
    next-round #1): ONE hard-EM round over history ∪ batch that touches
    only the NEW batch (doc_id % 5 = 0). History's EM state — the
    round-2 vocabulary scores and the history Viterbi usage under them
    — is published once as an mtime-tagged parameter gold
    (operators/lm_incremental.py:unigram_gold_dir); the serve leg
    segments only the BATCH word dictionary under those fixed scores
    (batch-new single chars enter at the smoothed ln(1/vt1) floor),
    ADDS the published history usage (Viterbi usage under fixed scores
    is additive over word instances — the DP of a word depends only on
    the word and the score table), and M-step re-scores the merged
    counts.

    The oracle is the non-incremental twin: it trains the same round-2
    vocabulary on history, then runs the E-step over the FULL merged
    dictionary under the same warm vocabulary — value-equal because no
    batch word's DP can differ under fixed scores and the added floor
    singles never occur inside history words. The hash gate therefore
    proves the usage-additivity argument exactly.

    Scale shape: the E-step DP is bounded by the BATCH dictionary
    (Heaps-law sized), the merge by the vocabulary (all singles + 64
    multis); history is never re-segmented."""
    from covid_data_challenge_spark.operators.lm_incremental import (
        unigram_incremental,
    )

    docs = _docs(spark, sf_dir)
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return unigram_incremental(spark, sf_dir, hist, batch)


# ---------------------------------------------------------------------------
# Round 6: retrieval evaluation harness — nDCG@10 / MRR@10 / P@10 for
# the two lexical rankers against a graded pseudo-relevance standard
# (relevance = distinct query terms matched − 1, gains 0/1/3). Completes
# the retrieval story: build (inverted index), serve (bm25/QL/RRF),
# EVALUATE.
# ---------------------------------------------------------------------------

import math as _math

#: DCG position discounts 1/log2(i+1), i = 1..10 — Python-computed
#: double literals embedded identically in both engines.
_DCG_W = tuple(1.0 / _math.log2(i + 1) for i in range(1, 11))


def _retrieval_eval_oracle() -> str:
    from covid_data_challenge_spark.functions.pmath import portable_ln_sql_stages

    ql_stage, ql_final = portable_ln_sql_stages(
        {
            "l_ql": (
                "((CAST(tf AS DOUBLE) + (100.0 * (CAST(cf AS DOUBLE) / CAST(ctot AS DOUBLE))))"
                " / (CAST(dl AS DOUBLE) + 100.0))"
            )
        }
    )
    # per-rank DCG term: floor(1e9 · gain · w_rank)
    w_case = (
        "CASE rank "
        + " ".join(
            f"WHEN {i + 1} THEN CAST({w!r} AS DOUBLE)"
            for i, w in enumerate(_DCG_W)
        )
        + " END"
    )
    # ideal gains: c3 threes, then c1 ones, cut at 10
    idcg_terms = " + ".join(
        f"CAST(floor(1000000000.0 * CAST((CASE WHEN {i} <= c3 THEN 3 "
        f"WHEN {i} <= c3 + c1 THEN 1 ELSE 0 END) AS DOUBLE) "
        f"* CAST({w!r} AS DOUBLE)) AS BIGINT)"
        for i, w in enumerate(_DCG_W, start=1)
    )

    def ranked(name: str, order: str) -> str:
        return f"""{name} AS (
    SELECT doc_id, CAST(row_number() OVER (ORDER BY {order}) AS INT) AS rank
    FROM scored ORDER BY {order} LIMIT 10
)"""

    def metrics(name: str, label: str) -> str:
        return f"""
SELECT '{label}' AS ranker,
       (SELECT CAST(count(*) AS BIGINT) FROM scored) AS n_candidates,
       round(CAST(sum(CAST(floor(1000000000.0 * CAST(g.gain AS DOUBLE) * ({w_case})) AS BIGINT))
                  AS DOUBLE) / 1000000000.0, 6) AS dcg_at_10,
       CASE WHEN (SELECT idcg_units FROM idcg) > 0
            THEN round(CAST(sum(CAST(floor(1000000000.0 * CAST(g.gain AS DOUBLE) * ({w_case}))
                                AS BIGINT)) AS DOUBLE)
                       / CAST((SELECT idcg_units FROM idcg) AS DOUBLE), 6)
            ELSE 0.0 END AS ndcg_at_10,
       round(coalesce(1.0 / CAST(min(CASE WHEN g.gain > 0 THEN rank END)
                                 AS DOUBLE), 0.0), 6) AS mrr_at_10,
       CAST(sum(CASE WHEN g.gain > 0 THEN 1 ELSE 0 END) AS DOUBLE) / 10.0
           AS precision_at_10
FROM {name} r JOIN gains g USING (doc_id)
"""

    return f"""
WITH docs AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
dl AS (SELECT doc_id, len(w) AS dl FROM docs),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
inst AS (SELECT doc_id, unnest(w) AS term FROM docs),
ctot AS (SELECT CAST(count(*) AS BIGINT) AS ctot FROM inst),
cf AS (
    SELECT term, CAST(count(*) AS BIGINT) AS cf FROM inst
    WHERE term IN ('spark', 'vector', 'stream') GROUP BY 1
),
tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM inst
    WHERE term IN ('spark', 'vector', 'stream') GROUP BY 1, 2
),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
gains AS (
    SELECT doc_id,
           CASE count(DISTINCT term) - 1 WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END
               AS gain
    FROM tf GROUP BY doc_id
),
cand AS (SELECT DISTINCT doc_id FROM tf),
bm AS (
    SELECT tf.doc_id,
           round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * ({_BM25_K1} + 1)
               / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
           ), 6) AS s_bm25
    FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY 1
),
qgrid AS (
    SELECT c.doc_id, q.term, coalesce(t.tf, 0) AS tf, dl.dl, cf.cf, ctot.ctot
    FROM cand c
    CROSS JOIN (SELECT unnest(['spark', 'vector', 'stream']) AS term) q
    LEFT JOIN tf t ON c.doc_id = t.doc_id AND q.term = t.term
    JOIN dl ON c.doc_id = dl.doc_id
    JOIN cf ON q.term = cf.term
    CROSS JOIN ctot
),
qstaged AS (SELECT doc_id, {ql_stage} FROM qgrid),
qlns AS (SELECT doc_id, {ql_final} FROM qstaged),
ql AS (
    SELECT doc_id,
           CAST(sum(CAST(floor(1000000.0 * l_ql) AS BIGINT)) AS BIGINT) AS s_ql_units
    FROM qlns GROUP BY 1
),
scored AS (SELECT b.doc_id, b.s_bm25, q.s_ql_units FROM bm b JOIN ql q USING (doc_id)),
idcg AS (
    SELECT {idcg_terms} AS idcg_units
    FROM (
        SELECT CAST(sum(CASE WHEN gain = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
               CAST(sum(CASE WHEN gain = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        FROM gains
    )
),
{ranked("top_bm", "s_bm25 DESC, doc_id")},
{ranked("top_ql", "s_ql_units DESC, doc_id")}
{metrics("top_bm", "bm25")}
UNION ALL
{metrics("top_ql", "query_likelihood")}
"""


@register("retrieval_eval_report", oracle=_retrieval_eval_oracle())
def q_retrieval_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation harness for the fixed 3-term query: graded
    pseudo-relevance (distinct query terms matched − 1 → gains 0/1/3),
    and per ranker (BM25, Dirichlet query likelihood) the standard IR
    metrics — DCG@10/nDCG@10 with 1/log2(i+1) discounts, MRR@10, P@10.
    The eval half every retrieval stack needs next to its serving path;
    at scale the pseudo-relevance table is replaced by a labeled qrels
    gold table and nothing else changes.

    Determinism: gains are integers; each DCG term quantizes
    gain·w_rank to integer 1e-9 units BEFORE summation (w_rank are
    Python-computed double literals embedded identically in both
    engines); the ideal DCG is a closed form over the gain-level counts
    (c₃ threes then c₁ ones, cut at 10); nDCG divides two exact
    integers. Rankings reuse the hybrid_rrf ranking keys (rounded BM25,
    micro-nat QL units) so rank order is engine-identical; the top-10
    window sits above a GlobalLimit, bounded by construction."""
    from pyspark.sql import Window

    from covid_data_challenge_spark.functions.pmath import portable_ln

    docs = _docs(spark, sf_dir).select("doc_id", tokens(F.col("text")).alias("w"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(F.size("w")).alias("avgdl")
    )
    inst = docs.select("doc_id", F.size("w").alias("dl"), F.explode("w").alias("term"))
    ctot = inst.agg(F.count(F.lit(1)).cast("long").alias("ctot"))
    qinst = inst.filter(F.col("term").isin(*_BM25_TERMS))
    cf = qinst.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("cf"))
    tf = qinst.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf"), F.max("dl").alias("dl")
    ).localCheckpoint(eager=True)
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    gains = tf.groupBy("doc_id").agg(
        F.when(F.countDistinct("term") - 1 == 2, 3)
        .when(F.countDistinct("term") - 1 == 1, 1)
        .otherwise(0)
        .alias("gain")
    )

    k1, b = _BM25_K1, _BM25_B
    idf = F.log(
        F.lit(1)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    w_td = (
        F.col("tf")
        * F.lit(k1 + 1)
        / (F.col("tf") + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")))
    )
    bm = (
        tf.join(F.broadcast(dfq), "term")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * w_td), 6).alias("s_bm25"))
    )
    cand = tf.select("doc_id", "dl").dropDuplicates(["doc_id"])
    terms = spark.createDataFrame([(t,) for t in _BM25_TERMS], "term string")
    qgrid = (
        cand.join(F.broadcast(terms))
        .join(tf.select("doc_id", "term", "tf"), ["doc_id", "term"], "left")
        .join(F.broadcast(cf), "term")
        .join(F.broadcast(ctot))
        .select("doc_id", F.coalesce(F.col("tf"), F.lit(0)).alias("tf"), "dl", "cf", "ctot")
    )
    l_ql = portable_ln(
        (
            F.col("tf").cast("double")
            + (F.lit(100.0) * (F.col("cf").cast("double") / F.col("ctot").cast("double")))
        )
        / (F.col("dl").cast("double") + F.lit(100.0))
    )
    ql = (
        qgrid.select("doc_id", F.floor(F.lit(1000000.0) * l_ql).cast("long").alias("__u"))
        .groupBy("doc_id")
        .agg(F.sum("__u").cast("long").alias("s_ql_units"))
    )
    scored = bm.join(ql, "doc_id").localCheckpoint(eager=True)
    n_cand = scored.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    lvl = gains.agg(
        F.sum(F.when(F.col("gain") == 3, 1).otherwise(0)).cast("long").alias("c3"),
        F.sum(F.when(F.col("gain") == 1, 1).otherwise(0)).cast("long").alias("c1"),
    )
    ideal_g = [
        F.when(F.lit(i) <= F.col("c3"), 3)
        .when(F.lit(i) <= F.col("c3") + F.col("c1"), 1)
        .otherwise(0)
        for i in range(1, 11)
    ]
    idcg = lvl.select(
        sum(
            (
                F.floor(F.lit(1000000000.0) * g.cast("double") * F.lit(w)).cast("long")
                for g, w in zip(ideal_g, _DCG_W)
            ),
            F.lit(0).cast("long"),
        ).alias("idcg_units")
    )
    w_rank = F.element_at(F.array(*[F.lit(w) for w in _DCG_W]), F.col("rank"))

    def metrics(order_cols, label: str) -> DataFrame:
        top = scored.orderBy(*order_cols).limit(10)
        ranked = top.withColumn(
            "rank", F.row_number().over(Window.orderBy(*order_cols)).cast("int")
        ).join(gains, "doc_id")
        term_u = F.floor(
            F.lit(1000000000.0) * F.col("gain").cast("double") * w_rank
        ).cast("long")
        return (
            ranked.agg(
                F.lit(label).alias("ranker"),
                F.sum(term_u).cast("long").alias("__dcg_units"),
                F.min(F.when(F.col("gain") > 0, F.col("rank"))).alias("__first"),
                F.sum(F.when(F.col("gain") > 0, 1).otherwise(0)).alias("__nrel"),
            )
            .join(F.broadcast(n_cand))
            .join(F.broadcast(idcg))
            .select(
                "ranker",
                "n_candidates",
                F.round(
                    F.col("__dcg_units").cast("double") / F.lit(1000000000.0), 6
                ).alias("dcg_at_10"),
                F.when(
                    F.col("idcg_units") > 0,
                    F.round(
                        F.col("__dcg_units").cast("double")
                        / F.col("idcg_units").cast("double"),
                        6,
                    ),
                )
                .otherwise(F.lit(0.0))
                .alias("ndcg_at_10"),
                F.round(
                    F.coalesce(
                        F.lit(1.0) / F.col("__first").cast("double"), F.lit(0.0)
                    ),
                    6,
                ).alias("mrr_at_10"),
                (F.col("__nrel").cast("double") / F.lit(10.0)).alias(
                    "precision_at_10"
                ),
            )
        )

    bm_m = metrics([F.col("s_bm25").desc(), F.col("doc_id")], "bm25")
    ql_m = metrics([F.col("s_ql_units").desc(), F.col("doc_id")], "query_likelihood")
    return bm_m.unionByName(ql_m)


# ---------------------------------------------------------------------------
# Round 7: HyperLogLog distinct-token sketch — completes the engine's
# sketch family (count-min heavy hitters, Bloom decontamination, MinHash
# signatures ship already; HLL is the cardinality member). Flajolet et
# al. 2007, with the standard small-range correction.
# ---------------------------------------------------------------------------

#: HLL precision: p = 10 → m = 1024 registers; the 60-bit md5-derived
#: hash splits top-10 (register index) / low-50 (rank field, q = 50).
_HLL_P = 10
_HLL_M = 1 << _HLL_P
_HLL_Q = 60 - _HLL_P
#: bias constant alpha_m for m = 1024 and the numerator alpha·m²·2^q —
#: Python-computed double literals embedded identically in both engines.
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)
_HLL_NUM = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << (_HLL_Q + 1))


def hll_rho_cols(word_col: str = "w") -> tuple["F.Column", "F.Column"]:
    """(register index, rank) expressions over a token column — the
    shared map-side half of every HLL query (batch, merge, streaming):
    top-60 md5 bits split p=10 index / q=50 rank field."""
    h = F.conv(F.substring(F.md5(word_col), 1, 15), 16, 10).cast("long")
    low = h.bitwiseAND(F.lit((1 << _HLL_Q) - 1))
    rho = F.when(low == 0, F.lit(_HLL_Q + 1)).otherwise(
        F.lit(_HLL_Q + 1) - F.length(F.bin(low))
    )
    return F.shiftright(h, _HLL_Q).alias("idx"), rho.alias("rho")


def hll_estimate_from_regs(regs: "DataFrame") -> "DataFrame":
    """(source, e): the HLL estimate from a (source, idx, mj) register
    table — integer harmonic denominator, let-bound linear-counting
    branch; shared by the batch, merge, and streaming queries."""
    from covid_data_challenge_spark.functions.pmath import portable_ln_let

    per = regs.groupBy("source").agg(
        (F.lit(_HLL_M) - F.count(F.lit(1))).cast("long").alias("v_zero"),
        F.sum(
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.lit(_HLL_Q + 1) - F.col("mj")).cast("int"),
            )
        )
        .cast("long")
        .alias("s_present"),
    )
    e_raw = F.lit(_HLL_NUM) / (
        F.col("v_zero") * F.lit(1 << (_HLL_Q + 1)) + F.col("s_present")
    ).cast("double")
    return per.select(
        "source",
        "v_zero",
        F.when(
            (e_raw <= F.lit(2.5 * _HLL_M)) & (F.col("v_zero") > 0),
            F.lit(float(_HLL_M))
            * portable_ln_let(
                F.lit(float(_HLL_M))
                / F.greatest(F.col("v_zero"), F.lit(1)).cast("double")
            ),
        )
        .otherwise(e_raw)
        .alias("e"),
    )


def _hll_oracle() -> str:
    from covid_data_challenge_spark.functions.pmath import portable_ln_sql_stages

    ln_stage, ln_final = portable_ln_sql_stages(
        {"l_mv": f"({_HLL_M}.0 / CAST(greatest(v_zero, 1) AS DOUBLE))"}
    )
    return f"""
WITH tok AS (
    SELECT DISTINCT source, unnest(string_split({_NORM}, ' ')) AS w
    FROM documents
),
hashed AS (
    SELECT source, w,
           CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
    FROM tok
),
ranked AS (
    SELECT source,
           h >> {_HLL_Q} AS idx,
           CASE WHEN (h & {(1 << _HLL_Q) - 1}) = 0 THEN {_HLL_Q + 1}
                ELSE {_HLL_Q + 1} - length(bin(h & {(1 << _HLL_Q) - 1}))
           END AS rho
    FROM hashed
),
regs AS (
    SELECT source, idx, CAST(max(rho) AS BIGINT) AS mj
    FROM ranked GROUP BY 1, 2
),
per_src AS (
    SELECT source,
           CAST({_HLL_M} - count(*) AS BIGINT) AS v_zero,
           CAST(sum(CAST(1 AS BIGINT) << CAST({_HLL_Q + 1} - mj AS INT))
                AS BIGINT) AS s_present
    FROM regs GROUP BY 1
),
raw AS (
    SELECT source, v_zero,
           CAST({_HLL_NUM!r} AS DOUBLE)
             / CAST(v_zero * (CAST(1 AS BIGINT) << {_HLL_Q + 1}) + s_present
                    AS DOUBLE) AS e_raw
    FROM per_src
),
stg AS (SELECT source, v_zero, e_raw, {ln_stage} FROM raw),
lns AS (SELECT source, v_zero, e_raw, {ln_final} FROM stg),
est AS (
    SELECT source, v_zero,
           CASE WHEN e_raw <= {2.5 * _HLL_M!r} AND v_zero > 0
                THEN {_HLL_M}.0 * l_mv ELSE e_raw END AS e
    FROM lns
),
exact AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM tok GROUP BY 1
)
SELECT x.source, x.n_exact,
       round(e.e, 2) AS hll_estimate,
       round((e.e - CAST(x.n_exact AS DOUBLE)) / CAST(x.n_exact AS DOUBLE), 4)
           AS rel_error,
       e.v_zero AS n_zero_registers
FROM exact x JOIN est e USING (source)
"""


@register("hll_distinct_tokens", oracle=_hll_oracle())
def q_hll_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-token cardinality by HyperLogLog (Flajolet
    2007, p=10 → 1024 registers, small-range linear-counting
    correction), reported beside the exact count with the relative
    error — the sketch a 100 TB vocabulary census actually runs (the
    register table is 1024 rows per source and MERGES across
    partitions/days by max, where countDistinct must re-shuffle every
    token). Completes the engine's sketch family: count-min (heavy
    hitters), Bloom (decontamination), MinHash (similarity), HLL
    (cardinality).

    Bit-exactness: the hash is the top 60 bits of md5 (identical
    engines-wide), register ranks are integers, the harmonic-mean
    denominator is assembled in INTEGER units (V·2^{q+1} + Σ 2^{q+1−Mj}
    — every term an exact power of two, order-free BIGINT sum), and the
    only doubles are one literal/denominator division plus the
    portable-ln linear-counting branch — let-bound, it sits inside a
    CASE (the r7 codegen lesson). Exact counts come from the same
    distinct frame, so rel_error is hash-stable too.

    Scale shape: one distinct over (source, token) — shared shape with
    the OOV/Zipf family — then a 1024-register-per-source aggregate;
    everything after is per-source scalars. The sketch side never
    touches the corpus again; on a real cluster the register table is
    the persisted gold artifact and new batches merge map-side."""
    from covid_data_challenge_spark.functions.text import tokens

    docs = _docs(spark, sf_dir)
    tok = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("w"))
        .distinct()
        # feeds BOTH the register build and the exact count — one shuffle
        .localCheckpoint(eager=True)
    )
    idx, rho = hll_rho_cols("w")
    regs = (
        tok.select("source", idx, rho)
        .groupBy("source", "idx")
        .agg(F.max("rho").cast("long").alias("mj"))
    )
    est = hll_estimate_from_regs(regs)
    exact = tok.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    return exact.join(est, "source").select(
        "source",
        "n_exact",
        F.round(F.col("e"), 2).alias("hll_estimate"),
        F.round(
            (F.col("e") - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double"),
            4,
        ).alias("rel_error"),
        F.col("v_zero").alias("n_zero_registers"),
    )


#: HLL++ sparse mode (Heule, Nunkesser & Hall 2013 §5.3): below the
#: upgrade threshold a source's sketch is the sorted list of DISTINCT
#: high-precision hash prefixes (p' = 25), estimated by LINEAR COUNTING
#: over m' = 2^25 — near-exact for small cardinalities AND smaller than
#: 1024 dense rows. T ≈ m/4 entries is where the sparse list stops
#: being cheaper than the dense array (HLL++'s 6·m-bit budget at ~32
#: bits per sparse entry).
_HLL_SP_P = 25
_HLL_SP_M = 1 << _HLL_SP_P
_HLL_SPARSE_T = 192


def hll_sparse_entries(tok: "DataFrame") -> "DataFrame":
    """(source, idx25, rho): the sparse representation — one row per
    distinct p'=25 prefix of the same 60-bit md5 hash the dense
    registers use, carrying the max dense-precision rank alongside
    (HLL++'s encoded pair). That makes the upgrade LOSSLESS by
    construction: dense registers are exactly (idx = idx25 >> 15,
    mj = max rho) — no rehash, no rank approximation — which the
    boundary-crossing pytest pins against registers built directly.
    Shared by the batch query and the merge/upgrade pytest."""
    h = F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")
    idx, rho = hll_rho_cols("w")
    return (
        tok.select("source", F.shiftright(h, 60 - _HLL_SP_P).alias("idx25"), rho)
        .groupBy("source", "idx25")
        .agg(F.max("rho").cast("long").alias("rho"))
    )


def _hll_sparse_oracle() -> str:
    from covid_data_challenge_spark.functions.pmath import portable_ln_sql_stages

    lc_stage, lc_final = portable_ln_sql_stages(
        {
            "l_sp": (
                f"(CAST({_HLL_SP_M} AS DOUBLE)"
                f" / CAST({_HLL_SP_M} - nnz AS DOUBLE))"
            ),
            "l_mv": f"({_HLL_M}.0 / CAST(greatest(v_zero, 1) AS DOUBLE))",
        }
    )
    return f"""
WITH ws AS (
    SELECT source, string_split({_NORM}, ' ') AS w FROM documents
),
tok AS (
    SELECT DISTINCT source || '|token' AS source, t.u AS w
    FROM ws, LATERAL (SELECT unnest(w) AS u) t
    UNION
    SELECT DISTINCT source || '|bigram' AS source,
           w[CAST(t.i AS INT)] || ' ' || w[CAST(t.i + 1 AS INT)] AS w
    FROM ws, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
),
hashed AS (
    SELECT source, w,
           CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
    FROM tok
),
sparse AS (
    SELECT source,
           CAST(count(DISTINCT h >> {60 - _HLL_SP_P}) AS BIGINT) AS nnz
    FROM hashed GROUP BY 1
),
ranked AS (
    SELECT source,
           h >> {_HLL_Q} AS idx,
           CASE WHEN (h & {(1 << _HLL_Q) - 1}) = 0 THEN {_HLL_Q + 1}
                ELSE {_HLL_Q + 1} - length(bin(h & {(1 << _HLL_Q) - 1}))
           END AS rho
    FROM hashed
),
regs AS (
    SELECT source, idx, CAST(max(rho) AS BIGINT) AS mj
    FROM ranked GROUP BY 1, 2
),
per_src AS (
    SELECT source,
           CAST({_HLL_M} - count(*) AS BIGINT) AS v_zero,
           CAST(sum(CAST(1 AS BIGINT) << CAST({_HLL_Q + 1} - mj AS INT))
                AS BIGINT) AS s_present
    FROM regs GROUP BY 1
),
raw AS (
    SELECT p.source, s.nnz, p.v_zero,
           CAST({_HLL_NUM!r} AS DOUBLE)
             / CAST(p.v_zero * (CAST(1 AS BIGINT) << {_HLL_Q + 1}) + p.s_present
                    AS DOUBLE) AS e_raw
    FROM per_src p JOIN sparse s USING (source)
),
stg AS (SELECT source, nnz, v_zero, e_raw, {lc_stage} FROM raw),
lns AS (SELECT source, nnz, v_zero, e_raw, {lc_final} FROM stg),
est AS (
    SELECT source, nnz,
           CASE WHEN nnz <= {_HLL_SPARSE_T} THEN 'sparse' ELSE 'dense' END AS mode,
           CASE WHEN nnz <= {_HLL_SPARSE_T} THEN nnz
                ELSE CAST({_HLL_M} AS BIGINT) END AS stored_entries,
           CASE WHEN nnz <= {_HLL_SPARSE_T}
                THEN CAST({_HLL_SP_M} AS DOUBLE) * l_sp
                WHEN e_raw <= {2.5 * _HLL_M!r} AND v_zero > 0
                THEN {_HLL_M}.0 * l_mv
                ELSE e_raw END AS e
    FROM lns
),
exact AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM tok GROUP BY 1
)
SELECT split_part(x.source, '|', 1) AS source,
       split_part(x.source, '|', 2) AS gram,
       e.mode, e.stored_entries, x.n_exact,
       round(e.e, 2) AS hll_estimate,
       round((e.e - CAST(x.n_exact AS DOUBLE)) / CAST(x.n_exact AS DOUBLE), 4)
           AS rel_error
FROM exact x JOIN est e USING (source)
"""


@register("hll_sparse_distinct", oracle=_hll_sparse_oracle())
def q_hll_sparse_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ SPARSE mode (r8 — VERDICT r7 next-round #8; Heule et al.
    2013 §5.3): a sketch whose sparse list of distinct p'=25 hash
    prefixes fits under T=192 entries keeps the LIST as its
    representation — fewer rows than the 1024 dense registers AND
    near-exact (linear counting over m'=2^25) — and upgrades to the
    dense p=10 register array only past the threshold, where the list
    would out-weigh the registers. Sketched at TWO granularities per
    source so the fixture corpus exercises both modes: the token
    vocabulary (tiny → every sketch stays sparse and exact) and the
    bigram vocabulary (combinatorial, ~700/source → every sketch
    upgrades to dense registers with a few-percent estimate). Per
    (source, gram): the chosen mode, the rows the gold table would
    actually store, and the mode's estimate beside the exact count.
    Composes with hll_register_merge: sparse lists merge by
    DISTINCT-union and upgrade when the merged size crosses T (the
    boundary-crossing pytest in test_operators).

    Bit-exactness: nnz is an integer; linear counting's ln argument is
    one exact IEEE division of ≤2^25 integers through the let-bound
    portable ln (CASE branch — the r7 codegen lesson); the dense branch
    is hll_distinct_tokens' integer-denominator math unchanged."""
    from covid_data_challenge_spark.functions.pmath import portable_ln_let
    from covid_data_challenge_spark.functions.text import tokens

    docs = _docs(spark, sf_dir)
    # bind the split ONCE: the transform lambda reads the token array
    # four times (size twice, element_at twice per element) — left as a
    # raw tokens(text) subtree each read re-runs normalize+split PER
    # ELEMENT (the r7 generator-re-evaluation trap; measured 9.5→3.1 s
    # at sf0.1 for the bigram stage)
    base = docs.select("source", tokens(F.col("text")).alias("__ws"))
    ws = F.col("__ws")
    bigrams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.concat(
                F.element_at(ws, i), F.lit(" "), F.element_at(ws, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tok = (
        base.select(
            F.concat(F.col("source"), F.lit("|token")).alias("source"),
            F.explode(ws).alias("w"),
        )
        .unionByName(
            base.select(
                F.concat(F.col("source"), F.lit("|bigram")).alias("source"),
                F.explode(bigrams).alias("w"),
            )
        )
        .distinct()
        # feeds the sparse list, the dense registers, and the exact
        # count — one shuffle
        .localCheckpoint(eager=True)
    )
    nnz = (
        hll_sparse_entries(tok)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("nnz"))
    )
    idx, rho = hll_rho_cols("w")
    regs = (
        tok.select("source", idx, rho)
        .groupBy("source", "idx")
        .agg(F.max("rho").cast("long").alias("mj"))
    )
    dense = hll_estimate_from_regs(regs)
    exact = tok.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    is_sparse = F.col("nnz") <= _HLL_SPARSE_T
    lc = F.lit(float(_HLL_SP_M)) * portable_ln_let(
        F.lit(float(_HLL_SP_M)) / (F.lit(_HLL_SP_M) - F.col("nnz")).cast("double")
    )
    e = F.when(is_sparse, lc).otherwise(F.col("e"))
    return (
        exact.join(nnz, "source")
        .join(dense, "source")
        .select(
            F.split_part(F.col("source"), F.lit("|"), F.lit(1)).alias("source"),
            F.split_part(F.col("source"), F.lit("|"), F.lit(2)).alias("gram"),
            F.when(is_sparse, F.lit("sparse")).otherwise(F.lit("dense")).alias("mode"),
            F.when(is_sparse, F.col("nnz"))
            .otherwise(F.lit(_HLL_M))
            .cast("long")
            .alias("stored_entries"),
            "n_exact",
            F.round(e, 2).alias("hll_estimate"),
            F.round(
                (e - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double"),
                4,
            ).alias("rel_error"),
        )
    )


def _hll_merge_oracle() -> str:
    """DuckDB twin of the register-merge query: history/batch registers
    built independently, merged by elementwise max, and the merged
    estimate compared against the full-corpus registers' estimate."""

    def reg_block(tag: str, where: str) -> str:
        return f"""tok_{tag} AS (
    SELECT DISTINCT source, unnest(string_split({_NORM}, ' ')) AS w
    FROM documents {where}
),
ranked_{tag} AS (
    SELECT source,
           h >> {_HLL_Q} AS idx,
           CASE WHEN (h & {(1 << _HLL_Q) - 1}) = 0 THEN {_HLL_Q + 1}
                ELSE {_HLL_Q + 1} - length(bin(h & {(1 << _HLL_Q) - 1}))
           END AS rho
    FROM (SELECT source, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
          FROM tok_{tag})
),
regs_{tag} AS (
    SELECT source, idx, CAST(max(rho) AS BIGINT) AS mj
    FROM ranked_{tag} GROUP BY 1, 2
)"""

    def est_block(tag: str, regs: str) -> str:
        return f"""per_{tag} AS (
    SELECT source,
           CAST({_HLL_M} - count(*) AS BIGINT) AS v_zero,
           CAST(sum(CAST(1 AS BIGINT) << CAST({_HLL_Q + 1} - mj AS INT))
                AS BIGINT) AS s_present
    FROM {regs} GROUP BY 1
),
raw_{tag} AS (
    SELECT source, v_zero,
           CAST({_HLL_NUM!r} AS DOUBLE)
             / CAST(v_zero * (CAST(1 AS BIGINT) << {_HLL_Q + 1}) + s_present
                    AS DOUBLE) AS e_raw
    FROM per_{tag}
),
stg_{tag} AS (SELECT source, v_zero, e_raw, {{st}} FROM raw_{tag}),
lns_{tag} AS (SELECT source, v_zero, e_raw, {{fin}} FROM stg_{tag}),
est_{tag} AS (
    SELECT source,
           CASE WHEN e_raw <= {2.5 * _HLL_M!r} AND v_zero > 0
                THEN {_HLL_M}.0 * l_mv ELSE e_raw END AS e
    FROM lns_{tag}
)"""

    from covid_data_challenge_spark.functions.pmath import portable_ln_sql_stages

    st, fin = portable_ln_sql_stages(
        {"l_mv": f"({_HLL_M}.0 / CAST(greatest(v_zero, 1) AS DOUBLE))"}
    )
    return f"""
WITH {reg_block("hist", "WHERE doc_id % 5 <> 0")},
{reg_block("batch", "WHERE doc_id % 5 = 0")},
{reg_block("full", "")},
merged AS (
    SELECT source, idx, CAST(max(mj) AS BIGINT) AS mj
    FROM (SELECT * FROM regs_hist UNION ALL SELECT * FROM regs_batch)
    GROUP BY 1, 2
),
{est_block("m", "merged").format(st=st, fin=fin)},
{est_block("f", "regs_full").format(st=st, fin=fin)}
SELECT m.source,
       round(m.e, 2) AS merged_estimate,
       round(f.e, 2) AS full_estimate,
       round(m.e, 2) = round(f.e, 2) AS merge_exact
FROM est_m m JOIN est_f f USING (source)
"""


@register("hll_register_merge", oracle=_hll_merge_oracle())
def q_hll_register_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes HLL the 100 TB cardinality sketch:
    registers MERGE by elementwise max. History (doc_id % 5 ≠ 0) and a
    new batch (doc_id % 5 = 0) build their register tables
    independently — in production, the history side is a persisted
    1024-rows-per-source gold table that is never rebuilt — and the
    merged estimate must equal the full-corpus estimate EXACTLY (max is
    associative/commutative/idempotent over the same hash function; the
    query reports the equality per source and the oracle hash-checks
    both numbers). This is the incremental-batch twin of
    incremental_batch_dedup for cardinality: per batch, one scan of the
    NEW data + a 1024-row merge, never a re-shuffle of history.

    Same bit-exactness discipline as hll_distinct_tokens (integer
    registers, integer harmonic denominator, let-bound portable-ln
    linear-counting branch)."""
    from covid_data_challenge_spark.functions.text import tokens

    docs = _docs(spark, sf_dir)

    def regs_of(part: DataFrame) -> DataFrame:
        tok = part.select(
            "source", F.explode(tokens(F.col("text"))).alias("w")
        ).distinct()
        idx, rho = hll_rho_cols("w")
        return (
            tok.select("source", idx, rho)
            .groupBy("source", "idx")
            .agg(F.max("rho").cast("long").alias("mj"))
        )

    def estimate(regs: DataFrame) -> DataFrame:
        return hll_estimate_from_regs(regs).select("source", "e")

    hist = regs_of(docs.filter(F.col("doc_id") % 5 != 0))
    batch = regs_of(docs.filter(F.col("doc_id") % 5 == 0))
    merged = (
        hist.unionByName(batch)
        .groupBy("source", "idx")
        .agg(F.max("mj").cast("long").alias("mj"))
    )
    full = regs_of(docs)
    em = estimate(merged).withColumnRenamed("e", "em")
    ef = estimate(full).withColumnRenamed("e", "ef")
    return em.join(ef, "source").select(
        "source",
        F.round(F.col("em"), 2).alias("merged_estimate"),
        F.round(F.col("ef"), 2).alias("full_estimate"),
        (F.round(F.col("em"), 2) == F.round(F.col("ef"), 2)).alias("merge_exact"),
    )
