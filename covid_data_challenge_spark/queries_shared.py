"""Shared helper namespace for the themed query modules.

DuckDB oracle fragments (portable-math stages, vector/cosine twins,
unrolled-CTE builders), table loaders, and the cross-theme constants
that more than one themed module needs. Single-theme helpers live with
their theme; everything here is used by two or more modules (or by
another shared helper).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from covid_data_challenge_spark.functions.text import (
    PII_EMAIL_RE,
    PII_PHONE_RE,
    bpe_pretoken_count,
    fingerprint,
    lang_hits,
    normalize_text,
    pii_match_count,
    quality_score,
    redact_pii,
    token_count,
    tokens,
)
from covid_data_challenge_spark.operators.chunking import (
    chunk_tokens,
    chunking_oracle_sql,
)
from covid_data_challenge_spark.operators.sampling import (
    mixture_oracle_sql,
    mixture_sample,
    shuffle_shards,
    shuffle_shards_oracle_sql,
)
from covid_data_challenge_spark.operators.dedup import (
    bloom_decontaminate,
    containment_pairs,
    decontamination_overlap,
    dedup_exact_keep_first,
    exact_dedup_stats,
    hot_shingles,
    jaccard_pairs,
    minhash_lsh_pairs,
    passage_dedup,
    simhash,
    simhash_md5,
    simhash_md5_sql,
    simhash_neardup_pairs,
    word_shingle_expr,
)
from covid_data_challenge_spark.operators.semdedup import semdedup_prune
from covid_data_challenge_spark.operators.components import (
    cluster_assignments,
    dedup_keep_canonical,
)
from covid_data_challenge_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    synth_media_table,
)
from covid_data_challenge_spark.operators.alignment import asof_join, latest_per_key
from covid_data_challenge_spark.operators.sessions import (
    sessionize,
    sliding_agg,
    tumbling_agg,
)
from covid_data_challenge_spark.operators.packing import (
    pack_greedy,
    packing_oracle_sql,
    packing_stats,
)
from covid_data_challenge_spark.operators.splits import assign_split, split_sql_case
from covid_data_challenge_spark.operators.timeseries import gapfill_interpolate
from covid_data_challenge_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_neardup_pairs,
    cosine_neardup_pairs_lsh,
    cosine_topk,
)
from covid_data_challenge_spark.registry import register
from covid_data_challenge_spark.sources.readers import load_table, table_memo
from covid_data_challenge_spark.operators.sampling import md5_unit_fraction_sql
from covid_data_challenge_spark.operators.bpe import (  # noqa: E402
    bpe_merge_oracle_sql,
    bpe_merge_table,
)
from covid_data_challenge_spark.functions.pmath import (  # noqa: E402
    portable_ln_sql_stages,
)
from covid_data_challenge_spark.operators.dsir import (  # noqa: E402
    DSIR_BUCKETS,
    DSIR_SALT,
    dsir_select,
)
from covid_data_challenge_spark.operators.bpe import (  # noqa: E402
    bpe_encode_oracle_sql,
    bpe_encode_stats,
)
from covid_data_challenge_spark.functions.pmath import portable_exp_sql
from covid_data_challenge_spark.operators.lr import (  # noqa: E402
    LR_BIAS,
    LR_BUCKETS,
    LR_ITERS,
    LR_RATE,
    LR_SALT,
    lr_features,
    lr_score,
    lr_train,
)


#: Normalized text in DuckDB SQL ('g' flag — DuckDB replaces first match
#: only by default, Spark replaces all).
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _docs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unwidened documents scan, for queries whose contract is an
    exchange-free map-side plan (doc_chunks, mixture_sample,
    pii_redaction, fim_transform, t5_span_corruption,
    gopher_quality_flags — plan-pinned in test_plans) and for final
    projections whose heavy lifting already ran eagerly
    (embedding_top_pcs). Everything else should use `_docs`."""
    return load_table(spark, sf_dir, "documents")


def _widened(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load_table``, repartitioned to ``defaultParallelism`` when its scan
    plans fewer partitions than that. Probing the planned partitions is an
    analysis and physical-planning pass, so the decision is made once per
    (file version, parallelism) and kept in the table's scan-catalog entry
    (``readers.table_memo``), which a rewritten file does not share."""
    df = load_table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    need = table_memo(
        spark, sf_dir, name, ("widen", target), lambda: df.rdd.getNumPartitions() < target
    )
    return df.repartition(target) if need else df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents, widened to the session's core count when the scan
    plans fewer partitions than cores (optimization guide §2.5 input
    skew: a one-row-group parquet file is unsplittable, so every stage
    fused onto its scan — tokenize/explode/md5/feature folds — would
    otherwise run on ONE task). No-op on realistically-sized inputs."""
    return _widened(spark, sf_dir, "documents")


def _emb_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unwidened embeddings scan — see `_docs_raw`."""
    return load_table(spark, sf_dir, "embeddings")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings, widened — see `_docs`."""
    return _widened(spark, sf_dir, "embeddings")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events, widened — see `_docs`."""
    return _widened(spark, sf_dir, "events")


_LANG_SQL_HITS = {
    "en": r"\b(the|and|of|to|in|is|that|with)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein)\b",
    "fr": r"\b(le|la|les|et|est|que|pour|dans)\b",
    "es": r"\b(el|la|los|que|es|para|con|una)\b",
}


#: DuckDB twin of functions.text.quality_score over ``documents``
#: (shared by quality_score and quality_percentile_filter).
_QUALITY_SQL = f"""
WITH t AS (
    SELECT doc_id, lang, text,
           len(string_split({_NORM}, ' ')) AS n_tok,
           len(regexp_extract_all(lower(text), '{_LANG_SQL_HITS["en"]}')) AS h_en,
           (len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g')))
               / greatest(len(text), 1) AS punct
    FROM documents
)
SELECT doc_id, lang,
       CAST(n_tok AS INT) AS n_tokens,
       round((least(n_tok / 100.0, 1.0)
            + least(h_en / greatest(n_tok, 1) * 5.0, 1.0)
            + (1.0 - least(punct * 10.0, 1.0))) / 3.0, 4) AS quality
FROM t
"""


#: Shared CTE block recomputing the n-gram Jaccard near-dup edge list in
#: DuckDB (same semantics as `ngram_jaccard_pairs`), for the clustering
#: oracles below. ``jaccard_edge_ctes(src)`` parameterizes the source
#: relation (r7: corpus_prep_recipe_v5 clusters the classifier-KEPT
#: subset, not the whole corpus).


def jaccard_edge_ctes(src: str = "documents") -> str:
    return f"""
docs AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM {src}),
sh AS MATERIALIZED (
    SELECT DISTINCT doc_id,
           w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS s
    FROM docs JOIN (SELECT CAST(unnest(range(1, 100000)) AS INT) AS i) idx
        ON i <= len(w) - 2
),
sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
freq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
cold AS MATERIALIZED (SELECT sh.doc_id, sh.s FROM sh JOIN freq USING (s) WHERE df <= 10),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM cold a JOIN cold b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS MATERIALIZED (
    SELECT doc_a, doc_b
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.2
),
edges AS (
    SELECT doc_a AS s, doc_b AS d FROM pairs
    UNION ALL SELECT doc_b, doc_a FROM pairs
),
walk(id, comp) AS (
    SELECT doc_id, doc_id FROM {src}
    UNION
    SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.id
),
assigned AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY id)
"""


_JACCARD_EDGE_CTES = jaccard_edge_ctes("documents")
