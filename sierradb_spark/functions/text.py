"""Text-analysis operators for training-data pipelines.

Token counting, quality scoring, heuristic language ID, and document
fingerprinting over the ``documents`` table — all built from JVM-side
``pyspark.sql.functions`` (split/filter/transform/md5), no Python UDFs:
at 100 TB these run inside whole-stage codegen with zero serialization.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sierradb_spark.registry import Registry, _shuffle_width, load
from sierradb_spark.functions.memo import register_memo

REG = Registry()

STOPWORDS = ("the", "a", "of", "and", "to", "in")

# Marker vocabularies for the n-gram language heuristic. With real
# corpora these would be per-language character n-gram profiles; the
# structure (score per language -> argmax with deterministic tiebreak)
# is the part that matters.
LANG_MARKERS = {
    "en": ("the", "a", "and", "of"),
    "de": ("der", "die", "und", "das"),
    "es": ("el", "la", "los", "y"),
    "fr": ("le", "la", "et", "les"),
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization with empty-string safety (both engines
    split '' into [''], so guard explicitly)."""
    return F.when(
        F.length(F.trim(text)) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(text), r"\s+"))


def token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text)).cast("long")


# Shared SQL fragment for the oracle side of tokenization.
_SQL_TOKS = (
    "CASE WHEN length(trim(text)) = 0 THEN [] "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END"
)


@REG.add(
    "text_token_stats",
    oracle=f"""
        SELECT doc_id,
               CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
               CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars_nospace,
               round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                     / nullif(len({_SQL_TOKS}), 0), 4) AS avg_token_len
        FROM documents
    """,
    headline=True,
    doc="Per-document token counts (whitespace tokenizer) — the unit primitive for "
    "length filtering and cost estimation in a training-data pipeline.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = token_count_col(F.col("text"))
    nchars = F.length(F.regexp_replace("text", " ", "")).cast("long")
    return d.select(
        "doc_id",
        toks.alias("n_tokens"),
        nchars.alias("n_chars_nospace"),
        F.round(nchars.cast("double") / F.nullif(toks, F.lit(0)), 4).alias(
            "avg_token_len"
        ),
    )


@REG.add(
    "text_quality_by_lang",
    oracle=f"""
        WITH scored AS (
            SELECT lang,
                   len({_SQL_TOKS}) AS n_tokens,
                   len(list_filter({_SQL_TOKS},
                       t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop
            FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(CAST(n_stop AS DOUBLE) / nullif(n_tokens, 0)), 4) AS avg_stopword_ratio,
               round(avg(CAST(n_tokens AS DOUBLE)), 4) AS avg_tokens
        FROM scored GROUP BY lang
    """,
    doc="Quality scoring: stopword ratio + length stats per language label — the "
    "standard cheap quality gates (length/stopword/punct ratios) before expensive "
    "model-based filtering.",
)
def text_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    scored = d.select(
        "lang", n_tokens.alias("n_tokens"), n_stop.alias("n_stop")
    )
    return scored.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.avg(F.col("n_stop").cast("double") / F.nullif(F.col("n_tokens"), F.lit(0))),
            4,
        ).alias("avg_stopword_ratio"),
        F.round(F.avg(F.col("n_tokens").cast("double")), 4).alias("avg_tokens"),
    )


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"len(list_filter({_SQL_TOKS}, t -> t IN ({words})))"


@REG.add(
    "lang_id_heuristic",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang AS labeled_lang,
                   {_lang_score_sql('en')} AS s_en,
                   {_lang_score_sql('de')} AS s_de,
                   {_lang_score_sql('es')} AS s_es,
                   {_lang_score_sql('fr')} AS s_fr
            FROM documents
        ),
        pred AS (
            SELECT labeled_lang,
                   CASE
                       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                       WHEN s_es >= s_fr THEN 'es'
                       ELSE 'fr'
                   END AS predicted_lang
            FROM scored
        )
        SELECT labeled_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM pred GROUP BY labeled_lang, predicted_lang
    """,
    doc="Heuristic language ID: marker-word scores per language, argmax with a "
    "deterministic preference order. Confusion-matrix output against the labeled lang.",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))

    def marker_hits(words: tuple[str, ...]):
        # nb: the filter lambda must be single-argument — a two-arg
        # lambda is interpreted as (element, index) by F.filter.
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scores = {lang: marker_hits(words) for lang, words in LANG_MARKERS.items()}
    predicted = (
        F.when(
            (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["fr"]),
            "en",
        )
        .when((scores["de"] >= scores["es"]) & (scores["de"] >= scores["fr"]), "de")
        .when(scores["es"] >= scores["fr"], "es")
        .otherwise("fr")
    )
    return (
        d.select(F.col("lang").alias("labeled_lang"), predicted.alias("predicted_lang"))
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation —
# the split GPT-style BPE applies before merges. Same regex both engines.
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@REG.add(
    "bpe_token_stats",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang,
                   regexp_extract_all(text, '{BPE_PATTERN}') AS pieces
            FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(pieces)) AS BIGINT) AS total_pieces,
               round(avg(CAST(len(pieces) AS DOUBLE)), 4) AS avg_pieces,
               CAST(sum(len(list_distinct(pieces))) AS BIGINT) AS total_unique_pieces
        FROM t GROUP BY lang
    """,
    doc="BPE-ish token counting: regex pre-tokenization (letter runs / digit runs / "
    "punctuation) — the piece count that drives token-budget estimates. "
    "regexp_extract_all runs JVM-side in codegen; no Python in the loop.",
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id",
        "lang",
        F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0).alias("pieces"),
    )
    return staged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("pieces")).alias("total_pieces"),
        F.round(F.avg(F.size("pieces").cast("double")), 4).alias("avg_pieces"),
        F.sum(F.size(F.array_distinct("pieces"))).alias("total_unique_pieces"),
    )


WINNOW_K = 8  # k-gram length (chars)
WINNOW_W = 4  # winnowing window (k-grams)
WINNOW_MOD = 2**31 - 1

# Session memo of the winnowed fingerprint relation (see winnow_fps_df).
_WINNOW_FPS_MEMO = register_memo("text.winnow_fps")


# Shared oracle CTEs: rolling k-gram hashes -> winnowed fingerprint set
# per document ((doc_id, fps) in CTE ``w``). Reused by the near-dup
# pairs operator in text3.py — change in ONE place only.
_SQL_WINNOW_CTES = f"""
        g AS (
            SELECT doc_id,
                   list_transform(range(1, greatest(length(text) - {WINNOW_K - 2}, 1)),
                       i -> list_reduce(
                               list_transform(range(0, {WINNOW_K}),
                                              j -> ascii(substr(text, i + j, 1))),
                               (a, c) -> (a::BIGINT * 31 + c) % {WINNOW_MOD})) AS hashes
            FROM documents
        ),
        w AS (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len(hashes) < {WINNOW_W} THEN hashes
                            ELSE list_transform(
                                range(1, len(hashes) - {WINNOW_W - 2}),
                                i -> list_min(hashes[i : i + {WINNOW_W - 1}]))
                       END) AS fps
            FROM g
        )
"""


@REG.add(
    "winnow_fingerprints",
    oracle=f"""
        WITH {_SQL_WINNOW_CTES}
        SELECT doc_id,
               CAST(len(fps) AS BIGINT) AS n_fingerprints,
               list_min(fps) AS min_fp,
               list_max(fps) AS max_fp
        FROM w
    """,
    doc="Winnowing document fingerprints (Schleimer et al.): rolling polynomial "
    "hash (base 31 mod 2^31-1) over char 8-grams, then the min hash of each "
    "4-gram window — the standard plagiarism/near-dup fingerprint set. All "
    "array ops are JVM-side; digests are staged as attributes so each k-gram "
    "hashes its own chars exactly once.",
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_fps_df(spark, sf_dir).select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fingerprints"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
    )


def winnow_fps_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fps): the winnowed fingerprint set per document — the
    Spark twin of the ``w`` CTE in ``_SQL_WINNOW_CTES`` (change both
    together or oracles diverge). Memoized per (session, sf_dir): the
    per-char rolling-hash passes are the dominant cost of BOTH
    consumers (the fingerprint summary and the shared-fingerprint
    pair join), and a production pipeline persists the fingerprint
    table once per corpus."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _WINNOW_FPS_MEMO.get(key)
    if cached is not None:
        return cached
    d = load(spark, sf_dir, "documents")
    text = F.col("text")
    # Stage char codes once (split+ascii is O(len)), MATERIALIZED:
    # Catalyst's project collapse would otherwise inline the codes
    # expression into every per-position slice of the k-gram transform,
    # re-splitting the string per k-gram — O(len^2) per document. Same
    # barrier between hashes and the window-min pass below. repartition:
    # the corpus is a single input split.
    n_slices = _shuffle_width(d.sparkSession)
    codes_df = (
        d.select(
            "doc_id",
            F.transform(F.split(text, ""), lambda c: F.ascii(c)).alias("codes"),
        )
        .repartition(n_slices)
        .localCheckpoint(eager=True)
    )
    codes = F.col("codes")
    staged = codes_df.select(
        "doc_id",
        F.when(
            F.size(codes) < WINNOW_K, F.array().cast("array<long>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(codes) - (WINNOW_K - 1)),
                lambda i: F.aggregate(
                    F.slice(codes, i, WINNOW_K),
                    F.lit(0).cast("long"),
                    lambda a, c: (a * 31 + c) % WINNOW_MOD,
                ),
            )
        ).alias("hashes"),
    ).localCheckpoint(eager=True)
    h = F.col("hashes")
    fps = F.array_distinct(
        F.when(F.size(h) < WINNOW_W, h).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(h) - (WINNOW_W - 1)),
                lambda i: F.array_min(F.slice(h, i, WINNOW_W)),
            )
        )
    )
    out = staged.select("doc_id", fps.alias("fps")).localCheckpoint(
        eager=True
    )
    _WINNOW_FPS_MEMO[key] = out
    return out


@REG.add(
    "doc_fingerprint",
    oracle=f"""
        WITH fp AS (
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct({_SQL_TOKS})), ' ')) AS fingerprint
            FROM documents
        )
        SELECT fingerprint,
               CAST(count(*) AS BIGINT) AS n_docs,
               min(doc_id) AS keep_doc_id
        FROM fp GROUP BY fingerprint
    """,
    doc="Document fingerprinting: md5 over the sorted distinct token set (bag-of-words "
    "fingerprint). Grouping by fingerprint = content-defined dedup clusters; md5 is "
    "computed JVM-side in both engines so fingerprints agree bit-for-bit.",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    fingerprint = F.md5(
        F.concat_ws(" ", F.sort_array(F.array_distinct(toks)))
    )
    return (
        d.select("doc_id", fingerprint.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )
