"""Deduplication operators: exact, MinHash, and n-gram Jaccard.

Design for 100 TB:
- Exact dedup hashes each document once (md5, JVM-side) and groups on
  the digest — the shuffle carries 16-byte keys, never document bodies.
- MinHash signatures are computed per document from word 3-gram
  shingles; near-dup candidate generation is a self-join on *band*
  values (LSH banding), so candidate pairs — not all N² pairs — reach
  the verification stage. Signature min() uses md5 digests as the hash
  family (lexicographic min of md5(shingle || seed)), which is
  engine-portable: both Spark and DuckDB agree bit-for-bit on md5 of
  the same bytes, so the whole pipeline is oracle-checkable.
- Verification computes exact shingle-set Jaccard only on candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sierradb_spark.functions.memo import register_memo
from sierradb_spark.registry import Registry, _shuffle_width, load

REG = Registry()

N_HASHES = 4  # minhash signature width (seeds 0..3)
SHINGLE_K = 3  # words per shingle


# Lazily-built constant Column expressions for with_shingles (r11):
# constructing the token/shingle trees costs dozens of py4j round-trips,
# and the streaming corpus dedup pays it once per MICRO-BATCH. The
# expressions reference input columns by name only, so one build serves
# the session (Columns need a live JVM, hence lazy not import-time).
_SHINGLE_COLS: dict = {}


def with_shingles(d: DataFrame, *keep: str) -> DataFrame:
    """Project documents → (*keep, n_toks, shingles) in two stages.

    Staged projections matter: higher-order functions run interpreted
    (no whole-stage codegen, no common-subexpression elimination), so if
    the token array stays an inline expression every element access
    inside the shingle lambda re-runs the regex split — O(n²) per
    document. Materializing ``toks`` as a projection attribute first
    makes each access an O(1) array lookup; Catalyst keeps the stage
    boundary because the alias is expensive and multiply-referenced.
    """
    c = _SHINGLE_COLS
    if not c:
        toks = F.when(
            F.length(F.trim(F.col("text"))) == 0,
            F.array().cast("array<string>"),
        ).otherwise(F.split(F.trim(F.col("text")), r"\s+"))
        t = F.col("toks")
        n = F.size(t)
        sh = F.when(n < SHINGLE_K, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(0), n - SHINGLE_K),
                lambda i: F.concat_ws(
                    " ", F.get(t, i), F.get(t, i + 1), F.get(t, i + 2)
                ),
            )
        )
        c.update(toks=toks.alias("toks"), n=n.alias("n_toks"), sh=sh.alias("shingles"))
    staged = d.select(*keep, c["toks"])
    return staged.select(*keep, c["n"], c["sh"])


def minhash_col(shingles: Column, seed: int) -> Column:
    """One minhash value: lexicographic min of md5(shingle || '#seed')."""
    return F.array_min(
        F.transform(shingles, lambda s: F.md5(F.concat(s, F.lit(f"#{seed}"))))
    )


_SQL_TOKS = (
    "CASE WHEN length(trim(text)) = 0 THEN [] "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END"
)
# DuckDB shingle list: list_transform over an index range. range() is
# empty when the doc has < K tokens.
_SQL_SHINGLES = (
    f"list_transform(range(1, greatest(len({_SQL_TOKS}) - {SHINGLE_K - 2}, 1)), "
    f"i -> concat_ws(' ', {_SQL_TOKS}[i], {_SQL_TOKS}[i+1], {_SQL_TOKS}[i+2]))"
)


def _sql_minhash(seed: int) -> str:
    return (
        f"list_min(list_transform({_SQL_SHINGLES}, s -> md5(concat(s, '#{seed}'))))"
    )


@REG.add(
    "dedup_exact_stats",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
               CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_duplicates
        FROM documents
    """,
    doc="Exact dedup summary: hash-distinct over md5 digests. The digest (16 B) is "
    "what shuffles, not the document body.",
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_duplicates"),
    )


@REG.add(
    "dedup_exact_keep_first",
    oracle="""
        SELECT md5(text) AS text_hash,
               min(doc_id) AS keep_doc_id,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM documents
        GROUP BY md5(text)
        HAVING count(*) > 1
    """,
    doc="Exact dedup, keep-first policy: groups of identical documents with the "
    "surviving doc_id. (Empty result on corpora with no exact duplicates.)",
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .where(F.col("n_copies") > 1)
    )


@REG.add(
    "minhash_signatures",
    oracle=f"""
        SELECT doc_id,
               {_sql_minhash(0)} AS sig0,
               {_sql_minhash(1)} AS sig1,
               {_sql_minhash(2)} AS sig2,
               {_sql_minhash(3)} AS sig3
        FROM documents
    """,
    headline=True,
    doc="MinHash signatures (4 hashes over word 3-gram shingles). Signature "
    "computation is embarrassingly parallel — no shuffle at all; md5-based hash "
    "family keeps it engine-portable for the oracle check.",
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_shingles(load(spark, sf_dir, "documents"), "doc_id")
    # Materialize the shingle arrays: four sig consumers would otherwise
    # each re-run the inlined tokenization (see dedup_wide._wide_bands).
    staged = (
        d.select("doc_id", "shingles")
        .repartition(
            _shuffle_width(d.sparkSession)
        )
        .localCheckpoint(eager=True)
    )
    sh = F.col("shingles")
    cols = [minhash_col(sh, i).alias(f"sig{i}") for i in range(N_HASHES)]
    return staged.select("doc_id", *cols)


@REG.add(
    "near_dup_candidate_pairs",
    oracle=f"""
        WITH sigs AS (
            SELECT doc_id,
                   concat({_sql_minhash(0)}, {_sql_minhash(1)}) AS band0,
                   concat({_sql_minhash(2)}, {_sql_minhash(3)}) AS band1
            FROM documents
            WHERE len({_SQL_TOKS}) >= {SHINGLE_K}
        ),
        bands AS (
            SELECT doc_id, band0 AS band FROM sigs
            UNION ALL
            SELECT doc_id, band1 AS band FROM sigs
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    """,
    doc="LSH banding: 2 bands x 2 hashes; documents sharing any band value become "
    "candidate near-dup pairs. The join is on band digests, so work scales with "
    "collisions, not N².",
)
def near_dup_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_shingles(load(spark, sf_dir, "documents"), "doc_id")
    sh = F.col("shingles")
    # Materialize the signatures: the bands union references this
    # relation twice and the self-join twice more, and project collapse
    # would otherwise inline the shingle construction into every minhash
    # of every copy — re-running tokenization O(consumers) times per
    # document (this query spent ~57 s at sf0.001 before the barrier).
    # repartition: the corpus is one parquet file = one input split.
    sigs = (
        d.where(F.col("n_toks") >= SHINGLE_K)
        .select(
            "doc_id",
            F.concat(minhash_col(sh, 0), minhash_col(sh, 1)).alias("band0"),
            F.concat(minhash_col(sh, 2), minhash_col(sh, 3)).alias("band1"),
        )
        .repartition(
            _shuffle_width(d.sparkSession)
        )
        .localCheckpoint(eager=True)
    )
    bands = sigs.select("doc_id", F.col("band0").alias("band")).unionAll(
        sigs.select("doc_id", F.col("band1").alias("band"))
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


SIMHASH_BITS = 16  # 4 hex digits of md5; production would use 64


@REG.add(
    "simhash_dedup_buckets",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN []
                        ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
            FROM documents
        ),
        digests AS (
            SELECT doc_id, list_transform(t, x -> md5(x)) AS d FROM toks
        ),
        bits AS (
            SELECT doc_id,
                   CAST(list_sum(list_transform(range(16),
                       b -> CASE WHEN len(list_filter(d,
                                x -> (('0x' || substr(x, 1 + b // 4, 1))::INT >> (b % 4)) & 1 = 1))
                               > len(d) - len(list_filter(d,
                                x -> (('0x' || substr(x, 1 + b // 4, 1))::INT >> (b % 4)) & 1 = 1))
                            THEN (2 ** b)::BIGINT ELSE 0 END)) AS BIGINT) AS simhash
            FROM digests
        )
        SELECT simhash,
               CAST(count(*) AS BIGINT) AS n_docs,
               min(doc_id) AS keep_doc_id
        FROM bits GROUP BY simhash
    """,
    doc="SimHash dedup: 16-bit simhash from per-token md5 nibbles (bit b set iff "
    "more tokens have bit b set than clear). Docs sharing a simhash value are "
    "near-dup bucket candidates; at 64 bits buckets are compared by Hamming "
    "distance over band rotations. Signature computation is shuffle-free; the "
    "groupBy shuffles 8-byte keys only.",
)
def simhash_dedup_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col("text")), r"\s+"))
    # Materialize md5 digests once; with 16 bit-vote consumers, project
    # collapse would otherwise inline the digest construction into each,
    # re-splitting and re-hashing every token 16x. repartition: one
    # parquet input split would serialize the vote pass on one core.
    digests = (
        d.select("doc_id", toks.alias("t"))
        .select("doc_id", F.transform(F.col("t"), lambda t: F.md5(t)).alias("d"))
        .repartition(
            _shuffle_width(d.sparkSession)
        )
        .localCheckpoint(eager=True)
    )
    def bit_set(x, b):  # noqa: E306
        return (
            F.conv(F.substring(x, 1 + b // 4, 1), 16, 10).cast("int")
            .bitwiseAND(F.lit(1 << (b % 4))) != 0
        )

    def bit_vote(b):
        n_set = F.size(F.filter(F.col("d"), lambda x: bit_set(x, b)))
        return F.when(
            n_set > F.size(F.col("d")) - n_set, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))

    simhash = bit_vote(0)
    for b in range(1, SIMHASH_BITS):
        simhash = simhash + bit_vote(b)
    return (
        digests.select("doc_id", simhash.alias("simhash"))
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


@REG.add(
    "embedding_near_dup_pairs",
    oracle="""
        WITH n AS (
            SELECT vec_id,
                   embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
            FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_dot_product(a.v, b.v) / nullif(a.nrm * b.nrm, 0), 4) AS cosine
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) / nullif(a.nrm * b.nrm, 0) >= 0.4
    """,
    doc="Embedding-cosine near-dup: all pairs above a cosine threshold. Norms are "
    "precomputed per vector (one pass) so the pair stage does one dot product per "
    "pair. Brute-force here = the exact baseline; at 100 TB the pair generation is "
    "replaced by LSH/IVF bucketing (see lsh_bucket_candidates) with this exact "
    "scorer applied per bucket.",
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The O(n^2) scored pass is shared (session memo, pipeline.py) with
    # the components/survivor chain and the bucketed-recall truth set;
    # this query is its raw form with display rounding.
    from sierradb_spark.functions.pipeline import _scored_near_dup_pairs

    return _scored_near_dup_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("vec_a"),
        F.col("doc_b").alias("vec_b"),
        F.round(F.col("cosine"), 4).alias("cosine"),
    )


@REG.add(
    "ngram_jaccard_similar_pairs",
    oracle=f"""
        WITH sh AS MATERIALIZED (
            SELECT doc_id, source, list_distinct({_SQL_SHINGLES}) AS shingle_set,
                   len(list_distinct({_SQL_SHINGLES})) AS ns
            FROM documents
            WHERE len({_SQL_TOKS}) >= {SHINGLE_K}
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE)
                     / nullif(len(a.shingle_set) + len(b.shingle_set)
                              - len(list_intersect(a.shingle_set, b.shingle_set)), 0),
                     4) AS jaccard
        FROM sh a JOIN sh b
          ON a.source = b.source AND a.doc_id < b.doc_id
         -- size-ratio prune: jac <= min(|A|,|B|)/max(|A|,|B|), so this
         -- drops only pairs the >= 0.2 filter would drop anyway —
         -- BEFORE paying for list_intersect.
         AND CAST(least(a.ns, b.ns) AS DOUBLE) / greatest(a.ns, b.ns) >= 0.2
        WHERE CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE)
              / nullif(len(a.shingle_set) + len(b.shingle_set)
                       - len(list_intersect(a.shingle_set, b.shingle_set)), 0) >= 0.2
    """,
    doc="Exact n-gram Jaccard over candidate pairs blocked by source (at scale the "
    "blocking key is the LSH band from near_dup_candidate_pairs; `source` keeps the "
    "oracle cheap). array_intersect/size compute |A∩B| JVM-side.",
)
def ngram_jaccard_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_pairs(spark, sf_dir, 0.2)


# Session-scoped memo of the per-document shingle-set relation: both
# exact-jaccard audits (ngram_jaccard_similar_pairs and the 7-threshold
# sensitivity sweep) and any future exact baseline start from the SAME
# tokenize + array_distinct pass over the immutable corpus; the memo
# pins it once per (session, sf_dir). Same pattern as dedup_wide's
# _BANDS_MEMO (the r7 slow-tail profile, docs/SCALE.md).
_SHINGLE_SETS_MEMO = register_memo("dedup.shingle_sets")


def _shingle_sets_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, shingle_set, ns), materialized behind an eager
    checkpoint: both self-join sides and the post-join Jaccard
    expressions reference this relation, and project collapse would
    otherwise rebuild each document's shingle set per candidate PAIR
    instead of per document (O(pairs x tokenize) — 39 s at sf0.1
    before the barrier)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _SHINGLE_SETS_MEMO.get(key)
    if df is not None:
        return df
    d = with_shingles(load(spark, sf_dir, "documents"), "doc_id", "source")
    df = (
        d.where(F.col("n_toks") >= SHINGLE_K)
        .select(
            "doc_id",
            "source",
            F.array_distinct(F.col("shingles")).alias("shingle_set"),
        )
        .withColumn("ns", F.size("shingle_set"))
        .repartition(_shuffle_width(d.sparkSession))
        .localCheckpoint(eager=True)
    )
    _SHINGLE_SETS_MEMO[key] = df
    return df


# The exact-jaccard PAIR relation is itself memoized: the self-join +
# array_intersect over every size-ratio-eligible pair is the dominant
# cost of both exact-jaccard audits (~3 s warm at sf0.1 per query even
# with the shingle sets pinned), while its RESULT — pairs at or above
# the loosest registry threshold — is a few hundred rows. The base
# keeps the UNROUNDED jaccard so every consumer's filter (raw >= 0.2
# for the similar-pairs audit, rounded >= 0.2 for the sensitivity
# sweep) derives exactly. 0.19995 is the 4-dp round-up boundary of the
# loosest threshold (round(x,4) >= 0.2 <=> x >= 0.19995), so nothing a
# consumer could keep is pre-dropped. At 100 TB this memo is the
# engine-session analogue of the near-dup pair table a production
# pipeline persists (streaming/corpus.py posture).
_JACCARD_PAIRS_MEMO = register_memo("dedup.jaccard_pairs")
_JACCARD_BASE_MIN = 0.19995


def _jaccard_pairs_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jac_raw): source-blocked pairs with RAW jaccard
    >= ``_JACCARD_BASE_MIN``, materialized once per (session, sf_dir)
    behind an eager checkpoint."""
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _JACCARD_PAIRS_MEMO.get(key)
    if df is not None:
        return df
    df = _build_jaccard_pairs_base(spark, sf_dir).localCheckpoint(
        eager=True
    )
    _JACCARD_PAIRS_MEMO[key] = df
    return df


def _build_jaccard_pairs_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The base's plan, pre-checkpoint — split out so the plan-shape
    test can assert the pair generation is a shingle-postings EQUI-join
    (the memoized relation's own plan is just a checkpoint scan).

    Shape (r11): inverted-index pair generation. The old plan was a
    source-blocked BroadcastHashJoin whose non-equi condition evaluated
    ``array_intersect`` for EVERY same-source doc pair — Catalyst fused
    the jac filter into the join condition AHEAD of the cheap size-ratio
    prune, so all ~(docs/source)²/2 pairs paid the intersect: O(pairs ×
    set size) with a 4-6 s quiet-host build at sf0.1 and a quadratic
    term at scale. Instead, explode each doc's (distinct) shingle set
    into postings and equi-join postings on the shingle itself: only
    pairs that actually SHARE a shingle are generated, ``count(*)`` per
    pair IS ``|A∩B|`` (sets, so each shared shingle contributes exactly
    one match), and the union derives from the carried set sizes.
    Identical results by construction — every integer is exact, the
    final division is the same two ints — while the cost is
    O(Σ_shingle df²) (co-occurrence volume), not O(pairs): a shingle
    appearing in one doc generates zero work. At 100 TB this is the
    standard sparse-similarity plan; a pathological hot shingle (df in
    the millions) would need banding first, which the production-width
    MinHash twins (dedup_wide) already are."""
    sh = _shingle_sets_pinned(spark, sf_dir)
    posts = sh.select(
        "doc_id", "source", "ns", F.explode("shingle_set").alias("shingle")
    )
    a, b = posts.alias("a"), posts.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size-ratio prune: jac <= min/max sizes, so this drops only
            # pairs the jac filter below drops anyway — BEFORE the
            # match rows reach the pair aggregate.
            & (
                F.least(F.col("a.ns"), F.col("b.ns")).cast("double")
                / F.greatest(F.col("a.ns"), F.col("b.ns"))
                >= _JACCARD_BASE_MIN
            ),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.ns").alias("na"),
            F.col("b.ns").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter").cast("double") / F.nullif(
        F.col("na") + F.col("nb") - F.col("inter"), F.lit(0)
    )
    return pairs.where(jac >= _JACCARD_BASE_MIN).select(
        "doc_a", "doc_b", jac.alias("jac_raw")
    )


def _jaccard_pairs(
    spark: SparkSession, sf_dir: str, min_jac: float,
    ratio_bound: float | None = None,
) -> DataFrame:
    """Source-blocked (doc_a, doc_b, jaccard) pairs with jaccard >=
    ``min_jac``; jaccard is rounded to 4 decimals (engine-stable).

    ``ratio_bound`` prunes pairs by shingle-set SIZE ratio before the
    intersection is computed: jac(A,B) <= min(|A|,|B|)/max(|A|,|B|), so
    a bound implied by the caller's effective threshold drops only
    pairs that threshold would drop anyway — result-identical, but the
    (dominant) array_intersect cost is skipped for hopeless pairs.
    Defaults to ``min_jac`` when positive.

    When the caller's effective bound is at or above the memoized
    base's floor (every registry consumer today), the pairs are a
    cheap filter over :func:`_jaccard_pairs_base` instead of a fresh
    self-join: raw jac <= size ratio, so {raw >= t} is identical with
    or without a ratio prune at t >= the base floor."""
    if ratio_bound is None and min_jac > 0:
        ratio_bound = min_jac
    # Gate on min_jac alone, NOT max(min_jac, ratio_bound): the base
    # relation applies a RAW-jaccard floor, while a ratio prune only
    # bounds jaccard from above — a caller with min_jac below the floor
    # but ratio_bound above it is documented to receive ratio-pruned
    # pairs whose raw jaccard is below the floor, which the base has
    # already dropped. (Both registry consumers pass min_jac >= 0.2, so
    # this is contract hygiene, not a behavior change for them.)
    if min_jac >= _JACCARD_BASE_MIN:
        base = _jaccard_pairs_base(spark, sf_dir)
        return base.where(F.col("jac_raw") >= min_jac).select(
            "doc_a",
            "doc_b",
            F.round(F.col("jac_raw"), 4).alias("jaccard"),
        )
    sh = _shingle_sets_pinned(spark, sf_dir)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingle_set"), F.col("b.shingle_set")))
    union = (
        F.size(F.col("a.shingle_set")) + F.size(F.col("b.shingle_set")) - inter
    )
    jac = inter.cast("double") / F.nullif(union, F.lit(0))
    cond = (F.col("a.source") == F.col("b.source")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    if ratio_bound is not None:
        cond = cond & (
            F.least(F.col("a.ns"), F.col("b.ns")).cast("double")
            / F.greatest(F.col("a.ns"), F.col("b.ns"))
            >= ratio_bound
        )
    return (
        a.join(b, cond)
        .where(jac >= min_jac)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


# Jaccard thresholds swept by dedup_threshold_sensitivity.
SENSITIVITY_THRESHOLDS = (0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)


@REG.add(
    "dedup_threshold_sensitivity",
    oracle=f"""
        WITH sh AS MATERIALIZED (
            SELECT doc_id, source, list_distinct({_SQL_SHINGLES}) AS shingle_set,
                   len(list_distinct({_SQL_SHINGLES})) AS ns
            FROM documents
            WHERE len({_SQL_TOKS}) >= {SHINGLE_K}
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE)
                         / nullif(len(a.shingle_set) + len(b.shingle_set)
                                  - len(list_intersect(a.shingle_set, b.shingle_set)), 0),
                         4) AS jaccard
            FROM sh a JOIN sh b
              ON a.source = b.source AND a.doc_id < b.doc_id
             -- size-ratio prune at the rounded-boundary-safe bound:
             -- counted iff round(jac,4) >= 0.2 <=> jac >= 0.19995, and
             -- jac <= min/max sizes — identical results, no intersect
             -- cost for hopeless pairs.
             AND CAST(least(a.ns, b.ns) AS DOUBLE) / greatest(a.ns, b.ns)
                 >= 0.19995
        ),
        thr AS (SELECT unnest([{", ".join(str(t) for t in SENSITIVITY_THRESHOLDS)}]) AS threshold),
        hits AS (
            SELECT t.threshold, p.doc_a, p.doc_b
            FROM pairs p JOIN thr t ON p.jaccard >= t.threshold
        ),
        docs AS (
            SELECT threshold, unnest([doc_a, doc_b]) AS doc_id FROM hits
        )
        SELECT h.threshold AS threshold,
               CAST(h.n_pairs AS BIGINT) AS n_pairs,
               CAST(d.n_docs AS BIGINT) AS n_docs
        FROM (SELECT threshold, count(*) AS n_pairs FROM hits GROUP BY threshold) h
        JOIN (SELECT threshold, count(DISTINCT doc_id) AS n_docs
              FROM docs GROUP BY threshold) d USING (threshold)
    """,
    doc="Dedup-threshold sensitivity sweep: candidate-pair count and "
    f"flagged-document count at Jaccard thresholds {list(SENSITIVITY_THRESHOLDS)} "
    "— the curve you read before committing a near-dup threshold at "
    "scale (a cliff between two thresholds means the corpus has a big "
    "template family right at that similarity). Pairs are computed ONCE "
    "(source-blocked equi-join, the same bounded shape as "
    "ngram_jaccard_similar_pairs) and the 7-row threshold table is "
    "broadcast across them; all threshold comparisons — including the "
    "loosest — use the 4-decimal ROUNDED score so both engines agree "
    "at the boundaries.",
)
def dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # min_jac=_JACCARD_BASE_MIN, the 4-dp round-up boundary of the
    # loosest threshold: the oracle's pairs CTE carries no raw-score
    # filter, but its hits CTE counts a pair iff ROUNDED jaccard >= 0.2
    # <=> raw >= 0.19995 — so asking for exactly that raw floor keeps
    # the result identical AND satisfies the fast-path gate (min_jac >=
    # the memoized base's floor; r10 keyed the gate on min_jac alone
    # for contract hygiene, and a 0.0 request here fell back to the
    # fresh self-join every call — 2.5-3 s warm vs 0.3 s off the memo).
    # The redundant rounded-score where below is kept as the literal
    # oracle comparison (free — it prunes nothing the floor didn't).
    # The expensive intersect self-join is materialized by the
    # dedup.jaccard_pairs session memo (the barrier must sit BEFORE
    # the 7-way threshold explode: jaccard is an expression, and
    # project collapse re-evaluates it through every downstream
    # explode row — measured r9: an un-barriered single-pass plan
    # re-ran the intersect per (pair x threshold x expand), 39 s cold
    # vs 6 s). Here only cheap scalar ops run on top of the memo.
    pairs = _jaccard_pairs(
        spark, sf_dir, _JACCARD_BASE_MIN, ratio_bound=0.19995
    ).where(F.col("jaccard") >= min(SENSITIVITY_THRESHOLDS))
    thr = F.explode(
        F.array(*[F.lit(float(t)) for t in SENSITIVITY_THRESHOLDS])
    ).alias("threshold")
    # ONE aggregation pass off the checkpoint: after the doc explode
    # every surviving pair contributes exactly two rows to its
    # threshold, so n_pairs is count(*)/2 in the same groupBy as the
    # distinct-doc count — no second aggregate and no join (the old
    # shape checkpointed 7x the rows, aggregated twice, and joined).
    docs = (
        pairs.select("doc_a", "doc_b", "jaccard", thr)
        .where(F.col("jaccard") >= F.col("threshold"))
        .select(
            "threshold",
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id"),
        )
    )
    return docs.groupBy("threshold").agg(
        (F.count("*") / 2).cast("long").alias("n_pairs"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
